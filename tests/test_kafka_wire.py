"""Brokerless produce/consume NETWORK-path smoke (round-10, r9 VERDICT
task 8): the docker-gated e2e (`test_kafka_e2e.py`) skips in this
sandbox, so these tests execute the Kafka wire protocol over a REAL
localhost TCP socket against the in-process v0 broker — request
framing, MessageSet v0 encode/decode with CRC validation, produce
offset assignment, fetch replay, metadata, and the Confluent-wire Avro
payload bytes the Spark operators move (A1/A2's value format) surviving
the socket roundtrip byte-for-byte.

The golden-bytes test pins the MessageSet layout to a hex literal
hand-assembled from the published protocol guide (offset:int64,
size:int32, crc:int32 over magic..value, magic=0, attributes=0,
key/value as int32-length bytes), so client and broker sharing the
module's encoders cannot make the roundtrip circular.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from pipegen_spark.sources.kafka_wire import (
    ERR_ILLEGAL_GENERATION,
    ERR_NONE,
    ERR_UNKNOWN_MEMBER_ID,
    ERR_UNKNOWN_TOPIC_OR_PARTITION,
    FakeKafkaBroker,
    KafkaWireClient,
    crc32c,
    decode_message_set,
    decode_record_batches,
    encode_message_set,
    encode_record_batch,
)

# MessageSet v0 for [(b"k", b"v")] at offset 0, assembled by hand from
# the protocol guide (crc32 of 00 00 | 00000001 6b | 00000001 76).
GOLDEN_KV = bytes.fromhex(
    "0000000000000000000000101fecd70a0000000000016b0000000176"
)


def test_message_set_golden_bytes():
    assert encode_message_set([(b"k", b"v")]) == GOLDEN_KV
    assert decode_message_set(GOLDEN_KV) == [(0, b"k", b"v")]


def test_message_set_null_key_and_crc_check():
    mset = encode_message_set([(None, b"payload")])
    assert decode_message_set(mset) == [(0, None, b"payload")]
    # corrupt one value byte -> CRC must catch it loudly
    bad = bytearray(mset)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_message_set(bytes(bad))
    # a partial trailing message (legal in fetch responses) is dropped
    two = encode_message_set([(b"a", b"1"), (b"b", b"2")])
    assert len(decode_message_set(two[:-3])) == 1


# --- RecordBatch v2 (magic 2) -------------------------------------------------

# One-record batch [(b"k", b"v")], base offset/timestamp 0, producer
# id/epoch/sequence -1, partitionLeaderEpoch -1: hand-assembled from the
# public protocol guide's "Record Batch" layout with an INDEPENDENT
# bit-serial CRC32C (checked against the published Castagnoli test
# vector crc32c("123456789") == 0xE3069283) — so the module's
# table-driven CRC and varint encoders are pinned, not self-certified.
GOLDEN_BATCH_KV = bytes.fromhex(
    "0000000000000000"  # baseOffset=0
    "0000003a"  # batchLength=58 (bytes after this field)
    "ffffffff"  # partitionLeaderEpoch=-1
    "02"  # magic=2
    "fe917cab"  # crc32c over attributes..end
    "0000"  # attributes=0 (no compression)
    "00000000"  # lastOffsetDelta=0
    "0000000000000000"  # baseTimestamp=0
    "0000000000000000"  # maxTimestamp=0
    "ffffffffffffffff"  # producerId=-1
    "ffff"  # producerEpoch=-1
    "ffffffff"  # baseSequence=-1
    "00000001"  # recordCount=1
    "10"  # record length varint zigzag(8)
    "00"  # record attributes
    "00"  # timestampDelta varint(0)
    "00"  # offsetDelta varint(0)
    "026b"  # keyLen varint zigzag(1), b"k"
    "0276"  # valueLen varint zigzag(1), b"v"
    "00"  # headerCount varint(0)
)


def test_crc32c_published_vector():
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def _crc32c_prefixes(data: bytes) -> list[int]:
    """Reference: the per-byte table CRC32C (table built here from the
    polynomial), finalised after every prefix of `data`."""
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    crc, out = 0xFFFFFFFF, [0]
    for b in data:
        crc = (crc >> 8) ^ table[(crc ^ b) & 0xFF]
        out.append(crc ^ 0xFFFFFFFF)
    return out


def test_crc32c_blocks_match_per_byte_reference():
    """Every length 0..4097: tail only, exact 64-byte blocks, blocks
    plus a tail; then a buffer longer than one numpy chunk of blocks."""
    import random

    data = random.Random(11).randbytes(4097)
    want = _crc32c_prefixes(data)
    for n in range(len(data) + 1):
        assert crc32c(data[:n]) == want[n], n
    big = random.Random(12).randbytes(64 * 8192 + 65)
    assert crc32c(big) == _crc32c_prefixes(big)[-1]


def test_record_batch_golden_bytes():
    assert encode_record_batch([(b"k", b"v")]) == GOLDEN_BATCH_KV
    assert decode_record_batches(GOLDEN_BATCH_KV) == [
        (0, 0, b"k", b"v", ())
    ]


def test_record_batch_timestamps_headers_nulls():
    recs = [
        (b"k0", b"v0", 1_700_000_000_000, (("trace", b"abc"),)),
        (None, b"v1", 1_700_000_000_123, ()),
        (b"k2", None, 1_700_000_000_456, (("h1", None), ("h2", b""))),
    ]
    enc = encode_record_batch(
        recs, base_offset=40, base_timestamp=1_700_000_000_000
    )
    out = decode_record_batches(enc)
    assert out == [
        (40 + i, ts, k, v, hs) for i, (k, v, ts, hs) in enumerate(recs)
    ]
    # corrupt one payload byte -> batch CRC32C must catch it loudly
    bad = bytearray(enc)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(bad))
    # empty batches are a protocol violation, not a silent no-op
    with pytest.raises(ValueError, match="at least one"):
        encode_record_batch([])


def test_record_batch_gzip_compression():
    """Real brokers usually serve COMPRESSED batches (attributes bits
    0-2). gzip (codec 1) roundtrips through the pure-stdlib path; as
    of r12 snappy/lz4/zstd roundtrip too (their own suites), so the
    remaining loud boundary is the protocol's RESERVED codec values
    (5-7), which must raise instead of handing the varint reader
    compressed bytes."""
    from pipegen_spark.sources.kafka_wire import COMPRESSION_GZIP

    recs = [
        (b"k0", b"a" * 500, 10, (("h", b"x"),)),
        (None, b"b" * 500, 20, ()),
    ]
    gz = encode_record_batch(
        recs, base_offset=5, base_timestamp=10, compression=COMPRESSION_GZIP
    )
    plain = encode_record_batch(recs, base_offset=5, base_timestamp=10)
    assert len(gz) < len(plain)  # repetitive payload actually shrank
    assert decode_record_batches(gz) == decode_record_batches(plain)
    # corruption inside the compressed section: still loud ValueError
    bad = bytearray(gz)
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError):
        decode_record_batches(bytes(bad))
    # reserved codec values are named loudly, both encode- and
    # decode-side (forge codec 5 with a VALID CRC so the codec check,
    # not the checksum, is what fires)
    with pytest.raises(ValueError, match="unsupported compression"):
        encode_record_batch(recs, compression=5)
    forged = bytearray(plain)
    # attributes int16 sits right after pLE(4)+magic(1)+crc(4) in the
    # batchLength-covered section -> absolute offset 8+4+4+1+4 = 21
    forged[22] = 5  # reserved
    import struct as _s

    crc_payload = bytes(forged[21:])
    forged[17:21] = _s.pack(
        ">I",
        __import__(
            "pipegen_spark.sources.kafka_wire", fromlist=["crc32c"]
        ).crc32c(crc_payload),
    )
    with pytest.raises(ValueError, match="unsupported compression"):
        decode_record_batches(bytes(forged))


def test_produce_fetch_v2_gzip_over_socket():
    from pipegen_spark.sources.kafka_wire import COMPRESSION_GZIP

    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce_v2(
                "gz",
                0,
                [(b"k", b"v" * 300, 7)],
                base_timestamp=7,
                compression=COMPRESSION_GZIP,
            )
            assert (err, base) == (ERR_NONE, 0)
            err, hw, recs = c.fetch_v2("gz", 0, 0)
            assert recs == [(0, 7, b"k", b"v" * 300, ())]
        finally:
            c.close()


@pytest.mark.parametrize("codec", [2, 3, 4])  # snappy / lz4 / zstd
def test_produce_fetch_v2_all_codecs_over_socket(codec):
    """r12: every from-scratch codec carries batches over the REAL
    socket path — producer compresses, broker stores the batch bytes,
    consumer decompresses on fetch."""
    recs_in = [
        (b"k%d" % i, b"payload %d " % i * 20, 100 + i, (("h", b"x"),))
        for i in range(10)
    ]
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce_v2(
                "t", 0, recs_in, base_timestamp=100, compression=codec
            )
            assert (err, base) == (ERR_NONE, 0)
            err, hw, recs = c.fetch_v2("t", 0, 0)
            assert err == ERR_NONE and hw == 10
            assert recs == [
                (i, ts, k, v, hs)
                for i, (k, v, ts, hs) in enumerate(recs_in)
            ]
        finally:
            c.close()


def test_record_batch_partial_tail_dropped():
    """A trailing partial batch (legal in Fetch v4 responses) is
    dropped; complete leading batches still decode."""
    b1 = encode_record_batch([(b"a", b"1")], base_offset=0)
    b2 = encode_record_batch([(b"b", b"2")], base_offset=1)
    assert decode_record_batches(b1 + b2[:-5]) == [(0, 0, b"a", b"1", ())]
    assert decode_record_batches(b1[:11]) == []


def test_produce_fetch_v2_roundtrip_over_socket():
    """The modern network path: Produce v3 + Fetch v4 moving magic-2
    batches with timestamps and headers over a real socket, plus
    cross-format interop — v0-produced records are served to a v2
    fetch (the broker re-frames its log in the requested format,
    exactly what a real broker's down/up-conversion does)."""
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce_v2(
                "modern",
                0,
                [
                    (b"k0", b"v0", 100, (("src", b"unit"),)),
                    (None, b"v1", 250),
                ],
                base_timestamp=100,
            )
            assert (err, base) == (ERR_NONE, 0)
            err, base = c.produce_v2(
                "modern", 0, [(b"k2", b"v2", 999)], base_timestamp=999
            )
            assert (err, base) == (ERR_NONE, 2)

            err, hw, recs = c.fetch_v2("modern", 0, 0)
            assert err == ERR_NONE and hw == 3
            assert recs == [
                (0, 100, b"k0", b"v0", (("src", b"unit"),)),
                (1, 250, None, b"v1", ()),
                (2, 999, b"k2", b"v2", ()),
            ]
            err, hw, recs = c.fetch_v2("modern", 0, 2)
            assert recs == [(2, 999, b"k2", b"v2", ())]

            # interop: v0 produce -> v2 fetch (ts -1, no headers)
            err, base = c.produce("legacy", 0, [(b"a", b"1")])
            assert err == ERR_NONE
            err, hw, recs = c.fetch_v2("legacy", 0, 0)
            assert recs == [(0, -1, b"a", b"1", ())]
            # and v2 produce -> v0 fetch (timestamps dropped by format)
            err, hw, old = c.fetch("modern", 0, 0)
            assert [(o, k, v) for o, k, v in old] == [
                (0, b"k0", b"v0"),
                (1, None, b"v1"),
                (2, b"k2", b"v2"),
            ]

            err, hw, recs = c.fetch_v2("nope", 0, 0)
            assert err == ERR_UNKNOWN_TOPIC_OR_PARTITION
            assert recs == []
        finally:
            c.close()


def test_produce_fetch_roundtrip_over_socket():
    """The executed network path: produce two batches, fetch from 0 and
    from a mid-offset, verify assigned offsets and bytes."""
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce(
                "events", 0, [(b"k0", b"v0"), (None, b"v1")]
            )
            assert (err, base) == (ERR_NONE, 0)
            err, base = c.produce("events", 0, [(b"k2", b"v2")])
            assert (err, base) == (ERR_NONE, 2)

            err, hw, recs = c.fetch("events", 0, 0)
            assert err == ERR_NONE and hw == 3
            assert recs == [
                (0, b"k0", b"v0"),
                (1, None, b"v1"),
                (2, b"k2", b"v2"),
            ]
            err, hw, recs = c.fetch("events", 0, 2)
            assert recs == [(2, b"k2", b"v2")]

            meta = c.metadata(["events"])
            assert meta["brokers"][0][2] == port
            t = meta["topics"]["events"]
            assert t["error"] == ERR_NONE
            assert t["partitions"][0]["partition"] == 0
        finally:
            c.close()


@given(
    sizes=hst.lists(
        hst.integers(min_value=0, max_value=400), min_size=1, max_size=12
    ),
    max_bytes=hst.integers(min_value=1, max_value=256),
)
@settings(max_examples=20, deadline=None)
def test_small_max_bytes_fetch_loop_still_drains(sizes, max_bytes):
    """KIP-74 progress guarantee on BOTH fetch formats: when the log
    tail exceeds max_bytes — including single records larger than the
    whole cap — every fetch returns at least one complete batch/message
    and a fetch loop drains the log instead of stalling on a partial
    frame the decoder silently drops."""
    values = [bytes([i % 251]) * n for i, n in enumerate(sizes)]
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            c.produce_v2(
                "caps", 0, [(None, v, 7, ()) for v in values],
                base_timestamp=7,
            )
            for fetch in (
                lambda off: c.fetch_v2("caps", 0, off, max_bytes=max_bytes),
                lambda off: c.fetch("caps", 0, off, max_bytes=max_bytes),
            ):
                got, offset, rounds = [], 0, 0
                while offset < len(values):
                    rounds += 1
                    assert rounds <= len(values) + 1, "fetch loop stalled"
                    _err, _hw, recs = fetch(offset)
                    assert recs, "empty response mid-log (stall)"
                    got.extend(r[-2] if len(r) == 5 else r[2] for r in recs)
                    offset = recs[-1][0] + 1
                assert got == values
        finally:
            c.close()


# --- consumer-group / offset protocol (r13) -----------------------------------------


def _raw_call(host: str, port: int, payload: bytes) -> bytes:
    """Send one hand-assembled request frame, return the raw response
    body (after the 4-byte size prefix) — pins the broker's bytes
    independently of the client's encoders."""
    import socket as _socket

    with _socket.create_connection((host, port), timeout=10) as s:
        s.sendall(struct.pack(">i", len(payload)) + payload)
        size = struct.unpack(">i", s.recv(4, _socket.MSG_WAITALL))[0]
        return s.recv(size, _socket.MSG_WAITALL)


def _req_header(api_key: int, api_version: int, corr: int) -> bytes:
    cid = b"gold"
    return struct.pack(">hhih", api_key, api_version, corr, len(cid)) + cid


def test_offset_commit_fetch_golden_bytes():
    """OffsetCommit v2 + OffsetFetch v2, request AND response bytes
    hand-assembled from the public protocol guide (group coordination
    section) — same independence standard as the Produce/Fetch goldens."""
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            c.produce("t1", 0, [(b"k", b"v")] * 3)
        finally:
            c.close()
        # OffsetCommit v2: group "g", generation -1, member "",
        # retention -1, [("t1", [(0, offset=2, metadata="m")])]
        commit_req = (
            _req_header(8, 2, 7)
            + b"\x00\x01g"              # group_id
            + b"\xff\xff\xff\xff"        # generation_id -1
            + b"\x00\x00"                # member_id ""
            + b"\xff" * 8                # retention_time -1
            + b"\x00\x00\x00\x01"        # 1 topic
            + b"\x00\x02t1"
            + b"\x00\x00\x00\x01"        # 1 partition
            + b"\x00\x00\x00\x00"        # partition 0
            + struct.pack(">q", 2)       # offset 2
            + b"\x00\x01m"               # metadata "m"
        )
        resp = _raw_call(host, port, commit_req)
        assert resp == (
            struct.pack(">i", 7)         # correlation id
            + b"\x00\x00\x00\x01"        # 1 topic
            + b"\x00\x02t1"
            + b"\x00\x00\x00\x01"        # 1 partition
            + b"\x00\x00\x00\x00"        # partition 0
            + b"\x00\x00"                # error NONE
        )
        # OffsetFetch v2 for the same group/topic/partition
        fetch_req = (
            _req_header(9, 2, 8)
            + b"\x00\x01g"
            + b"\x00\x00\x00\x01"
            + b"\x00\x02t1"
            + b"\x00\x00\x00\x01"
            + b"\x00\x00\x00\x00"
        )
        resp = _raw_call(host, port, fetch_req)
        assert resp == (
            struct.pack(">i", 8)
            + b"\x00\x00\x00\x01"
            + b"\x00\x02t1"
            + b"\x00\x00\x00\x01"
            + b"\x00\x00\x00\x00"        # partition 0
            + struct.pack(">q", 2)       # committed offset 2
            + b"\x00\x01m"               # metadata "m"
            + b"\x00\x00"                # partition error NONE
            + b"\x00\x00"                # v2 top-level error NONE
        )


def test_list_offsets_golden_bytes():
    """ListOffsets v0: LATEST yields [log_end], EARLIEST yields [0]."""
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            c.produce("t2", 0, [(None, b"x")] * 5)
        finally:
            c.close()
        req = (
            _req_header(2, 0, 3)
            + b"\xff\xff\xff\xff"        # replica_id -1
            + b"\x00\x00\x00\x01"
            + b"\x00\x02t2"
            + b"\x00\x00\x00\x01"
            + b"\x00\x00\x00\x00"        # partition 0
            + struct.pack(">q", -1)      # TS_LATEST
            + b"\x00\x00\x00\x01"        # max_num_offsets 1
        )
        resp = _raw_call(host, port, req)
        assert resp == (
            struct.pack(">i", 3)
            + b"\x00\x00\x00\x01"
            + b"\x00\x02t2"
            + b"\x00\x00\x00\x01"
            + b"\x00\x00\x00\x00"        # partition 0
            + b"\x00\x00"                # error NONE
            + b"\x00\x00\x00\x01"        # 1 offset
            + struct.pack(">q", 5)       # log end = 5
        )


def test_find_coordinator_points_at_sole_broker():
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            for v in (0, 1):
                err, node, h, p = c.find_coordinator("grp", api_version=v)
                assert (err, node, h, p) == (ERR_NONE, 0, host, port)
        finally:
            c.close()


def test_consumer_group_lag_over_socket():
    """The B19 lag path end-to-end: commit offsets over the wire, read
    lag = log_end - committed, and drive the reference's fallback
    monitor decision tree (alternative_monitor.go:77-107) on it."""
    from pipegen_spark.monitor.metrics import check_processing_activity

    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            c.produce_v2(
                "out", 0, [(None, bytes([i]), 10 + i, ()) for i in range(5)]
            )
            # fresh group: nothing committed -> lag is the full log
            assert c.consumer_group_lag("g", "out") == {0: 5}
            # commit against a missing topic -> per-partition error
            errs = c.offset_commit("g", {("nope", 0): 1})
            assert errs[("nope", 0)] == ERR_UNKNOWN_TOPIC_OR_PARTITION
            # partial consumption
            assert c.offset_commit("g", {("out", 0): 2}) == {
                ("out", 0): ERR_NONE
            }
            assert c.consumer_group_lag("g", "out") == {0: 3}
            act = check_processing_activity(host, port, ["g"], "out")
            assert not_detected_via_lag(act) and act["consumer_group_lag"] == 3
            assert act["monitoring_method"] == "Output Topic Growth"
            assert act["output_topic_records"] == 5
            # all consumed -> lag 0 -> approach 1 fires
            c.offset_commit("g", {("out", 0): 5}, api_version=1)
            assert c.consumer_group_lag("g", "out") == {0: 0}
            act = check_processing_activity(host, port, ["g"], "out")
            assert act["processing_detected"]
            assert act["monitoring_method"] == "Consumer Group Lag"
            assert act["consumer_group_lag"] == 0
            # v2 fetch-all (null topics array) sees the group's offsets
            top_err, all_offsets = c.offset_fetch("g", None)
            assert top_err == ERR_NONE
            assert all_offsets[("out", 0)][0] == 5
            # uncommitted partition reads back as -1 per the protocol
            _, got = c.offset_fetch("g", [("out", 1)])
            assert got[("out", 1)][0] == -1
        finally:
            c.close()


def not_detected_via_lag(act: dict) -> bool:
    return act["processing_detected"] and act["monitoring_method"] != (
        "Consumer Group Lag"
    )


def test_fetch_unknown_topic_reports_error_code():
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, hw, recs = c.fetch("nope", 0, 0)
            assert err == ERR_UNKNOWN_TOPIC_OR_PARTITION
            assert recs == []
            meta = c.metadata(["nope"])
            assert (
                meta["topics"]["nope"]["error"]
                == ERR_UNKNOWN_TOPIC_OR_PARTITION
            )
        finally:
            c.close()


def test_confluent_avro_payload_survives_the_wire():
    """A1/A2's actual value bytes: 0x00 magic + schema id header + Avro
    body (schema/avro_codec) produced through the socket and fetched
    back byte-for-byte, then decoded through the same codec."""
    from pipegen_spark.schema.avro_codec import AvroCodec
    from pipegen_spark.streaming.wire import wire_header

    schema = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": "string"},
        ],
    }
    codec = AvroCodec(schema)
    rows = [{"id": 7, "kind": "click"}, {"id": 8, "kind": "view"}]
    payloads = [wire_header(42) + codec.encode(r) for r in rows]

    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce(
                "wire", 3, [(None, p) for p in payloads]
            )
            assert (err, base) == (ERR_NONE, 0)
            err, hw, recs = c.fetch("wire", 3, 0)
        finally:
            c.close()
    assert [v for _, _, v in recs] == payloads
    for (_, _, v), row in zip(recs, rows):
        assert v[0] == 0x00
        assert struct.unpack(">I", v[1:5])[0] == 42
        assert codec.decode(v[5:]) == row


def test_concurrent_producers_assign_disjoint_offsets():
    """Offset assignment under concurrency: the broker's log lock must
    hand out disjoint contiguous ranges."""
    import threading

    with FakeKafkaBroker() as (host, port):
        bases = []
        lock = threading.Lock()

        def work(i: int) -> None:
            c = KafkaWireClient(host, port, client_id=f"p{i}")
            try:
                _, base = c.produce(
                    "t", 0, [(None, f"m{i}-{j}".encode()) for j in range(5)]
                )
                with lock:
                    bases.append(base)
            finally:
                c.close()

        threads = [
            threading.Thread(target=work, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sorted(bases) == [i * 5 for i in range(8)]
        c = KafkaWireClient(host, port)
        try:
            _, hw, recs = c.fetch("t", 0, 0)
        finally:
            c.close()
        assert hw == 40 and len(recs) == 40
        assert [o for o, _, _ in recs] == list(range(40))


# --- property tests (hypothesis) --------------------------------------------

_record = hst.tuples(
    hst.one_of(hst.none(), hst.binary(max_size=40)),
    hst.one_of(hst.none(), hst.binary(max_size=200)),
)


@given(hst.lists(_record, max_size=20), hst.integers(0, 1 << 40))
@settings(max_examples=150)
def test_message_set_roundtrip_property(recs, base):
    """decode(encode(recs, base)) reproduces every record with
    contiguous offsets from base."""
    out = decode_message_set(encode_message_set(recs, base_offset=base))
    assert out == [(base + i, k, v) for i, (k, v) in enumerate(recs)]


@given(hst.lists(_record, min_size=1, max_size=8), hst.data())
@settings(max_examples=150)
def test_message_set_prefix_property(recs, data):
    """Any PREFIX of a valid MessageSet decodes to a prefix of the
    records (Kafka brokers legally return partial trailing messages in
    Fetch responses — consumers must handle every cut point)."""
    full = encode_message_set(recs)
    cut = data.draw(hst.integers(0, len(full)))
    out = decode_message_set(full[:cut])
    assert out == [(i, k, v) for i, (k, v) in enumerate(recs)][: len(out)]


_header = hst.tuples(
    hst.text(max_size=10),
    hst.one_of(hst.none(), hst.binary(max_size=20)),
)
_record_v2 = hst.tuples(
    hst.one_of(hst.none(), hst.binary(max_size=40)),
    hst.one_of(hst.none(), hst.binary(max_size=200)),
    hst.integers(-(1 << 40), 1 << 48),
    hst.lists(_header, max_size=3).map(tuple),
)


@given(
    hst.lists(_record_v2, min_size=1, max_size=20),
    hst.integers(0, 1 << 40),
    hst.integers(-(1 << 40), 1 << 48),
    hst.sampled_from([0, 1, 2, 3, 4]),  # none/gzip/snappy/lz4/zstd
)
@settings(max_examples=150)
def test_record_batch_roundtrip_property(recs, base, base_ts, codec):
    """decode(encode(recs)) reproduces every record — offsets contiguous
    from base, timestamps/keys/values/headers bit-exact (timestamp
    deltas are signed varlongs, so out-of-order timestamps must survive
    too), under all five supported compression codecs."""
    out = decode_record_batches(
        encode_record_batch(
            recs, base_offset=base, base_timestamp=base_ts,
            compression=codec,
        )
    )
    assert out == [
        (base + i, ts, k, v, hs) for i, (k, v, ts, hs) in enumerate(recs)
    ]


@given(hst.lists(_record_v2, min_size=1, max_size=4), hst.data())
@settings(max_examples=150)
def test_record_batch_prefix_property(recs, data):
    """Any PREFIX of a record set decodes to a prefix of the records at
    batch granularity (Fetch v4 legally truncates the trailing batch;
    v2 batches are all-or-nothing, unlike v0 messages)."""
    batches = [
        encode_record_batch([r], base_offset=i, base_timestamp=r[2])
        for i, r in enumerate(recs)
    ]
    full = b"".join(batches)
    cut = data.draw(hst.integers(0, len(full)))
    out = decode_record_batches(full[:cut])
    expect = [
        (i, ts, k, v, hs) for i, (k, v, ts, hs) in enumerate(recs)
    ]
    assert out == expect[: len(out)]


@given(hst.lists(_record_v2, min_size=1, max_size=4), hst.data())
@settings(max_examples=200)
def test_record_batch_corruption_is_loud_or_typed(recs, data):
    """Single-byte corruption anywhere in a RecordBatch either raises
    ValueError (CRC32C/magic/varint bounds) or returns a well-formed
    record list — never any other exception type."""
    full = bytearray(
        encode_record_batch(recs, base_offset=3, base_timestamp=recs[0][2])
    )
    pos = data.draw(hst.integers(0, len(full) - 1))
    full[pos] = data.draw(hst.integers(0, 255))
    try:
        out = decode_record_batches(bytes(full))
    except ValueError:
        return
    assert isinstance(out, list)
    for off, ts, k, v, hs in out:
        assert isinstance(off, int) and isinstance(ts, int)
        assert k is None or isinstance(k, bytes)
        assert v is None or isinstance(v, bytes)
        assert isinstance(hs, tuple)


@given(
    hst.lists(_record, min_size=1, max_size=6),
    hst.data(),
)
@settings(max_examples=200)
def test_message_set_corruption_is_loud_or_typed(recs, data):
    """Single-byte corruption anywhere in a MessageSet either raises
    ValueError (CRC/magic) or returns a well-formed (offset, key,
    value) list — never any other exception type (the same contract
    the codec fuzz suite enforces)."""
    full = bytearray(encode_message_set(recs))
    pos = data.draw(hst.integers(0, len(full) - 1))
    val = data.draw(hst.integers(0, 255))
    full[pos] = val
    try:
        out = decode_message_set(bytes(full))
    except ValueError:
        return
    assert isinstance(out, list)
    for off, k, v in out:
        assert isinstance(off, int)
        assert k is None or isinstance(k, bytes)
        assert v is None or isinstance(v, bytes)


# --- group membership (r13 follow-through) ------------------------------------------


def test_join_group_golden_bytes():
    """JoinGroup v0 request AND response hand-assembled from the public
    protocol guide (group membership section) — the first member joins
    with an empty member id, becomes leader, and receives the member
    list with its ConsumerProtocolSubscription echoed opaquely."""
    from pipegen_spark.sources.kafka_wire import encode_subscription

    sub = encode_subscription(["t1"])
    # ConsumerProtocolSubscription v0: version 0, ["t1"], null user_data
    assert sub == b"\x00\x00" + b"\x00\x00\x00\x01" + b"\x00\x02t1" + (
        b"\xff\xff\xff\xff"
    )
    with FakeKafkaBroker() as (host, port):
        req = (
            _req_header(11, 0, 9)
            + b"\x00\x01g"                  # group_id "g"
            + struct.pack(">i", 30000)       # session_timeout_ms
            + b"\x00\x00"                    # member_id ""
            + b"\x00\x08consumer"            # protocol_type
            + b"\x00\x00\x00\x01"            # 1 protocol
            + b"\x00\x05range"
            + struct.pack(">i", len(sub)) + sub
        )
        resp = _raw_call(host, port, req)
        assert resp == (
            struct.pack(">i", 9)             # correlation id
            + b"\x00\x00"                    # error NONE
            + struct.pack(">i", 1)           # generation 1
            + b"\x00\x05range"               # selected protocol
            + b"\x00\x08member-1"            # leader id
            + b"\x00\x08member-1"            # own member id
            + struct.pack(">i", 1)           # members (leader view)
            + b"\x00\x08member-1"
            + struct.pack(">i", len(sub)) + sub
        )


def test_range_assignor_contract():
    from pipegen_spark.sources.kafka_wire import range_assign

    # 5 partitions over 2 members: first (by id) takes the extra one.
    got = range_assign({"b": ["t"], "a": ["t"]}, {"t": 5})
    assert got == {"a": {"t": [0, 1, 2]}, "b": {"t": [3, 4]}}
    # member subscribed to nothing relevant gets an empty map
    got = range_assign({"a": ["t"], "c": ["other"]}, {"t": 2})
    assert got == {"a": {"t": [0, 1]}, "c": {}}


def test_group_coordinated_consumption_over_socket():
    """The full consumer-group dance over the wire: two members join
    one group, the leader runs the range assignor over a 2-partition
    topic, each member fetches ONLY its assigned partition and commits
    its offsets — together they consume every record exactly once, and
    the committed offsets make the group lag read zero."""
    with FakeKafkaBroker() as (host, port):
        c1 = KafkaWireClient(host, port)
        c2 = KafkaWireClient(host, port)
        try:
            c1.create_topics(["t"], partitions=2)
            for p in range(2):
                c1.produce_v2(
                    "t", p,
                    [(None, b"p%d-%d" % (p, i), i, ()) for i in range(4)],
                )
            gen1, m1, own1 = c1.group_consume_assignment("g", ["t"])
            # second member joining bumps the generation; member 1's
            # heartbeat goes stale and it rejoins (the standard loop)
            gen2, m2, own2 = c2.group_consume_assignment("g", ["t"])
            assert c1.heartbeat("g", gen1, m1) == ERR_ILLEGAL_GENERATION
            gen1b, m1b, own1 = c1.group_consume_assignment(
                "g", ["t"], member_id=m1
            )
            assert m1b == m1 and gen1b == gen2
            # re-sync member 2 at the (unchanged) generation to pick up
            # the leader's refreshed assignment map
            _, own2 = c2.sync_group("g", gen2, m2)
            assert c2.heartbeat("g", gen2, m2) == ERR_NONE
            # the two assignments partition the topic exactly
            all_parts = sorted(own1.get("t", []) + own2.get("t", []))
            assert all_parts == [0, 1]
            consumed = {}
            for cli, own, mid in ((c1, own1, m1), (c2, own2, m2)):
                for p in own.get("t", []):
                    _err, _hw, recs = cli.fetch_v2("t", p, offset=0)
                    consumed[p] = [v for _o, _t, _k, v, _h in recs]
                    cli.offset_commit(
                        "g", {("t", p): len(recs)}
                    )
            assert consumed[0] == [b"p0-%d" % i for i in range(4)]
            assert consumed[1] == [b"p1-%d" % i for i in range(4)]
            assert c1.consumer_group_lag("g", "t", [0, 1]) == {0: 0, 1: 0}
            # leave: generation bumps, departed member goes unknown
            assert c2.leave_group("g", m2) == ERR_NONE
            assert c2.heartbeat("g", gen2, m2) == ERR_UNKNOWN_MEMBER_ID
            assert c1.sync_group("g", gen2, m1)[0] == (
                ERR_ILLEGAL_GENERATION
            )
        finally:
            c1.close()
            c2.close()


def test_join_group_inconsistent_protocol_is_loud():
    from pipegen_spark.sources.kafka_wire import (
        ERR_INCONSISTENT_GROUP_PROTOCOL,
    )

    with FakeKafkaBroker() as (host, port):
        c1 = KafkaWireClient(host, port)
        c2 = KafkaWireClient(host, port)
        try:
            err, gen, _p, _l, m1, _ = c1.join_group(
                "g2", ["t"], protocols=("range",)
            )
            assert err == ERR_NONE
            err2, *_ = c2.join_group(
                "g2", ["t"], protocols=("sticky",)
            )
            assert err2 == ERR_INCONSISTENT_GROUP_PROTOCOL
            # the failed joiner was not admitted: the group still beats
            # with the original member at the original generation
            assert c1.heartbeat("g2", gen, m1) == ERR_NONE
        finally:
            c1.close()
            c2.close()


def test_api_versions_advertises_the_served_surface():
    """ApiVersions v0 (KIP-35) — the request real clients open with.
    The advertised table must cover every API the client layer speaks,
    at the versions it speaks them."""
    from pipegen_spark.sources import kafka_wire as kw

    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            got = c.api_versions()
        finally:
            c.close()
    assert got == FakeKafkaBroker.SUPPORTED_APIS
    # every client-side API constant is advertised
    for name in dir(kw):
        if name.startswith("API_"):
            assert getattr(kw, name) in got, name
    # version spot checks: modern produce/fetch + the v0-2 offset APIs
    assert got[kw.API_PRODUCE] == (0, 3)
    assert got[kw.API_FETCH] == (0, 4)
    assert got[kw.API_OFFSET_COMMIT] == (0, 2)
