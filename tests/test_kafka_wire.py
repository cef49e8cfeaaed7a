"""Brokerless produce/consume NETWORK-path tests: the docker-gated e2e
(`test_kafka_e2e.py`) skips where no docker daemon exists, so these
tests execute the Kafka wire protocol over a REAL localhost TCP socket
against the in-process broker — request framing, magic-2 RecordBatch
encode/decode with CRC32C validation under every codec, produce offset
assignment, fetch replay, metadata, the group/offset APIs, and the
Confluent-wire Avro payload bytes the Spark operators move (A1/A2's
value format) surviving the socket roundtrip byte-for-byte.

Golden bytes are hand-assembled from the published protocol guide and
the codec format specs, so client and broker sharing the module's
encoders cannot make the roundtrips circular.
"""

from __future__ import annotations

import gzip
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
    _dec_varbytes,
    _dec_varint,
    _decompress,
    _Reader,
    crc32c,
    decode_record_batches,
    encode_record_batch,
)

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
    0-2). gzip (codec 1) roundtrips through zlib; the loud boundary is
    the protocol's RESERVED codec values (5-7), which must raise
    instead of handing the varint reader compressed bytes."""
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
    """Every library codec carries batches over the REAL socket path —
    producer compresses, broker stores the records, consumer
    decompresses on fetch."""
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
    # the repetitive values actually shrink under the codec
    plain = encode_record_batch(recs_in, base_timestamp=100)
    packed = encode_record_batch(recs_in, base_timestamp=100, compression=codec)
    assert len(packed) < len(plain)


# --- codec sections: goldens hand-assembled from the format specs ---------------

# zstd (RFC 8878): magic, frame header descriptor, then blocks whose
# 3-byte little-endian header is size << 3 | type << 1 | last
# (type 0 raw, 1 RLE, 2 compressed).
_ZSTD_MAGIC = struct.pack("<I", 0xFD2FB528)
_SKIPPABLE = struct.pack("<II", 0x184D2A50, 3) + b"xyz"


def _zstd_block(kind: int, size: int, payload: bytes, last: int) -> bytes:
    return (size << 3 | kind << 1 | last).to_bytes(3, "little") + payload


# lz4 frame format: magic, FLG, BD, header checksum (second byte of
# xxh32 over FLG+BD), data blocks (size | 0x80000000 when stored
# uncompressed), EndMark 0. FLG 0x60 = version 01 + block independence;
# its checksum byte for BD 0x40 (64 KiB blocks) is 0x82.
_LZ4_MAGIC = struct.pack("<I", 0x184D2204)
_LZ4_LONG_LITERAL = bytes(i % 251 for i in range(273))


def _lz4_frame(*blocks: tuple[bytes, bool]) -> bytes:
    out = _LZ4_MAGIC + b"\x60\x40\x82"
    for block, stored in blocks:
        out += struct.pack("<I", len(block) | (stored << 31)) + block
    return out + b"\x00\x00\x00\x00"


# snappy raw blocks (format_description.txt): uncompressed length as a
# uvarint, then elements whose tag's low 2 bits are 00 literal,
# 01 copy with 1-byte offset, 10 copy with 2-byte offset.
_SNAPPY_LONG_LITERAL = bytes(i % 251 for i in range(300))
_SNAPPY_GOLDENS = {
    # literal "abc de", then copy len 5 at 2-byte offset 6
    "literal-copy": (
        b"\x0b" + bytes([5 << 2]) + b"abc de" + bytes([4 << 2 | 2])
        + b"\x06\x00",
        b"abc deabc d",
    ),
    # literal "wxyz", then copy len 4 at 1-byte offset 4
    "one-byte-offset-copy": (
        b"\x08" + bytes([3 << 2]) + b"wxyz" + bytes([0 << 2 | 1, 4]),
        b"wxyzwxyz",
    ),
    # copy len 6 at offset 1 overlaps its own output
    "overlapping-rle": (
        b"\x07" + bytes([0 << 2]) + b"a" + bytes([5 << 2 | 2]) + b"\x01\x00",
        b"aaaaaaa",
    ),
    # length 300 = uvarint ac 02; literal tag 61 escapes to a 2-byte
    # little-endian length-1
    "long-literal": (
        b"\xac\x02" + bytes([61 << 2]) + struct.pack("<H", 299)
        + _SNAPPY_LONG_LITERAL,
        _SNAPPY_LONG_LITERAL,
    ),
}


def _xerial(*blocks: bytes) -> bytes:
    out = b"\x82SNAPPY\x00" + struct.pack(">ii", 1, 1)
    for block in blocks:
        out += struct.pack(">i", len(block)) + block
    return out


_GOLDEN_SECTIONS = [
    pytest.param(
        4,
        _ZSTD_MAGIC + b"\x20\x09"  # single segment, 1-byte content size 9
        + _zstd_block(0, 4, b"abcd", 0) + _zstd_block(1, 5, b"z", 1),
        b"abcdzzzzz",
        id="zstd-raw-and-rle-blocks",
    ),
    pytest.param(
        4,
        # compressed block: RLE literals section (type 1, size 6), "q",
        # then zero sequences
        _ZSTD_MAGIC + b"\x20\x06"
        + _zstd_block(2, 3, bytes([6 << 3 | 1]) + b"q" + b"\x00", 1),
        b"qqqqqq",
        id="zstd-rle-literals",
    ),
    pytest.param(
        4,
        _ZSTD_MAGIC + b"\x20\x06" + _zstd_block(0, 6, b"hello ", 1)
        + _SKIPPABLE
        + _ZSTD_MAGIC + b"\x20\x05" + _zstd_block(0, 5, b"world", 1),
        b"hello world",
        id="zstd-skippable-and-concatenated",
    ),
    pytest.param(
        4,
        # descriptor 0x00: no content size; window descriptor 0x00 (1 KiB)
        _ZSTD_MAGIC + b"\x00\x00" + _zstd_block(0, 5, b"hello", 1),
        b"hello",
        id="zstd-no-content-size",
    ),
    pytest.param(
        3,
        # FLG 0x64 adds the content checksum: xxh32(b"") = 0x02CC5D05,
        # the xxHash spec's empty-input vector; header checksum 0xA7
        _LZ4_MAGIC + b"\x64\x40\xa7" + b"\x00\x00\x00\x00"
        + struct.pack("<I", 0x02CC5D05),
        b"",
        id="lz4-golden-header",
    ),
    pytest.param(
        3,
        _lz4_frame((b"hello ", True)) + _SKIPPABLE
        + _lz4_frame((b"world", True)),
        b"hello world",
        id="lz4-skippable-and-concatenated",
    ),
    pytest.param(
        3,
        # token 0x54: 5 literals, match 4+4 at offset 5; then a
        # literals-only tail (lz4_Block_format.md)
        _lz4_frame((b"\x54abcde\x05\x00\x50fghij", False)),
        b"abcdeabcdeabcfghij",
        id="lz4-compressed-block",
    ),
    pytest.param(
        3,
        # token 0x1f: 1 literal, match 4+15+1 at offset 1 overlaps its
        # own output; the block ends in 5 literals as the spec requires
        _lz4_frame((b"\x1fa\x01\x00\x01\x50bcdef", False)),
        b"a" * 21 + b"bcdef",
        id="lz4-overlapping-rle",
    ),
    pytest.param(
        3,
        # 255-extension chains: literal length 15+255+3 = 273, match
        # length 4+15+255+2 = 276 at offset 257, then 5 literals
        _lz4_frame((
            b"\xff\xff\x03" + _LZ4_LONG_LITERAL + b"\x01\x01\xff\x02"
            + b"\x50fghij",
            False,
        )),
        # the overlapping copy repeats the 257 bytes before it
        _LZ4_LONG_LITERAL + (_LZ4_LONG_LITERAL[16:] * 2)[:276] + b"fghij",
        id="lz4-extended-lengths",
    ),
    *(
        pytest.param(2, section, out, id=f"snappy-{name}-{framing}")
        for name, (block, out) in _SNAPPY_GOLDENS.items()
        for framing, section in (("raw", block), ("xerial", _xerial(block)))
    ),
    pytest.param(
        2,
        _xerial(
            _SNAPPY_GOLDENS["literal-copy"][0],
            _SNAPPY_GOLDENS["overlapping-rle"][0],
        ),
        b"abc deabc daaaaaaa",
        id="snappy-xerial-two-chunks",
    ),
]


@pytest.mark.parametrize("codec,section,expected", _GOLDEN_SECTIONS)
def test_spec_golden_sections_decode(codec, section, expected):
    from pipegen_spark.sources.kafka_wire import _decompress

    assert _decompress(codec, section) == expected


@pytest.mark.parametrize(
    "codec,section",
    [
        (1, gzip.compress(b"hello", mtime=0)[:-4]),  # truncated member
        (2, b"\x05" + bytes([4 << 2]) + b"ab"),  # literal past block end
        (2, b"\x05\x00a\x01\x00"),  # zero copy offset
        (2, b"\x80\x80\x80\x80\x80\x01"),  # length uvarint over 5 bytes
        (2, _xerial(b"\x0b\x14abc") + b"\x00\x00"),  # short chunk length
        (3, b"\x00\x00\x00\x00rest"),  # bad frame magic
        (3, _lz4_frame((b"hello", True))[:-3]),  # truncated frame
        (4, b"\x00\x00\x00\x00rest"),  # bad frame magic
        (4, _ZSTD_MAGIC + b"\x20\x05" + _zstd_block(0, 5, b"hel", 1)),
        (4, _ZSTD_MAGIC + b"\x21\x07\x05"),  # needs dictionary id 7
    ],
)
def test_bad_sections_raise_value_error_naming_the_codec(codec, section):
    from pipegen_spark.sources.kafka_wire import _COMPRESSION_NAMES, _decompress

    with pytest.raises(ValueError, match=f"bad {_COMPRESSION_NAMES[codec]}"):
        _decompress(codec, section)


@pytest.mark.parametrize("codec", [1, 2, 3, 4])  # gzip/snappy/lz4/zstd
def test_decompression_bomb_guard(codec, monkeypatch):
    """A section that inflates past the cap raises instead of
    allocating its whole output."""
    import pyarrow as pa

    from pipegen_spark.sources import kafka_wire as kw

    batch = encode_record_batch([(None, b"a" * 5000)], compression=codec)
    monkeypatch.setattr(kw, "MAX_DECOMPRESSED_BYTES", 1000)
    with pytest.raises(ValueError, match="inflates past 1000 bytes"):
        decode_record_batches(batch)
    if codec == 2:  # the raw block librdkafka writes, not only xerial
        raw = pa.Codec("snappy").compress(b"a" * 5000, asbytes=True)
        with pytest.raises(ValueError, match="inflates past 1000 bytes"):
            kw._decompress(codec, raw)


def test_fetch_v4_max_bytes_returns_whole_records():
    """KIP-74: under a small max_bytes the broker must return complete
    records the client can decode and make progress on — never a
    byte-sliced partial batch."""
    from pipegen_spark.sources.kafka_wire import _Log

    log = _Log(records=[])
    log.append([(b"k%d" % i, b"v" * 100, 10 + i, ()) for i in range(50)])
    got = 0
    while got < 50:
        batch = log.read_v2(got, max_bytes=400)
        recs = decode_record_batches(batch)
        assert recs, "fetch loop stalled: empty decode under max_bytes"
        assert recs[0][0] == got  # contiguous offsets
        got = recs[-1][0] + 1
    assert got == 50
    # a single oversized record still comes back whole (progress floor)
    log2 = _Log(records=[])
    log2.append([(b"k", b"x" * 5000, 1, ())])
    recs = decode_record_batches(log2.read_v2(0, max_bytes=100))
    assert len(recs) == 1 and recs[0][3] == b"x" * 5000


def test_small_fetch_drain_encodes_a_bounded_prefix(monkeypatch):
    """A fetch encodes only the records whose raw bytes fit max_bytes,
    plus one, not the whole tail: draining a log in small fetches
    encodes at most twice its records. A fetch that fits the whole tail
    answers the same bytes as an unbounded one."""
    from pipegen_spark.sources import kafka_wire as kw

    encoded = []
    real = kw._encode_records

    def counting(records, base_ts):
        encoded.append(len(records))
        return real(records, base_ts)

    monkeypatch.setattr(kw, "_encode_records", counting)
    log = kw._Log(records=[])
    log.append([(b"k%d" % i, b"v" * (20 + i % 50), i, ()) for i in range(2000)])
    got = 0
    while got < 2000:
        recs = decode_record_batches(log.read_v2(got, max_bytes=1024))
        assert recs and recs[0][0] == got
        got = recs[-1][0] + 1
    assert len(encoded) > 50 and sum(encoded) <= 2 * 2000
    assert log.read_v2(1990, max_bytes=1 << 20) == log.read_v2(1990)


def test_record_batch_partial_tail_dropped():
    """A trailing partial batch (legal in Fetch v4 responses) is
    dropped; complete leading batches still decode."""
    b1 = encode_record_batch([(b"a", b"1")], base_offset=0)
    b2 = encode_record_batch([(b"b", b"2")], base_offset=1)
    assert decode_record_batches(b1 + b2[:-5]) == [(0, 0, b"a", b"1", ())]
    assert decode_record_batches(b1[:11]) == []


def test_produce_fetch_roundtrip_over_socket():
    """The executed network path with bare (key, value) records: produce
    two batches, fetch from 0 and from a mid-offset, verify assigned
    offsets, bytes and the base_timestamp every record falls back to."""
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            err, base = c.produce_v2(
                "events", 0, [(b"k0", b"v0"), (None, b"v1")]
            )
            assert (err, base) == (ERR_NONE, 0)
            err, base = c.produce_v2("events", 0, [(b"k2", b"v2")])
            assert (err, base) == (ERR_NONE, 2)

            err, hw, recs = c.fetch_v2("events", 0, 0)
            assert err == ERR_NONE and hw == 3
            assert recs == [
                (0, 0, b"k0", b"v0", ()),
                (1, 0, None, b"v1", ()),
                (2, 0, b"k2", b"v2", ()),
            ]
            err, hw, recs = c.fetch_v2("events", 0, 2)
            assert recs == [(2, 0, b"k2", b"v2", ())]

            meta = c.metadata(["events"])
            assert meta["brokers"][0][2] == port
            t = meta["topics"]["events"]
            assert t["error"] == ERR_NONE
            assert t["partitions"][0]["partition"] == 0
        finally:
            c.close()


def test_produce_fetch_v2_roundtrip_over_socket():
    """The network path: Produce v3 + Fetch v4 moving magic-2 batches
    with timestamps and headers over a real socket — offsets assigned
    across two produces, fetches from 0 and from a mid-offset, and
    Metadata naming the broker as leader."""
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

            meta = c.metadata(["modern"])
            assert meta["brokers"][0][2] == port
            t = meta["topics"]["modern"]
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
    """KIP-74 progress guarantee: when the log tail exceeds max_bytes —
    including single records larger than the whole cap — every fetch
    returns at least one complete batch and a fetch loop drains the log
    instead of stalling on a partial batch the decoder silently drops."""
    values = [bytes([i % 251]) * n for i, n in enumerate(sizes)]
    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            c.produce_v2(
                "caps", 0, [(None, v, 7, ()) for v in values],
                base_timestamp=7,
            )
            got, offset, rounds = [], 0, 0
            while offset < len(values):
                rounds += 1
                assert rounds <= len(values) + 1, "fetch loop stalled"
                _err, _hw, recs = c.fetch_v2(
                    "caps", 0, offset, max_bytes=max_bytes
                )
                assert recs, "empty response mid-log (stall)"
                got.extend(r[3] for r in recs)
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
            c.produce_v2("t1", 0, [(b"k", b"v")] * 3)
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
            c.produce_v2("t2", 0, [(None, b"x")] * 5)
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
            err, hw, recs = c.fetch_v2("nope", 0, 0)
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
            err, base = c.produce_v2(
                "wire", 3, [(None, p) for p in payloads]
            )
            assert (err, base) == (ERR_NONE, 0)
            err, hw, recs = c.fetch_v2("wire", 3, 0)
        finally:
            c.close()
    assert [r[3] for r in recs] == payloads
    for (_, _, _, v, _), row in zip(recs, rows):
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
                _, base = c.produce_v2(
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
            _, hw, recs = c.fetch_v2("t", 0, 0)
        finally:
            c.close()
        assert hw == 40 and len(recs) == 40
        assert [r[0] for r in recs] == list(range(40))


# --- property tests (hypothesis) --------------------------------------------

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


@given(
    hst.lists(_record_v2, min_size=1, max_size=4),
    hst.sampled_from([0, 1, 2, 3, 4]),  # none/gzip/snappy/lz4/zstd
    hst.booleans(),
    hst.data(),
)
@settings(max_examples=200)
def test_record_batch_corruption_is_loud_or_typed(recs, codec, reseal, data):
    """Single-byte corruption anywhere in a RecordBatch, under every
    codec, either raises ValueError (CRC32C/magic/varint bounds/codec)
    or returns a well-formed record list — never any other exception
    type. With `reseal` the batch CRC32C is recomputed after the flip,
    so a flip inside a compressed section reaches the codec instead of
    stopping at the checksum."""
    full = bytearray(
        encode_record_batch(
            recs, base_offset=3, base_timestamp=recs[0][2],
            compression=codec,
        )
    )
    # A resealed flip lands in the records section, after the 61-byte
    # batch prelude; the CRC32C (bytes 17-20) covers bytes 21 onwards.
    pos = data.draw(hst.integers(61 if reseal else 0, len(full) - 1))
    full[pos] = data.draw(hst.integers(0, 255))
    if reseal:
        full[17:21] = struct.pack(">I", crc32c(bytes(full[21:])))
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


def _oracle_decode_record_batches(data: bytes) -> list[tuple]:
    """The record-at-a-time decoder the columnar one replaced, kept as
    the oracle: a `_Reader` per record and a varint read per field. Its
    varint reader, the module's `_dec_varint`, rejects values past 64
    bits as the columnar reader does."""
    out = []
    r = _Reader(data)
    while len(data) - r.pos >= 12:
        base_offset = r.i64()
        batch_len = r.i32()
        if batch_len < 9 or r.pos + batch_len > len(data):
            break
        batch = _Reader(r.take(batch_len))
        batch.i32()
        magic = batch.i8()
        if magic != 2:
            raise ValueError(f"unsupported batch magic {magic}")
        crc = struct.unpack(">I", batch.take(4))[0]
        if crc32c(batch.data[batch.pos :]) != crc:
            raise ValueError("bad batch CRC32C")
        attributes = batch.i16()
        batch.i32()
        base_ts = batch.i64()
        batch.i64(), batch.i64(), batch.i16(), batch.i32()
        count = batch.i32()
        if count < 0:
            raise ValueError(f"negative record count {count}")
        codec = attributes & 0x07
        if codec:
            batch = _Reader(_decompress(codec, batch.data[batch.pos :]))
        for _ in range(count):
            rec = _Reader(batch.take(_dec_varint(batch)))
            rec.i8()
            ts_delta = _dec_varint(rec)
            off_delta = _dec_varint(rec)
            key = _dec_varbytes(rec)
            value = _dec_varbytes(rec)
            n_headers = _dec_varint(rec)
            if n_headers < 0:
                raise ValueError("negative header count")
            headers = []
            for _ in range(n_headers):
                hk = _dec_varbytes(rec)
                if hk is None:
                    raise ValueError("null header key")
                headers.append((hk.decode(), _dec_varbytes(rec)))
            out.append(
                (base_offset + off_delta, base_ts + ts_delta, key, value,
                 tuple(headers))
            )
    return out


def _decode_or_error(decode, data: bytes):
    try:
        return decode(data)
    except ValueError:
        return ValueError


@given(
    hst.lists(_record_v2, min_size=1, max_size=6),
    hst.sampled_from([0, 0, 0, 1, 4]),  # mostly uncompressed records
    hst.data(),
)
@settings(max_examples=300)
def test_record_batch_corruption_matches_record_oracle(recs, codec, data):
    """A single-byte flip in the records section, with the CRC32C
    resealed so the flip reaches the record reader: the columnar
    decoder raises ValueError exactly when the record-at-a-time oracle
    does, and otherwise returns the same records."""
    full = bytearray(
        encode_record_batch(
            recs, base_offset=3, base_timestamp=recs[0][2], compression=codec
        )
    )
    assert _oracle_decode_record_batches(bytes(full)) == decode_record_batches(
        bytes(full)
    )
    pos = data.draw(hst.integers(61, len(full) - 1))
    full[pos] = data.draw(hst.integers(0, 255))
    full[17:21] = struct.pack(">I", crc32c(bytes(full[21:])))
    assert _decode_or_error(decode_record_batches, bytes(full)) == (
        _decode_or_error(_oracle_decode_record_batches, bytes(full))
    )


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


def _produce_body(version: int) -> bytes:
    """Produce request for topic "t" partition 0 with an empty record
    set, in the request layout of `version` (protocol guide: v3 adds
    transactional_id)."""
    body = b"\xff\xff" if version >= 3 else b""  # transactional_id null
    return body + struct.pack(">hii", 1, 1000, 1) + b"\x00\x01t" + (
        struct.pack(">iii", 1, 0, 0)  # 1 partition: id 0, 0 record bytes
    )


def _fetch_body(version: int) -> bytes:
    """Fetch request for topic "t" partition 0 from offset 0 (v3 adds
    max_bytes, v4 isolation_level)."""
    body = struct.pack(">iii", -1, 0, 0)  # replica, max_wait, min_bytes
    if version >= 3:
        body += struct.pack(">i", 1 << 20)
    if version >= 4:
        body += b"\x00"
    return body + struct.pack(">i", 1) + b"\x00\x01t" + struct.pack(
        ">iiqi", 1, 0, 0, 1 << 20
    )


def test_api_versions_advertises_the_served_surface():
    """ApiVersions v0 (KIP-35) — the request real clients open with.
    The advertised table must cover every API the client layer speaks,
    and the broker must answer every Produce and Fetch version it
    advertises (a client negotiates the highest common one)."""
    from pipegen_spark.sources import kafka_wire as kw

    with FakeKafkaBroker() as (host, port):
        c = KafkaWireClient(host, port)
        try:
            got = c.api_versions()
        finally:
            c.close()
        corr = 100
        for api, body in ((kw.API_PRODUCE, _produce_body),
                          (kw.API_FETCH, _fetch_body)):
            lo, hi = got[api]
            for version in range(lo, hi + 1):
                corr += 1
                resp = _raw_call(
                    host, port, _req_header(api, version, corr) + body(version)
                )
                assert resp[:4] == struct.pack(">i", corr), (api, version)
    assert got == FakeKafkaBroker.SUPPORTED_APIS
    # every client-side API constant is advertised
    for name in dir(kw):
        if name.startswith("API_"):
            assert getattr(kw, name) in got, name
    # version spot checks: the record-batch produce/fetch pair + the
    # v0-2 offset APIs
    assert got[kw.API_PRODUCE] == (3, 3)
    assert got[kw.API_FETCH] == (4, 4)
    assert got[kw.API_OFFSET_COMMIT] == (0, 2)
