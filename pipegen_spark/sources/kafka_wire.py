"""Kafka wire protocol client and in-process broker, in Python.

The produce/consume surface speaks Produce v3 and Fetch v4, which carry
magic-2 RecordBatches: zigzag-varint record fields, record headers and
a batch-level CRC32C (`encode_record_batch` / `decode_record_batches`,
which encode and decode a field of every record at a time in numpy).
Every codec of the batch attributes encodes and decodes: gzip through
`zlib`, snappy, lz4 and zstd through pyarrow's bundled libraries
(snappy in the xerial envelope the Java client writes; raw blocks
decode too). Fetch v4 responses shrink to whole records under
`max_bytes` (KIP-74). Around that sit Metadata, ListOffsets,
ApiVersions, CreateTopics/DeleteTopics and the consumer-group APIs
(FindCoordinator, OffsetCommit/OffsetFetch, JoinGroup/SyncGroup/
Heartbeat/LeaveGroup). `tests/test_kafka_wire.py` pins golden bytes
assembled independently from the public protocol guide, so client and
broker sharing these encoders cannot make the tests circular.

What this is NOT: a Kafka replacement. Spark's A1/A2 operators speak
through the JVM kafka connector against real brokers; `FakeKafkaBroker`
is the jar-free, daemon-free path that `pipegen run --wire-broker`
and the wire e2e tests drive over a real localhost socket.

Reference parity: the reference drives produce/consume through
`kafka-console-producer/consumer` inside its compose stack
(internal/pipeline/runner.go); the protocol layer here substitutes for
that stack where no container runtime exists.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
import zlib
from dataclasses import dataclass

import numpy as np

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_FIND_COORDINATOR = 10
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14
API_API_VERSIONS = 18
API_CREATE_TOPICS = 19
API_DELETE_TOPICS = 20

ERR_NONE = 0
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_ILLEGAL_GENERATION = 22
ERR_INCONSISTENT_GROUP_PROTOCOL = 23
ERR_UNKNOWN_MEMBER_ID = 25
ERR_TOPIC_ALREADY_EXISTS = 36
ERR_INVALID_PARTITIONS = 37

#: ListOffsets sentinel timestamps (public protocol guide)
TS_LATEST = -1
TS_EARLIEST = -2


# --- primitive codecs ---------------------------------------------------------


def _enc_str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _enc_bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class _Reader:
    """Cursor over a response/request body; every read is bounds-checked
    so truncated frames raise ValueError, never struct.error."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("truncated kafka frame")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def i8(self) -> int:
        return struct.unpack(">b", self.take(1))[0]

    def i16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str | None:
        n = self.i16()
        return None if n < 0 else self.take(n).decode()

    def nbytes(self) -> bytes | None:
        n = self.i32()
        return None if n < 0 else self.take(n)


# --- consumer embedded protocol (r13) -----------------------------------------
#
# The "consumer" protocol-type payloads relayed opaquely by the broker
# during JoinGroup/SyncGroup (the public protocol guide's
# ConsumerProtocolSubscription / ConsumerProtocolAssignment v0): the
# broker never interprets these — the LEADER member computes the
# assignment client-side and ships it back through SyncGroup.


def encode_subscription(
    topics: list[str], user_data: bytes | None = None
) -> bytes:
    """ConsumerProtocolSubscription v0: version + topics + user_data."""
    out = bytearray(struct.pack(">hi", 0, len(topics)))
    for t in topics:
        out += _enc_str(t)
    out += _enc_bytes(user_data)
    return bytes(out)


def decode_subscription(data: bytes) -> tuple[list[str], bytes | None]:
    r = _Reader(data)
    r.i16()  # version
    topics = [r.string() or "" for _ in range(r.i32())]
    return topics, r.nbytes()


def encode_assignment(
    parts: dict[str, list[int]], user_data: bytes | None = None
) -> bytes:
    """ConsumerProtocolAssignment v0: version + [(topic, [partition])]
    + user_data."""
    out = bytearray(struct.pack(">hi", 0, len(parts)))
    for t in sorted(parts):
        out += _enc_str(t) + struct.pack(">i", len(parts[t]))
        for p in parts[t]:
            out += struct.pack(">i", p)
    out += _enc_bytes(user_data)
    return bytes(out)


def decode_assignment(
    data: bytes,
) -> tuple[dict[str, list[int]], bytes | None]:
    r = _Reader(data)
    r.i16()  # version
    parts: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        t = r.string() or ""
        parts[t] = [r.i32() for _ in range(r.i32())]
    return parts, r.nbytes()


def range_assign(
    subscriptions: dict[str, list[str]],
    n_partitions: dict[str, int],
) -> dict[str, dict[str, list[int]]]:
    """The RangeAssignor (the Java client's default): per topic, the
    subscribed members sort by member id and take contiguous partition
    ranges — count DIV members each, the first count MOD members
    members one extra. Deterministic, so every member could compute it,
    but per the protocol only the leader does."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in subscriptions}
    for topic, count in sorted(n_partitions.items()):
        members = sorted(
            m for m, topics in subscriptions.items() if topic in topics
        )
        if not members:
            continue
        per, extra = divmod(count, len(members))
        start = 0
        for i, m in enumerate(members):
            n = per + (1 if i < extra else 0)
            if n:
                out[m][topic] = list(range(start, start + n))
            start += n
    return out


# --- RecordBatch v2 (magic 2) -------------------------------------------------
#
# Layout per the public Kafka protocol guide ("Record Batch", messages
# with magic >= 2, Kafka 0.11+):
#
#   baseOffset:int64 batchLength:int32 partitionLeaderEpoch:int32
#   magic:int8(=2) crc:uint32(CRC32C over attributes..end)
#   attributes:int16 lastOffsetDelta:int32 baseTimestamp:int64
#   maxTimestamp:int64 producerId:int64 producerEpoch:int16
#   baseSequence:int32 recordCount:int32 records...
#
# Each record (all varints signed-zigzag):
#   length:varint attributes:int8 timestampDelta:varlong
#   offsetDelta:varint keyLen:varint key valueLen:varint value
#   headerCount:varint [headerKeyLen:varint headerKey
#                       headerValLen:varint headerVal]*

# CRC32C (Castagnoli, reflected poly 0x82F63B78) — the v2 batch CRC.
# zlib.crc32 is CRC32/IEEE and CANNOT be substituted; a real broker
# rejects batches checksummed with the wrong polynomial.
_CRC32C_TABLE = []
for _i in range(256):
    _crc = _i
    for _ in range(8):
        _crc = (_crc >> 1) ^ 0x82F63B78 if _crc & 1 else _crc >> 1
    _CRC32C_TABLE.append(_crc)
del _i, _crc

# Slicing-by-64: _CRC32C_POS[k][x] is the CRC state left by byte x
# followed by k zero bytes (from a zero state). The CRC is linear, so
# a 64-byte block's contribution is the XOR of its bytes' entries,
# with byte i looked up at k = 63 - i.
_CRC32C_BLOCK = 64
_CRC32C_POS = np.empty((_CRC32C_BLOCK, 256), dtype=np.uint32)
_CRC32C_POS[0] = _CRC32C_TABLE
for _k in range(1, _CRC32C_BLOCK):
    _prev = _CRC32C_POS[_k - 1]
    _CRC32C_POS[_k] = (_prev >> 8) ^ _CRC32C_POS[0][_prev & 0xFF]
del _k, _prev
# Per-byte-of-state tables that carry a running CRC across one block of
# zero bytes (the state's byte j sits at block position j).
_CRC32C_SHIFT = [
    _CRC32C_POS[_CRC32C_BLOCK - 1 - j].tolist() for j in range(4)
]
# Gather index of block position i into the flattened position tables.
_CRC32C_ROW = (
    (_CRC32C_BLOCK - 1 - np.arange(_CRC32C_BLOCK, dtype=np.intp)) * 256
)
# Blocks gathered per numpy pass (bounds the index array to ~4 MB).
_CRC32C_CHUNK = 8192


def crc32c(data: bytes) -> int:
    """CRC32C of `data`: numpy folds whole 64-byte blocks, a per-byte
    table loop finishes the tail."""
    crc = 0xFFFFFFFF
    n_blocks = len(data) // _CRC32C_BLOCK
    if n_blocks:
        flat = _CRC32C_POS.ravel()
        s0, s1, s2, s3 = _CRC32C_SHIFT
        buf = np.frombuffer(data, dtype=np.uint8, count=n_blocks * _CRC32C_BLOCK)
        for start in range(0, n_blocks, _CRC32C_CHUNK):
            blocks = buf[
                start * _CRC32C_BLOCK : (start + _CRC32C_CHUNK) * _CRC32C_BLOCK
            ].reshape(-1, _CRC32C_BLOCK)
            contrib = np.bitwise_xor.reduce(flat[_CRC32C_ROW + blocks], axis=1)
            for v in contrib.tolist():
                crc = (
                    s0[crc & 0xFF]
                    ^ s1[(crc >> 8) & 0xFF]
                    ^ s2[(crc >> 16) & 0xFF]
                    ^ s3[crc >> 24]
                    ^ v
                )
    for b in data[n_blocks * _CRC32C_BLOCK :]:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _enc_varint(n: int) -> bytes:
    """Signed zigzag varint (Kafka's VARINT/VARLONG encoding)."""
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_varint(r: _Reader) -> int:
    u = 0
    for shift in range(0, 70, 7):
        b = r.take(1)[0]
        if shift == 63 and b > 1:
            raise ValueError("varint past 64 bits")
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u)
    raise ValueError("varint longer than 10 bytes")


def _enc_varbytes(b: bytes | None) -> bytes:
    if b is None:
        return _enc_varint(-1)
    return _enc_varint(len(b)) + b


def _dec_varbytes(r: _Reader) -> bytes | None:
    n = _dec_varint(r)
    if n < 0:
        return None
    return r.take(n)


# --- columnar varints and rows ------------------------------------------------
#
# Record fields, and the fields of a flat Avro record
# (schema/avro_codec.py `ColumnPlan`), are zigzag varints and
# length-prefixed byte strings. These helpers encode and decode one
# field of n rows at once as numpy arrays.

_VARINT_MAX = 10
_VARINT_COLS = np.arange(_VARINT_MAX)
_VARINT_SHIFTS = np.arange(0, 7 * _VARINT_MAX, 7, dtype=np.uint64)
#: The smallest zigzagged value of each varint length past one byte.
_VARINT_LIMITS = np.uint64(1) << _VARINT_SHIFTS[1:]
#: Zero bytes a buffer read by `decode_varints` carries past its data.
VARINT_PAD = _VARINT_MAX


def encode_varints(values) -> tuple[np.ndarray, np.ndarray]:
    """Zigzag varints of int64 `values`: an (n, w) uint8 matrix whose
    row i holds value i's varint in its first lens[i] bytes, w the
    longest of them, and lens."""
    v = np.asarray(values, dtype=np.int64)
    u = ((v << 1) ^ (v >> 63)).view(np.uint64)
    lens = 1 + np.searchsorted(_VARINT_LIMITS, u, "right")
    width = int(lens.max()) if len(lens) else 1
    mat = ((u[:, None] >> _VARINT_SHIFTS[:width]) & 0x7F).astype(np.uint8)
    mat |= (_VARINT_COLS[:width] < (lens - 1)[:, None]).view(np.uint8) << 7
    return mat, lens


def decode_varints(
    buf: np.ndarray, pos: np.ndarray, end: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The zigzag varints at positions `pos` of the uint8 array `buf`,
    each of which must end by `end`: -> (int64 values, byte lengths).
    Reads byte k of every varint still open, so a column of short
    varints costs one or two passes. `buf` carries `VARINT_PAD` zero
    bytes past its data, so no read leaves it. ValueError on a varint
    over 10 bytes, past 64 bits or past its end."""
    u = np.zeros(len(pos), dtype=np.uint64)
    lens = np.zeros(len(pos), dtype=np.int64)
    open_ = np.arange(len(pos))
    for k in range(_VARINT_MAX):
        b = buf[pos[open_] + k]
        u[open_] |= (b & 0x7F).astype(np.uint64) << _VARINT_SHIFTS[k]
        done = b < 0x80
        lens[open_[done]] = k + 1
        open_ = open_[~done]
        if not len(open_):
            break
    else:
        raise ValueError("varint longer than 10 bytes")
    if k == _VARINT_MAX - 1 and (b > 1).any():
        raise ValueError("varint past 64 bits")
    if (lens > end - pos).any():
        raise ValueError("truncated: a varint runs past its record")
    return (u >> 1).view(np.int64) ^ -(u & 1).view(np.int64), lens


def segment_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Positions of every byte of the segments [starts, starts + lens),
    laid end to end (int32 when they fit: half the memory traffic)."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if len(ends) else 0
    wide = total and int((starts + lens).max()) >= 1 << 31
    dtype = np.int64 if wide else np.int32
    return np.repeat((starts - (ends - lens)).astype(dtype), lens) + np.arange(
        total, dtype=dtype
    )


def concat_rows(parts: list[tuple], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Lay out n rows end to end, row i the concatenation of every
    part's i-th piece in order. A part is `(matrix, lens)`, piece i
    `matrix[i, :lens[i]]`, or `(data, starts, lens)`, piece i
    `data[starts[i]:starts[i] + lens[i]]`.
    -> (uint8 buffer, n + 1 row offsets)."""
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sum(part[-1] for part in parts), out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    cursor = offsets[:-1].copy()
    for part in parts:
        lens = part[-1]
        if len(part) == 2:
            mat = part[0]
            dst = cursor[:, None] + np.arange(mat.shape[1])
            if (lens == mat.shape[1]).all():
                out[dst] = mat
            else:
                keep = dst < (cursor + lens)[:, None]
                out[dst[keep]] = mat[keep]
        elif len(lens):
            data, starts = part[0], part[1]
            if (starts[1:] == starts[:-1] + lens[:-1]).all():
                src = data[starts[0] : starts[-1] + lens[-1]]  # one run
            else:
                src = data[segment_index(starts, lens)]
            out[segment_index(cursor, lens)] = src
        cursor += lens
    return out, offsets


def _const_part(byte: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    return np.full((n, 1), byte, dtype=np.uint8), np.ones(n, dtype=np.int64)


def _varbytes_parts(items: list) -> list[tuple]:
    """Nullable byte strings as a length-varint part (-1 for None) and a
    data part."""
    n = len(items)
    if items.count(None) == n:  # every length is varint(-1), 0x01
        zeros = np.zeros(n, dtype=np.int64)
        return [_const_part(1, n), (np.empty(0, np.uint8), zeros, zeros)]
    if None in items:
        lens = np.fromiter(
            (-1 if b is None else len(b) for b in items), np.int64, n
        )
    else:
        lens = np.fromiter(map(len, items), np.int64, n)
    sizes = np.maximum(lens, 0)
    data = np.frombuffer(b"".join([b for b in items if b]), dtype=np.uint8)
    return [encode_varints(lens), (data, np.cumsum(sizes) - sizes, sizes)]


def _headers_part(headers: list, n: int) -> tuple:
    """Per-record header blobs (count varint + pairs): b"\\x00" for a
    record without headers, encoded in Python only for those with."""
    if not any(headers):
        return _const_part(0, n)
    blobs = [
        _enc_varint(len(hs))
        + b"".join(_enc_varbytes(k.encode()) + _enc_varbytes(v) for k, v in hs)
        if hs
        else b"\x00"
        for hs in headers
    ]
    sizes = np.fromiter(map(len, blobs), dtype=np.int64, count=n)
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    return data, np.cumsum(sizes) - sizes, sizes


def _encode_records(
    records: list[tuple], base_timestamp: int
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """The records section of a batch, a column at a time.
    -> (section, n + 1 record offsets into it, timestamps)."""
    n = len(records)
    try:
        ts = np.array([r[2] for r in records], dtype=np.int64)
    except IndexError:  # some records carry no timestamp
        ts = np.array(
            [r[2] if len(r) > 2 else base_timestamp for r in records],
            dtype=np.int64,
        )
    body = [
        _const_part(0, n),  # record attributes: unused, always 0
        encode_varints(ts - base_timestamp),
        encode_varints(np.arange(n)),  # offset delta
        *_varbytes_parts([r[0] for r in records]),
        *_varbytes_parts([r[1] for r in records]),
        _headers_part([r[3] if len(r) > 3 else () for r in records], n),
    ]
    buf, offsets = concat_rows(
        [encode_varints(sum(part[-1] for part in body)), *body], n
    )
    return buf.tobytes(), offsets, ts


def _record_spans(
    section: bytes, buf: np.ndarray, count: int
) -> tuple[np.ndarray, np.ndarray]:
    """(start, end) of each record's body after its length varint. The
    one sequential scan, since each record starts where the one before
    it ends: it only hops from length to length; the lengths are then
    read again, and checked, as a column."""
    heads = []
    mark = heads.append
    pos = 0
    try:
        for _ in range(count):
            mark(pos)
            b = section[pos]
            pos += 1
            u, shift = b & 0x7F, 0
            while b >= 0x80:
                shift += 7
                if shift == 70:
                    raise ValueError("varint longer than 10 bytes")
                b = section[pos]
                pos += 1
                u |= (b & 0x7F) << shift
            if u & 1:
                raise ValueError(f"negative record length {_unzigzag(u)}")
            pos += u >> 1
    except IndexError:
        raise ValueError("truncated kafka frame") from None
    if pos > len(section):
        raise ValueError("truncated kafka frame")
    heads = np.array(heads, dtype=np.int64)
    ends = np.empty_like(heads)
    ends[:-1] = heads[1:]
    ends[-1:] = pos
    lengths, width = decode_varints(buf, heads, ends)
    return heads + width, heads + width + lengths


def _read_varbytes(
    section: bytes, buf: np.ndarray, pos: np.ndarray, end: np.ndarray
) -> tuple[list, np.ndarray]:
    """A nullable byte-string field of every record (negative length =
    None). -> (values, positions after them)."""
    lens, width = decode_varints(buf, pos, end)
    pos = pos + width
    sizes = np.maximum(lens, 0)
    if (sizes > end - pos).any():
        raise ValueError("truncated kafka frame")
    if (lens < 0).all():
        items = [None] * len(lens)
    else:
        items = [
            section[p : p + k] if k >= 0 else None
            for p, k in zip(pos.tolist(), lens.tolist())
        ]
    return items, pos + sizes


def _decode_records(
    section: bytes, count: int, base_offset: int, base_ts: int
) -> list[tuple[int, int, bytes | None, bytes | None, tuple]]:
    """Every record of one batch's records section, a field at a time;
    each read is checked against its record's declared length."""
    buf = np.frombuffer(section + bytes(VARINT_PAD), dtype=np.uint8)
    starts, ends = _record_spans(section, buf, count)
    if (starts >= ends).any():
        raise ValueError("truncated kafka frame")
    pos = starts + 1  # record attributes
    ts_delta, width = decode_varints(buf, pos, ends)
    pos += width
    off_delta, width = decode_varints(buf, pos, ends)
    pos += width
    keys, pos = _read_varbytes(section, buf, pos, ends)
    values, pos = _read_varbytes(section, buf, pos, ends)
    n_headers, width = decode_varints(buf, pos, ends)
    pos += width
    if (n_headers < 0).any():
        raise ValueError("negative header count")
    headers: list[tuple] = [()] * count
    for i in np.flatnonzero(n_headers).tolist():
        rec = _Reader(section[pos[i] : ends[i]])
        pairs = []
        for _ in range(int(n_headers[i])):
            hk = _dec_varbytes(rec)
            if hk is None:
                raise ValueError("null header key")
            pairs.append((hk.decode(), _dec_varbytes(rec)))
        headers[i] = tuple(pairs)
    return list(
        zip(
            _offset(base_offset, off_delta),
            _offset(base_ts, ts_delta),
            keys,
            values,
            headers,
        )
    )


def _offset(base: int, deltas: np.ndarray) -> list[int]:
    """base + deltas as Python ints, exact even where int64 would
    overflow."""
    out = deltas + base
    if (out >= deltas).all() if base >= 0 else (out <= deltas).all():
        return out.tolist()
    return [base + d for d in deltas.tolist()]


#: attributes bits 0-2: the batch compression codec (protocol guide).
COMPRESSION_NONE = 0
COMPRESSION_GZIP = 1
COMPRESSION_SNAPPY = 2
COMPRESSION_LZ4 = 3
COMPRESSION_ZSTD = 4
_COMPRESSION_NAMES = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}

#: Decompression-bomb guard: a snappy, lz4 or zstd records section may
#: not inflate past this many bytes.
MAX_DECOMPRESSED_BYTES = 1 << 30
#: The Java client's snappy envelope (xerial SnappyOutputStream): magic,
#: version and compatible-version ints, then [int32 length][raw block]
#: chunks of at most 32 KiB input each.
_XERIAL_MAGIC = b"\x82SNAPPY\x00"
_XERIAL_BLOCK = 32 * 1024
_READ_CHUNK = 1 << 20


def _compress(codec: int, body: bytes) -> bytes:
    if codec == COMPRESSION_GZIP:
        gz = zlib.compressobj(wbits=31)  # RFC-1952 gzip framing
        return gz.compress(body) + gz.flush()
    import pyarrow as pa

    if codec != COMPRESSION_SNAPPY:  # lz4 (one LZ4 frame, KIP-57), zstd
        return pa.Codec(_COMPRESSION_NAMES[codec]).compress(body, asbytes=True)
    snappy = pa.Codec("snappy")
    out = bytearray(_XERIAL_MAGIC + struct.pack(">ii", 1, 1))
    for i in range(0, len(body), _XERIAL_BLOCK):
        block = snappy.compress(body[i : i + _XERIAL_BLOCK], asbytes=True)
        out += struct.pack(">i", len(block)) + block
    return bytes(out)


def _snappy_decompress(section: bytes) -> bytes:
    """Raw snappy block (librdkafka) or xerial chunks (Java client),
    sniffed by the magic."""
    import pyarrow as pa

    if section[: len(_XERIAL_MAGIC)] == _XERIAL_MAGIC:
        r = _Reader(section)
        r.take(len(_XERIAL_MAGIC) + 8)  # magic, version, compat version
        blocks = []
        while r.pos < len(section):
            n = r.i32()
            if n < 0:
                raise ValueError(f"negative xerial chunk length {n}")
            blocks.append(r.take(n))
    else:
        blocks = [section]
    snappy = pa.Codec("snappy")
    out, total = [], 0
    for block in blocks:
        # A raw block opens with its uncompressed length as a uvarint.
        n = shift = 0
        for b in block[:5]:
            n |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        else:
            raise ValueError("bad snappy length preamble")
        total += n
        if total > MAX_DECOMPRESSED_BYTES:
            raise ValueError(f"inflates past {MAX_DECOMPRESSED_BYTES} bytes")
        out.append(snappy.decompress(block, decompressed_size=n, asbytes=True))
    return b"".join(out)


def _stream_decompress(section: bytes, name: str) -> bytes:
    """Every frame of an lz4 or zstd section, skippable and
    concatenated frames included."""
    import pyarrow as pa

    out, total = [], 0
    with pa.CompressedInputStream(pa.BufferReader(section), name) as stream:
        while chunk := stream.read(_READ_CHUNK):
            total += len(chunk)
            if total > MAX_DECOMPRESSED_BYTES:
                raise ValueError(
                    f"inflates past {MAX_DECOMPRESSED_BYTES} bytes"
                )
            out.append(chunk)
    return b"".join(out)


def _decompress(codec: int, section: bytes) -> bytes:
    """Inflate a compressed records section; any failure is a
    ValueError naming the codec."""
    name = _COMPRESSION_NAMES[codec]
    if codec == COMPRESSION_GZIP:
        inflater = zlib.decompressobj(47)
        try:
            out = inflater.decompress(section, MAX_DECOMPRESSED_BYTES + 1)
        except zlib.error as e:
            raise ValueError(f"bad gzip records section: {e}") from e
        if len(out) > MAX_DECOMPRESSED_BYTES:
            raise ValueError(f"inflates past {MAX_DECOMPRESSED_BYTES} bytes")
        if not inflater.eof:
            raise ValueError("bad gzip records section: truncated stream")
        return out
    import pyarrow as pa

    try:
        if codec == COMPRESSION_SNAPPY:
            return _snappy_decompress(section)
        return _stream_decompress(section, name)
    except (ValueError, OSError, pa.ArrowException) as e:
        raise ValueError(f"bad {name} records section: {e}") from e


#: Bytes of a RecordBatch before its records: baseOffset, batchLength,
#: partitionLeaderEpoch, magic, crc, attributes, lastOffsetDelta,
#: base/max timestamps, producer id/epoch, baseSequence, recordCount.
BATCH_OVERHEAD = 61


def _frame_batch(
    section: bytes,
    count: int,
    base_offset: int,
    base_timestamp: int,
    max_timestamp: int,
    producer_id: int,
    producer_epoch: int,
    base_sequence: int,
    compression: int,
) -> bytes:
    """Wrap an uncompressed records section of `count` records in the
    batch header, compressing it first under `compression`."""
    if compression != COMPRESSION_NONE:
        section = _compress(compression, section)
    after_crc = (
        # attributes bits 0-2 carry the codec; lastOffsetDelta
        struct.pack(">hi", compression, count - 1)
        + struct.pack(">qq", base_timestamp, max_timestamp)
        + struct.pack(">qhi", producer_id, producer_epoch, base_sequence)
        + struct.pack(">i", count)
        + section
    )
    crc = crc32c(after_crc)
    # batchLength counts every byte after its own field:
    # partitionLeaderEpoch(4) + magic(1) + crc(4) + after_crc
    inner = struct.pack(">ibI", -1, 2, crc) + after_crc
    return struct.pack(">qi", base_offset, len(inner)) + inner


def encode_record_batch(
    records: list[tuple],
    base_offset: int = 0,
    base_timestamp: int = 0,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    compression: int = COMPRESSION_NONE,
) -> bytes:
    """One magic-2 RecordBatch. `records` entries are (key, value),
    (key, value, timestamp) or (key, value, timestamp, headers); a
    missing timestamp means base_timestamp. `compression` is one of the
    five protocol codecs: 0 none, 1 gzip, 2 snappy (xerial envelope),
    3 lz4 (one LZ4 frame), 4 zstd."""
    if not records:
        raise ValueError("a RecordBatch must contain at least one record")
    if compression not in (COMPRESSION_NONE, *_COMPRESSION_NAMES):
        raise ValueError(f"unsupported compression codec {compression}")
    section, _, ts = _encode_records(records, base_timestamp)
    return _frame_batch(
        section,
        len(records),
        base_offset,
        base_timestamp,
        max(base_timestamp, int(ts.max())),
        producer_id,
        producer_epoch,
        base_sequence,
        compression,
    )


def decode_record_batches(
    data: bytes,
) -> list[tuple[int, int, bytes | None, bytes | None, tuple]]:
    """-> [(offset, timestamp, key, value, headers)] across every
    COMPLETE batch in a record set; a trailing partial batch (legal in
    Fetch responses) is dropped. Validates magic and the batch CRC32C
    loudly — corruption inside a complete batch raises ValueError."""
    out: list[tuple[int, int, bytes | None, bytes | None, tuple]] = []
    r = _Reader(data)
    while len(data) - r.pos >= 12:
        base_offset = r.i64()
        batch_len = r.i32()
        if batch_len < 9 or r.pos + batch_len > len(data):
            break  # partial trailing batch
        batch = _Reader(r.take(batch_len))
        batch.i32()  # partitionLeaderEpoch
        magic = batch.i8()
        if magic != 2:
            raise ValueError(f"unsupported batch magic {magic}")
        crc = struct.unpack(">I", batch.take(4))[0]
        after_crc = batch.data[batch.pos :]
        if crc32c(after_crc) != crc:
            raise ValueError(
                f"bad batch CRC32C at base offset {base_offset}"
            )
        attributes = batch.i16()
        batch.i32()  # lastOffsetDelta
        base_ts = batch.i64()
        batch.i64()  # maxTimestamp
        batch.i64()  # producerId
        batch.i16()  # producerEpoch
        batch.i32()  # baseSequence
        count = batch.i32()
        if count < 0:
            raise ValueError(f"negative record count {count}")
        codec = attributes & 0x07
        section = batch.data[batch.pos :]
        if codec in _COMPRESSION_NAMES:
            section = _decompress(codec, section)
        elif codec != COMPRESSION_NONE:
            # A silent mis-parse of a compressed batch would hand the
            # varint reader compressed bytes — fail with the codec value.
            raise ValueError(f"unsupported compression codec {codec}")
        out.extend(_decode_records(section, count, base_offset, base_ts))
    return out


# --- request framing ------------------------------------------------------------


def frame_request(
    api_key: int,
    api_version: int,
    correlation_id: int,
    client_id: str,
    body: bytes,
) -> bytes:
    payload = (
        struct.pack(">hhi", api_key, api_version, correlation_id)
        + _enc_str(client_id)
        + body
    )
    return struct.pack(">i", len(payload)) + payload


def _read_frame(sock: socket.socket) -> bytes:
    head = _recv_exact(sock, 4)
    (size,) = struct.unpack(">i", head)
    if size < 0 or size > 1 << 26:
        raise ValueError(f"bad frame size {size}")
    return _recv_exact(sock, size)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ValueError("connection closed mid-frame")
        buf += chunk
    return bytes(buf)


# --- client ---------------------------------------------------------------------


class KafkaWireClient:
    """Minimal produce/fetch/metadata client over one blocking socket.

    Speaks the request versions `FakeKafkaBroker.SUPPORTED_APIS` lists;
    correlation ids are checked on every response (the client's own
    request ordering is serial, so a mismatch means a framing bug, not
    reordering)."""

    def __init__(self, host: str, port: int, client_id: str = "pipegen"):
        self.sock = socket.create_connection((host, port), timeout=10)
        self.client_id = client_id
        self._corr = 0

    def close(self) -> None:
        self.sock.close()

    def _call(
        self, api_key: int, body: bytes, api_version: int = 0
    ) -> _Reader:
        self._corr += 1
        self.sock.sendall(
            frame_request(
                api_key, api_version, self._corr, self.client_id, body
            )
        )
        r = _Reader(_read_frame(self.sock))
        corr = r.i32()
        if corr != self._corr:
            raise ValueError(
                f"correlation id mismatch: sent {self._corr}, got {corr}"
            )
        return r

    def api_versions(self) -> dict[int, tuple[int, int]]:
        """ApiVersions v0 — the request real clients open a connection
        with (KIP-35): -> {api_key: (min_version, max_version)} for
        every API the broker serves."""
        r = self._call(API_API_VERSIONS, b"")
        err = r.i16()
        if err != ERR_NONE:
            raise ValueError(f"ApiVersions failed with error {err}")
        return {
            r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())
        }

    def metadata(self, topics: list[str]) -> dict:
        body = struct.pack(">i", len(topics)) + b"".join(
            _enc_str(t) for t in topics
        )
        r = self._call(API_METADATA, body)
        brokers = [
            (r.i32(), r.string(), r.i32()) for _ in range(r.i32())
        ]
        topics_out = {}
        for _ in range(r.i32()):
            err = r.i16()
            name = r.string()
            parts = []
            for _ in range(r.i32()):
                perr = r.i16()
                pid = r.i32()
                leader = r.i32()
                replicas = [r.i32() for _ in range(r.i32())]
                isr = [r.i32() for _ in range(r.i32())]
                parts.append(
                    {"error": perr, "partition": pid, "leader": leader,
                     "replicas": replicas, "isr": isr}
                )
            topics_out[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "topics": topics_out}

    def create_topics(
        self, topics: list[str], partitions: int = 1, timeout_ms: int = 5000
    ) -> dict[str, int]:
        """CreateTopics v0 (KIP-4 admin over the wire — what real
        clients use instead of shelling to kafka-topics.sh): -> {topic:
        error_code} (0 ok, 36 already exists, 37 invalid partitions)."""
        body = bytearray(struct.pack(">i", len(topics)))
        for t in topics:
            body += _enc_str(t)
            body += struct.pack(">ih", partitions, 1)  # replication 1
            body += struct.pack(">i", 0)  # replica_assignment: empty
            body += struct.pack(">i", 0)  # config_entries: empty
        body += struct.pack(">i", timeout_ms)
        r = self._call(API_CREATE_TOPICS, bytes(body))
        return {r.string(): r.i16() for _ in range(r.i32())}

    def delete_topics(
        self, topics: list[str], timeout_ms: int = 5000
    ) -> dict[str, int]:
        """DeleteTopics v0: -> {topic: error_code} (0 ok, 3 unknown)."""
        body = struct.pack(">i", len(topics)) + b"".join(
            _enc_str(t) for t in topics
        ) + struct.pack(">i", timeout_ms)
        r = self._call(API_DELETE_TOPICS, body)
        return {r.string(): r.i16() for _ in range(r.i32())}

    # -- consumer-group / offset protocol (r13: the reference's fallback
    # monitor reads consumer-group lag — alternative_monitor.go:124-150
    # shells to kafka-consumer-groups.sh; these are the wire APIs that
    # tool itself speaks: FindCoordinator + OffsetCommit/OffsetFetch +
    # ListOffsets for the log-end side of the lag subtraction) --

    def find_coordinator(
        self, group: str, api_version: int = 0
    ) -> tuple[int, int, str, int]:
        """FindCoordinator v0 (a.k.a. GroupCoordinator) / v1:
        -> (error_code, node_id, host, port)."""
        body = _enc_str(group)
        if api_version >= 1:
            body += struct.pack(">b", 0)  # coordinator_type 0 = group
        r = self._call(API_FIND_COORDINATOR, body, api_version)
        if api_version >= 1:
            r.i32()  # throttle_time_ms
            err = r.i16()
            r.string()  # error_message (nullable)
        else:
            err = r.i16()
        return err, r.i32(), r.string() or "", r.i32()

    def offset_commit(
        self,
        group: str,
        offsets: dict[tuple[str, int], int],
        api_version: int = 2,
        generation_id: int = -1,
        member_id: str = "",
        retention_time: int = -1,
        metadata: str = "",
    ) -> dict[tuple[str, int], int]:
        """OffsetCommit v0/v1/v2: commit {(topic, partition): offset}
        for `group` -> {(topic, partition): error_code}."""
        by_topic: dict[str, list[tuple[int, int]]] = {}
        for (t, p), off in offsets.items():
            by_topic.setdefault(t, []).append((p, off))
        body = bytearray(_enc_str(group))
        if api_version >= 1:
            body += struct.pack(">i", generation_id)
            body += _enc_str(member_id)
        if api_version >= 2:
            body += struct.pack(">q", retention_time)
        body += struct.pack(">i", len(by_topic))
        for t, parts in by_topic.items():
            body += _enc_str(t) + struct.pack(">i", len(parts))
            for p, off in parts:
                body += struct.pack(">iq", p, off)
                if api_version == 1:
                    body += struct.pack(">q", -1)  # commit timestamp
                body += _enc_str(metadata)
        r = self._call(API_OFFSET_COMMIT, bytes(body), api_version)
        out: dict[tuple[str, int], int] = {}
        for _ in range(r.i32()):
            topic = r.string() or ""
            for _ in range(r.i32()):
                pid = r.i32()
                out[(topic, pid)] = r.i16()
        return out

    def offset_fetch(
        self,
        group: str,
        parts: list[tuple[str, int]] | None = None,
        api_version: int = 2,
    ) -> tuple[int, dict[tuple[str, int], tuple[int, str, int]]]:
        """OffsetFetch v0/v1/v2: committed offsets for `group`.
        `parts=None` (v2 only) fetches ALL of the group's offsets.
        -> (top_level_error — always 0 below v2,
            {(topic, partition): (offset, metadata, error_code)});
        offset is -1 when nothing is committed."""
        body = bytearray(_enc_str(group))
        if parts is None:
            if api_version < 2:
                raise ValueError("fetch-all requires OffsetFetch v2")
            body += struct.pack(">i", -1)  # null topics array = all
        else:
            by_topic: dict[str, list[int]] = {}
            for t, p in parts:
                by_topic.setdefault(t, []).append(p)
            body += struct.pack(">i", len(by_topic))
            for t, pids in by_topic.items():
                body += _enc_str(t) + struct.pack(">i", len(pids))
                for p in pids:
                    body += struct.pack(">i", p)
        r = self._call(API_OFFSET_FETCH, bytes(body), api_version)
        out: dict[tuple[str, int], tuple[int, str, int]] = {}
        for _ in range(r.i32()):
            topic = r.string() or ""
            for _ in range(r.i32()):
                pid = r.i32()
                off = r.i64()
                meta = r.string() or ""
                out[(topic, pid)] = (off, meta, r.i16())
        top_err = r.i16() if api_version >= 2 else ERR_NONE
        return top_err, out

    def list_offsets(
        self, topic: str, partition: int, timestamp: int = TS_LATEST
    ) -> tuple[int, list[int]]:
        """ListOffsets v0: -> (error_code, offsets). TS_LATEST yields
        [log_end_offset], TS_EARLIEST [log_start_offset] — the log-end
        side of a lag computation."""
        body = (
            struct.pack(">i", -1)  # replica_id
            + struct.pack(">i", 1)
            + _enc_str(topic)
            + struct.pack(">i", 1)
            + struct.pack(">iqi", partition, timestamp, 1)
        )
        r = self._call(API_LIST_OFFSETS, body)
        if r.i32() != 1:
            raise ValueError("expected 1 topic in response")
        r.string()
        if r.i32() != 1:
            raise ValueError("expected 1 partition in response")
        r.i32()  # partition id
        err = r.i16()
        return err, [r.i64() for _ in range(r.i32())]

    def consumer_group_lag(
        self, group: str, topic: str, partitions: list[int] | None = None
    ) -> dict[int, int]:
        """Per-partition lag = log_end_offset - committed_offset (the
        LAG column of kafka-consumer-groups.sh --describe, which the
        reference's fallback monitor parses). Uncommitted partitions
        count their full log (committed treated as 0), matching the
        tool's lag-from-beginning semantics for a fresh group."""
        if partitions is None:
            partitions = [0]
        _, committed = self.offset_fetch(
            group, [(topic, p) for p in partitions]
        )
        lag: dict[int, int] = {}
        for p in partitions:
            err, ends = self.list_offsets(topic, p, TS_LATEST)
            if err != ERR_NONE or not ends:
                continue
            off = committed.get((topic, p), (-1, "", 0))[0]
            lag[p] = ends[0] - max(off, 0)
        return lag

    # -- group membership (r13 follow-through: JoinGroup/SyncGroup/
    # Heartbeat/LeaveGroup v0 — the coordination half of the consumer
    # group protocol; offsets above are the bookkeeping half. The
    # broker relays the embedded "consumer" protocol payloads opaquely;
    # the LEADER member runs the assignor, per the protocol guide) --

    def join_group(
        self,
        group: str,
        topics: list[str],
        member_id: str = "",
        session_timeout_ms: int = 30000,
        protocols: tuple[str, ...] = ("range",),
    ) -> tuple[int, int, str, str, str, dict[str, list[str]]]:
        """JoinGroup v0 -> (error, generation, protocol, leader_id,
        member_id, members) — `members` carries each member's decoded
        topic subscription and is populated only for the leader."""
        meta = encode_subscription(list(topics))
        body = bytearray(_enc_str(group))
        body += struct.pack(">i", session_timeout_ms)
        body += _enc_str(member_id)
        body += _enc_str("consumer")
        body += struct.pack(">i", len(protocols))
        for p in protocols:
            body += _enc_str(p) + _enc_bytes(meta)
        r = self._call(API_JOIN_GROUP, bytes(body))
        err = r.i16()
        gen = r.i32()
        proto = r.string() or ""
        leader = r.string() or ""
        mid = r.string() or ""
        members: dict[str, list[str]] = {}
        for _ in range(r.i32()):
            m = r.string() or ""
            md = r.nbytes()
            members[m] = decode_subscription(md)[0] if md else []
        return err, gen, proto, leader, mid, members

    def sync_group(
        self,
        group: str,
        generation: int,
        member_id: str,
        assignments: dict[str, dict[str, list[int]]] | None = None,
    ) -> tuple[int, dict[str, list[int]]]:
        """SyncGroup v0: the leader passes the full member->assignment
        map; followers pass None. -> (error, own {topic: [partition]})."""
        body = bytearray(_enc_str(group))
        body += struct.pack(">i", generation)
        body += _enc_str(member_id)
        items = assignments or {}
        body += struct.pack(">i", len(items))
        for m, parts in items.items():
            body += _enc_str(m) + _enc_bytes(encode_assignment(parts))
        r = self._call(API_SYNC_GROUP, bytes(body))
        err = r.i16()
        blob = r.nbytes()
        return err, (decode_assignment(blob)[0] if blob else {})

    def heartbeat(self, group: str, generation: int, member_id: str) -> int:
        body = (
            _enc_str(group)
            + struct.pack(">i", generation)
            + _enc_str(member_id)
        )
        return self._call(API_HEARTBEAT, body).i16()

    def leave_group(self, group: str, member_id: str) -> int:
        body = _enc_str(group) + _enc_str(member_id)
        return self._call(API_LEAVE_GROUP, body).i16()

    def group_consume_assignment(
        self, group: str, topics: list[str], member_id: str = ""
    ) -> tuple[int, str, dict[str, list[int]]]:
        """The full join->assign->sync dance for ONE member: join the
        group (pass the remembered `member_id` when REjoining after a
        stale generation — an empty id admits a NEW member, exactly as
        on a real coordinator); if elected leader, run the range
        assignor over every member's subscription (partition counts
        from Metadata) and ship the map; return (generation,
        member_id, own assignment). On ILLEGAL_GENERATION the caller
        re-invokes with its member id (the standard client loop)."""
        err, gen, _proto, leader, mid, members = self.join_group(
            group, topics, member_id=member_id
        )
        if err != ERR_NONE:
            raise ValueError(f"JoinGroup failed with error {err}")
        assignments = None
        if mid == leader:
            meta = self.metadata(
                sorted({t for ts in members.values() for t in ts}
                       | set(topics))
            )
            counts = {
                t: len(info["partitions"])
                for t, info in meta["topics"].items()
                if info["error"] == ERR_NONE
            }
            assignments = range_assign(members, counts)
        err, own = self.sync_group(group, gen, mid, assignments)
        if err != ERR_NONE:
            raise ValueError(f"SyncGroup failed with error {err}")
        return gen, mid, own

    # -- produce / consume: magic-2 record batches over Produce v3 / Fetch v4 --

    def produce_v2(
        self,
        topic: str,
        partition: int,
        records: list[tuple],
        base_timestamp: int = 0,
        acks: int = 1,
        compression: int = 0,
    ) -> tuple[int, int]:
        """Produce v3 carrying one magic-2 RecordBatch; `records` as in
        encode_record_batch. -> (error_code, base_offset)."""
        batch = encode_record_batch(
            records,
            base_offset=0,
            base_timestamp=base_timestamp,
            compression=compression,
        )
        body = (
            _enc_str(None)  # transactional_id
            + struct.pack(">hi", acks, 10_000)
            + struct.pack(">i", 1)
            + _enc_str(topic)
            + struct.pack(">i", 1)
            + struct.pack(">i", partition)
            + struct.pack(">i", len(batch))
            + batch
        )
        r = self._call(API_PRODUCE, body, api_version=3)
        n_topics = r.i32()
        if n_topics != 1:
            raise ValueError(f"expected 1 topic in response, got {n_topics}")
        r.string()
        n_parts = r.i32()
        if n_parts != 1:
            raise ValueError(f"expected 1 partition, got {n_parts}")
        r.i32()  # partition id
        err = r.i16()
        base = r.i64()
        r.i64()  # log_append_time
        r.i32()  # throttle_time_ms
        return err, base

    def fetch_v2(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int = 1 << 20,
    ) -> tuple[
        int, int, list[tuple[int, int, bytes | None, bytes | None, tuple]]
    ]:
        """Fetch v4 returning magic-2 batches.
        -> (error_code, high_watermark,
            [(offset, timestamp, key, value, headers)])."""
        body = (
            struct.pack(">iii", -1, 100, 0)  # replica, max_wait, min_bytes
            + struct.pack(">ib", max_bytes, 0)  # max_bytes, isolation=0
            + struct.pack(">i", 1)
            + _enc_str(topic)
            + struct.pack(">i", 1)
            + struct.pack(">iqi", partition, offset, max_bytes)
        )
        r = self._call(API_FETCH, body, api_version=4)
        r.i32()  # throttle_time_ms
        n_topics = r.i32()
        if n_topics != 1:
            raise ValueError(f"expected 1 topic in response, got {n_topics}")
        r.string()
        n_parts = r.i32()
        if n_parts != 1:
            raise ValueError(f"expected 1 partition, got {n_parts}")
        r.i32()  # partition id
        err = r.i16()
        hw = r.i64()
        r.i64()  # last_stable_offset
        n_aborted = r.i32()
        for _ in range(max(n_aborted, 0)):
            r.i64(), r.i64()  # producer_id, first_offset
        batches = r.take(r.i32())
        return err, hw, decode_record_batches(batches)


# --- in-process broker ------------------------------------------------------------


@dataclass
class _Log:
    """One topic-partition: appended records as (key, value, timestamp,
    headers) tuples, re-framed with their assigned log offsets as one
    uncompressed magic-2 RecordBatch per Fetch v4."""

    records: list[tuple[bytes | None, bytes | None, int, tuple]]

    def append(
        self, recs: list[tuple[bytes | None, bytes | None, int, tuple]]
    ) -> int:
        base = len(self.records)
        self.records.extend(recs)
        return base

    def read_v2(self, offset: int, max_bytes: int | None = None) -> bytes:
        """Re-frame the log tail from `offset` as one RecordBatch. Under
        `max_bytes`, frame the longest prefix of WHOLE records that fits,
        but at least one (KIP-74: a client with a small fetch size must
        still make progress, and a byte-sliced batch would be dropped by
        decode_record_batches). An encoded record is never smaller than
        its key and value, so only the records whose raw bytes fit, plus
        one, are encoded; a drain in small fetches stays linear."""
        if offset < 0 or offset > len(self.records):
            raise IndexError
        end = len(self.records)
        if max_bytes is not None:
            budget, end = max_bytes - BATCH_OVERHEAD, offset
            while end < len(self.records) and (budget >= 0 or end == offset):
                key, value = self.records[end][:2]
                budget -= len(key or b"") + len(value or b"")
                end += 1
        tail = self.records[offset:end]
        if not tail:
            return b""
        base_ts = tail[0][2]
        section, ends, ts = _encode_records(tail, base_ts)
        n = len(tail)
        if max_bytes is not None and BATCH_OVERHEAD + len(section) > max_bytes:
            fit = np.searchsorted(ends[1:], max_bytes - BATCH_OVERHEAD, "right")
            n = max(1, int(fit))
        return _frame_batch(
            section[: ends[n]],
            n,
            offset,
            base_ts,
            max(base_ts, int(ts[:n].max())),
            -1,
            -1,
            -1,
            COMPRESSION_NONE,
        )


class FakeKafkaBroker:
    """Threaded in-process broker for the surface `SUPPORTED_APIS`
    lists: auto-creates topic-partitions on produce, assigns real log
    offsets, replays the log as a RecordBatch on fetch, keeps consumer
    group state, and answers Metadata with itself as sole leader. Start
    with `with FakeKafkaBroker() as (host, port):`."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):  # one connection, many requests
                try:
                    while True:
                        frame = _read_frame(self.request)
                        resp = broker._dispatch(frame)
                        self.request.sendall(
                            struct.pack(">i", len(resp)) + resp
                        )
                except (ValueError, ConnectionError, OSError):
                    return

        self._server = socketserver.ThreadingTCPServer(
            (host, port), Handler, bind_and_activate=True
        )
        self._server.daemon_threads = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._logs: dict[tuple[str, int], _Log] = {}
        #: group -> {(topic, partition): (offset, metadata)} — the
        #: broker-side store behind OffsetCommit/OffsetFetch (a real
        #: broker keeps this in __consumer_offsets; the semantics the
        #: clients see are identical).
        self._group_offsets: dict[
            str, dict[tuple[str, int], tuple[int, str]]
        ] = {}
        #: group -> membership state (JoinGroup/SyncGroup/Heartbeat/
        #: LeaveGroup v0). The broker's half of the coordination
        #: protocol: member ids, generation bumps on membership change,
        #: leader election (first joiner), protocol selection, and
        #: opaque relay of the leader's assignments. A real
        #: coordinator parks JoinGroup responses until the rebalance
        #: barrier; this broker responds immediately and stales-out
        #: old generations instead (ILLEGAL_GENERATION on
        #: sync/heartbeat), which drives the same client rejoin loop.
        self._groups: dict[str, dict] = {}
        self._member_seq = 0
        self._lock = threading.Lock()

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def __enter__(self) -> tuple[str, int]:
        self._thread.start()
        return self.address

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()

    # -- request dispatch --

    def _dispatch(self, frame: bytes) -> bytes:
        r = _Reader(frame)
        api_key = r.i16()
        api_version = r.i16()
        corr = r.i32()
        r.string()  # client_id
        if api_key == API_PRODUCE and api_version == 3:
            body = self._produce_v3(r)
        elif api_key == API_FETCH and api_version == 4:
            body = self._fetch_v4(r)
        elif api_key == API_METADATA and api_version == 0:
            body = self._metadata(r)
        elif api_key == API_LIST_OFFSETS and api_version == 0:
            body = self._list_offsets(r)
        elif api_key == API_OFFSET_COMMIT and api_version in (0, 1, 2):
            body = self._offset_commit(r, api_version)
        elif api_key == API_OFFSET_FETCH and api_version in (0, 1, 2):
            body = self._offset_fetch(r, api_version)
        elif api_key == API_FIND_COORDINATOR and api_version in (0, 1):
            body = self._find_coordinator(r, api_version)
        elif api_key == API_API_VERSIONS and api_version == 0:
            body = self._api_versions()
        elif api_key == API_JOIN_GROUP and api_version == 0:
            body = self._join_group(r)
        elif api_key == API_SYNC_GROUP and api_version == 0:
            body = self._sync_group(r)
        elif api_key == API_HEARTBEAT and api_version == 0:
            body = self._heartbeat(r)
        elif api_key == API_LEAVE_GROUP and api_version == 0:
            body = self._leave_group(r)
        elif api_key == API_CREATE_TOPICS and api_version == 0:
            body = self._create_topics(r)
        elif api_key == API_DELETE_TOPICS and api_version == 0:
            body = self._delete_topics(r)
        else:
            raise ValueError(
                f"unsupported api key {api_key} v{api_version}"
            )
        return struct.pack(">i", corr) + body

    def _produce_v3(self, r: _Reader) -> bytes:
        r.string()  # transactional_id
        r.i16()  # acks
        r.i32()  # timeout
        out = bytearray()
        n_topics = r.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = r.string()
            out += _enc_str(topic)
            n_parts = r.i32()
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid = r.i32()
                batches = r.take(r.i32())
                recs = [
                    (k, v, ts, hs)
                    for _, ts, k, v, hs in decode_record_batches(batches)
                ]
                with self._lock:
                    log = self._logs.setdefault(
                        (topic, pid), _Log(records=[])
                    )
                    base = log.append(recs)
                # partition, error, base_offset, log_append_time(-1)
                out += struct.pack(">ihqq", pid, ERR_NONE, base, -1)
        out += struct.pack(">i", 0)  # throttle_time_ms
        return bytes(out)

    def _fetch_v4(self, r: _Reader) -> bytes:
        r.i32()  # replica_id
        r.i32()  # max_wait
        r.i32()  # min_bytes
        r.i32()  # max_bytes (response-level; per-partition cap applies)
        r.i8()  # isolation_level
        out = bytearray()
        out += struct.pack(">i", 0)  # throttle_time_ms
        n_topics = r.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = r.string()
            out += _enc_str(topic)
            n_parts = r.i32()
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid = r.i32()
                offset = r.i64()
                max_bytes = r.i32()
                with self._lock:
                    log = self._logs.get((topic, pid))
                    if log is None:
                        out += struct.pack(
                            ">ihqq",
                            pid,
                            ERR_UNKNOWN_TOPIC_OR_PARTITION,
                            -1,
                            -1,
                        )
                        out += struct.pack(">ii", 0, 0)  # aborted, bytes
                        continue
                    try:
                        batch = log.read_v2(offset, max_bytes=max_bytes)
                    except IndexError:
                        batch = b""
                    hw = len(log.records)
                # partition, error, high_watermark, last_stable_offset,
                # aborted_transactions (empty), record set
                out += struct.pack(">ihqq", pid, ERR_NONE, hw, hw)
                out += struct.pack(">i", 0)
                out += struct.pack(">i", len(batch)) + batch
        return bytes(out)

    def _create_topics(self, r: _Reader) -> bytes:
        n = r.i32()
        reqs = []
        for _ in range(n):
            topic = r.string()
            partitions = r.i32()
            r.i16()  # replication factor (single-broker: accepted as-is)
            for _ in range(r.i32()):  # replica assignments
                r.i32()
                for _ in range(r.i32()):
                    r.i32()
            for _ in range(r.i32()):  # config entries
                r.string(), r.string()
            reqs.append((topic, partitions))
        r.i32()  # timeout_ms
        out = bytearray(struct.pack(">i", len(reqs)))
        with self._lock:
            for topic, partitions in reqs:
                if any(t == topic for t, _ in self._logs):
                    err = ERR_TOPIC_ALREADY_EXISTS
                elif partitions < 1:
                    err = ERR_INVALID_PARTITIONS
                else:
                    for p in range(partitions):
                        self._logs[(topic, p)] = _Log(records=[])
                    err = ERR_NONE
                out += _enc_str(topic) + struct.pack(">h", err)
        return bytes(out)

    def _delete_topics(self, r: _Reader) -> bytes:
        n = r.i32()
        topics = [r.string() for _ in range(n)]
        r.i32()  # timeout_ms
        out = bytearray(struct.pack(">i", len(topics)))
        with self._lock:
            for topic in topics:
                keys = [k for k in self._logs if k[0] == topic]
                if not keys:
                    err = ERR_UNKNOWN_TOPIC_OR_PARTITION
                else:
                    for k in keys:
                        del self._logs[k]
                    err = ERR_NONE
                out += _enc_str(topic) + struct.pack(">h", err)
        return bytes(out)

    def _metadata(self, r: _Reader) -> bytes:
        n = r.i32()
        requested = [r.string() for _ in range(n)]
        host, port = self.address
        with self._lock:
            known = sorted({t for t, _ in self._logs})
        topics = requested or known
        out = bytearray()
        out += struct.pack(">i", 1)  # one broker: us
        out += struct.pack(">i", 0) + _enc_str(host) + struct.pack(
            ">i", port
        )
        out += struct.pack(">i", len(topics))
        for t in topics:
            with self._lock:
                parts = sorted(p for tt, p in self._logs if tt == t)
            if not parts:
                out += (
                    struct.pack(">h", ERR_UNKNOWN_TOPIC_OR_PARTITION)
                    + _enc_str(t)
                    + struct.pack(">i", 0)
                )
                continue
            out += struct.pack(">h", ERR_NONE) + _enc_str(t)
            out += struct.pack(">i", len(parts))
            for p in parts:
                # error, partition, leader=0, replicas=[0], isr=[0]
                out += struct.pack(">hii", ERR_NONE, p, 0)
                out += struct.pack(">ii", 1, 0)  # replicas
                out += struct.pack(">ii", 1, 0)  # isr
        return bytes(out)

    def _list_offsets(self, r: _Reader) -> bytes:
        r.i32()  # replica_id
        out = bytearray()
        n_topics = r.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = r.string()
            out += _enc_str(topic)
            n_parts = r.i32()
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid = r.i32()
                ts = r.i64()
                max_n = r.i32()
                with self._lock:
                    log = self._logs.get((topic, pid))
                if log is None:
                    out += struct.pack(
                        ">ih", pid, ERR_UNKNOWN_TOPIC_OR_PARTITION
                    ) + struct.pack(">i", 0)
                    continue
                # TS_LATEST -> log end; TS_EARLIEST -> log start (0 —
                # this broker never truncates); a concrete timestamp
                # degrades to log end (v0 stores no per-record index).
                offs = [0] if ts == TS_EARLIEST else [len(log.records)]
                offs = offs[: max(max_n, 0)]
                out += struct.pack(">ih", pid, ERR_NONE)
                out += struct.pack(">i", len(offs))
                for o in offs:
                    out += struct.pack(">q", o)
        return bytes(out)

    def _offset_commit(self, r: _Reader, api_version: int) -> bytes:
        group = r.string() or ""
        if api_version >= 1:
            r.i32()  # generation_id
            r.string()  # member_id
        if api_version >= 2:
            r.i64()  # retention_time
        out = bytearray()
        n_topics = r.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = r.string() or ""
            out += _enc_str(topic)
            n_parts = r.i32()
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid = r.i32()
                offset = r.i64()
                if api_version == 1:
                    r.i64()  # commit timestamp
                meta = r.string() or ""
                with self._lock:
                    if (topic, pid) not in self._logs:
                        err = ERR_UNKNOWN_TOPIC_OR_PARTITION
                    else:
                        self._group_offsets.setdefault(group, {})[
                            (topic, pid)
                        ] = (offset, meta)
                        err = ERR_NONE
                out += struct.pack(">ih", pid, err)
        return bytes(out)

    def _offset_fetch(self, r: _Reader, api_version: int) -> bytes:
        group = r.string() or ""
        n_topics = r.i32()
        with self._lock:
            committed = dict(self._group_offsets.get(group, {}))
        if n_topics < 0:  # v2 null array: every committed partition
            wanted: dict[str, list[int]] = {}
            for t, p in sorted(committed):
                wanted.setdefault(t, []).append(p)
        else:
            wanted = {}
            for _ in range(n_topics):
                topic = r.string() or ""
                pids = [r.i32() for _ in range(r.i32())]
                wanted.setdefault(topic, []).extend(pids)
        out = bytearray()
        out += struct.pack(">i", len(wanted))
        for topic, pids in wanted.items():
            out += _enc_str(topic) + struct.pack(">i", len(pids))
            for pid in pids:
                off, meta = committed.get((topic, pid), (-1, ""))
                out += struct.pack(">iq", pid, off)
                out += _enc_str(meta)
                out += struct.pack(">h", ERR_NONE)
        if api_version >= 2:
            out += struct.pack(">h", ERR_NONE)  # top-level error
        return bytes(out)

    def _find_coordinator(self, r: _Reader, api_version: int) -> bytes:
        r.string()  # group / coordinator key
        if api_version >= 1:
            r.i8()  # coordinator_type
        host, port = self.address
        out = bytearray()
        if api_version >= 1:
            out += struct.pack(">i", 0)  # throttle_time_ms
            out += struct.pack(">h", ERR_NONE)
            out += _enc_str(None)  # error_message
        else:
            out += struct.pack(">h", ERR_NONE)
        # sole broker: node 0 (same shape _metadata advertises)
        out += struct.pack(">i", 0) + _enc_str(host) + struct.pack(
            ">i", port
        )
        return bytes(out)

    # -- group membership handlers (r13) --

    #: The version table _api_versions advertises — exactly what the
    #: dispatch above serves (a test asserts the two cannot drift).
    SUPPORTED_APIS: dict[int, tuple[int, int]] = {
        API_PRODUCE: (3, 3),
        API_FETCH: (4, 4),
        API_LIST_OFFSETS: (0, 0),
        API_METADATA: (0, 0),
        API_OFFSET_COMMIT: (0, 2),
        API_OFFSET_FETCH: (0, 2),
        API_FIND_COORDINATOR: (0, 1),
        API_JOIN_GROUP: (0, 0),
        API_HEARTBEAT: (0, 0),
        API_LEAVE_GROUP: (0, 0),
        API_SYNC_GROUP: (0, 0),
        API_API_VERSIONS: (0, 0),
        API_CREATE_TOPICS: (0, 0),
        API_DELETE_TOPICS: (0, 0),
    }

    def _api_versions(self) -> bytes:
        out = bytearray(struct.pack(">h", ERR_NONE))
        out += struct.pack(">i", len(self.SUPPORTED_APIS))
        for key, (lo, hi) in sorted(self.SUPPORTED_APIS.items()):
            out += struct.pack(">hhh", key, lo, hi)
        return bytes(out)

    def _group(self, name: str) -> dict:
        return self._groups.setdefault(
            name,
            {
                "generation": 0,
                "members": {},  # member_id -> {protocol: metadata}
                "leader": "",
                "protocol": "",
                "assignments": {},  # member_id -> assignment bytes
            },
        )

    def _join_group(self, r: _Reader) -> bytes:
        group = r.string() or ""
        r.i32()  # session_timeout_ms
        member_id = r.string() or ""
        r.string()  # protocol_type
        protos: dict[str, bytes] = {}
        for _ in range(r.i32()):
            name = r.string() or ""
            protos[name] = r.nbytes() or b""
        with self._lock:
            g = self._group(group)
            if not member_id:
                self._member_seq += 1
                member_id = f"member-{self._member_seq}"
            # protocol selection FIRST (no state mutated on rejection):
            # the first protocol the joiner offers that every member of
            # the would-be group also offers.
            candidate = dict(g["members"])
            candidate[member_id] = protos
            common = ""
            for name in protos:
                if all(name in p for p in candidate.values()):
                    common = name
                    break
            if not common:
                return struct.pack(
                    ">hi", ERR_INCONSISTENT_GROUP_PROTOCOL, -1
                ) + _enc_str("") + _enc_str("") + _enc_str(
                    member_id
                ) + struct.pack(">i", 0)
            known = member_id in g["members"]
            g["members"] = candidate
            if not known:
                g["generation"] += 1
                g["assignments"].clear()
            if g["leader"] not in g["members"]:
                g["leader"] = next(iter(g["members"]))
            g["protocol"] = common
            out = bytearray(struct.pack(">h", ERR_NONE))
            out += struct.pack(">i", g["generation"])
            out += _enc_str(common)
            out += _enc_str(g["leader"])
            out += _enc_str(member_id)
            # member list only for the leader (protocol contract)
            if member_id == g["leader"]:
                out += struct.pack(">i", len(g["members"]))
                for m, p in g["members"].items():
                    out += _enc_str(m) + _enc_bytes(p.get(common))
            else:
                out += struct.pack(">i", 0)
            return bytes(out)

    def _sync_group(self, r: _Reader) -> bytes:
        group = r.string() or ""
        gen = r.i32()
        member_id = r.string() or ""
        incoming: dict[str, bytes] = {}
        for _ in range(r.i32()):
            m = r.string() or ""
            incoming[m] = r.nbytes() or b""
        with self._lock:
            g = self._groups.get(group)
            if g is None or member_id not in g["members"]:
                return struct.pack(">h", ERR_UNKNOWN_MEMBER_ID) + _enc_bytes(
                    None
                )
            if gen != g["generation"]:
                return struct.pack(
                    ">h", ERR_ILLEGAL_GENERATION
                ) + _enc_bytes(None)
            if incoming:
                if member_id != g["leader"]:
                    return struct.pack(
                        ">h", ERR_UNKNOWN_MEMBER_ID
                    ) + _enc_bytes(None)
                g["assignments"] = dict(incoming)
            blob = g["assignments"].get(member_id, b"")
            return struct.pack(">h", ERR_NONE) + _enc_bytes(blob)

    def _heartbeat(self, r: _Reader) -> bytes:
        group = r.string() or ""
        gen = r.i32()
        member_id = r.string() or ""
        with self._lock:
            g = self._groups.get(group)
            if g is None or member_id not in g["members"]:
                return struct.pack(">h", ERR_UNKNOWN_MEMBER_ID)
            if gen != g["generation"]:
                return struct.pack(">h", ERR_ILLEGAL_GENERATION)
            return struct.pack(">h", ERR_NONE)

    def _leave_group(self, r: _Reader) -> bytes:
        group = r.string() or ""
        member_id = r.string() or ""
        with self._lock:
            g = self._groups.get(group)
            if g is None or member_id not in g["members"]:
                return struct.pack(">h", ERR_UNKNOWN_MEMBER_ID)
            del g["members"][member_id]
            g["generation"] += 1
            g["assignments"].clear()
            if g["leader"] == member_id:
                g["leader"] = next(iter(g["members"]), "")
            return struct.pack(">h", ERR_NONE)
