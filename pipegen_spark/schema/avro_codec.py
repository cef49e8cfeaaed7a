"""Avro binary codec (encode + decode): a row codec and a column plan.

Implements the Avro 1.x binary encoding — zigzag-varint ints/longs,
little-endian IEEE floats/doubles, length-prefixed bytes/strings, records
as field concatenation, unions as branch-index + value, arrays/maps as
blocked sequences — so the Confluent wire path
(internal/pipeline/producer.go:424-447 BinaryFromNative + header) works
without the spark-avro jar. The reference uses goavro's codec for exactly
this role.

Two codecs share that encoding:

- `AvroCodec`: any schema, one Python value at a time. Logical types are
  passed through as their underlying primitive (caller converts),
  matching goavro's default behavior for the subset the reference
  generates.
- `ColumnPlan`: a flat record schema (primitives, `["null", primitive]`
  unions, `date`, `timestamp-millis` and `timestamp-micros`) compiled
  once, then encoded from and decoded to Arrow columns with numpy, a
  field of every row per pass. It writes and reads the same bytes and
  values as `AvroCodec`, which stays as its test oracle.

`encode_table` / `decode_table` pick the plan when the schema compiles
and `AvroCodec` otherwise.
"""

from __future__ import annotations

import functools
import io
import json
import struct

import numpy as np
import pyarrow as pa

from pipegen_spark.sources.kafka_wire import (
    VARINT_PAD,
    concat_rows,
    decode_varints,
    encode_varints,
    segment_index,
)

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


class AvroCodecError(ValueError):
    pass


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(buf: io.BytesIO, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _write_long(buf: io.BytesIO, n: int) -> None:
    _write_varint(buf, _zigzag_encode(n))


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise AvroCodecError("truncated Avro payload")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            (b,) = self.read(1)
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return _zigzag_decode(acc)
            shift += 7
            if shift > 70:
                raise AvroCodecError("varint too long")


class AvroCodec:
    """Binary encoder/decoder for one Avro schema (dict or JSON string)."""

    def __init__(self, schema) -> None:
        if isinstance(schema, (str, bytes)):
            schema = json.loads(schema)
        self.schema = schema
        self._named: dict[str, dict] = {}
        self._collect_named(schema)

    # named-type references ("type": "MyRecord") resolve via this registry
    def _collect_named(self, s) -> None:
        if isinstance(s, list):
            for b in s:
                self._collect_named(b)
        elif isinstance(s, dict):
            t = s.get("type")
            if t in ("record", "enum", "fixed") and s.get("name"):
                ns = s.get("namespace", "")
                self._named[s["name"]] = s
                if ns:
                    self._named[f"{ns}.{s['name']}"] = s
            if t == "record":
                for f in s.get("fields", []):
                    self._collect_named(f.get("type"))
            elif t == "array":
                self._collect_named(s.get("items"))
            elif t == "map":
                self._collect_named(s.get("values"))
            elif isinstance(t, (dict, list)):
                self._collect_named(t)

    def _resolve(self, s):
        if isinstance(s, str) and s not in _PRIMITIVES:
            if s in self._named:
                return self._named[s]
            raise AvroCodecError(f"unknown Avro type: {s}")
        if isinstance(s, dict):
            t = s.get("type")
            # {"type": "int", "logicalType": ...} → underlying primitive;
            # {"type": {...}} wrapper → unwrap
            if isinstance(t, str) and t in _PRIMITIVES:
                return t
            if isinstance(t, (dict, list)):
                return self._resolve(t)
            if t in ("record", "enum", "fixed", "array", "map"):
                return s
            if isinstance(t, str):
                return self._resolve(t)
        return s

    # --- encode ---------------------------------------------------------------

    def encode(self, value) -> bytes:
        buf = io.BytesIO()
        self._write(self.schema, value, buf)
        return buf.getvalue()

    def _write(self, schema, value, buf: io.BytesIO) -> None:
        s = self._resolve(schema)
        if isinstance(s, list):
            idx = self._pick_branch(s, value)
            _write_long(buf, idx)
            self._write(s[idx], value, buf)
            return
        if isinstance(s, str):
            self._write_primitive(s, value, buf)
            return
        t = s["type"]
        if t == "record":
            if not isinstance(value, dict):
                raise AvroCodecError(
                    f"record {s.get('name')} needs a dict, got {type(value).__name__}"
                )
            for f in s.get("fields", []):
                if f["name"] not in value and "default" in f:
                    self._write(f["type"], f["default"], buf)
                else:
                    self._write(f["type"], value.get(f["name"]), buf)
        elif t == "enum":
            symbols = s.get("symbols", [])
            try:
                _write_long(buf, symbols.index(value))
            except ValueError:
                raise AvroCodecError(
                    f"{value!r} not in enum {s.get('name')} symbols"
                ) from None
        elif t == "fixed":
            size = int(s.get("size", 0))
            if not isinstance(value, (bytes, bytearray)) or len(value) != size:
                raise AvroCodecError(f"fixed {s.get('name')} needs {size} bytes")
            buf.write(bytes(value))
        elif t == "array":
            items = list(value or [])
            if items:
                _write_long(buf, len(items))
                for it in items:
                    self._write(s.get("items", "string"), it, buf)
            _write_long(buf, 0)
        elif t == "map":
            entries = dict(value or {})
            if entries:
                _write_long(buf, len(entries))
                for k, v in entries.items():
                    _write_bytes(buf, str(k).encode("utf-8"))
                    self._write(s.get("values", "string"), v, buf)
            _write_long(buf, 0)
        else:
            raise AvroCodecError(f"unsupported Avro type: {t!r}")

    def _write_primitive(self, t: str, value, buf: io.BytesIO) -> None:
        if t == "null":
            if value is not None:
                raise AvroCodecError(f"null type got {value!r}")
        elif t == "boolean":
            buf.write(b"\x01" if value else b"\x00")
        elif t in ("int", "long"):
            _write_long(buf, int(value))
        elif t == "float":
            buf.write(struct.pack("<f", float(value)))
        elif t == "double":
            buf.write(struct.pack("<d", float(value)))
        elif t == "bytes":
            _write_bytes(buf, bytes(value))
        elif t == "string":
            _write_bytes(buf, str(value).encode("utf-8"))
        else:
            raise AvroCodecError(f"unknown primitive: {t}")

    def _pick_branch(self, branches: list, value) -> int:
        for i, b in enumerate(branches):
            if self._matches(b, value):
                return i
        raise AvroCodecError(
            f"no union branch in {branches!r} matches {value!r}"
        )

    def _matches(self, schema, value) -> bool:
        s = self._resolve(schema)
        if isinstance(s, str):
            if s == "null":
                return value is None
            if s == "boolean":
                return isinstance(value, bool)
            if s in ("int", "long"):
                return isinstance(value, int) and not isinstance(value, bool)
            if s in ("float", "double"):
                return isinstance(value, (int, float)) and not isinstance(
                    value, bool
                )
            if s == "string":
                return isinstance(value, str)
            if s == "bytes":
                return isinstance(value, (bytes, bytearray))
            return False
        if isinstance(s, list):
            return any(self._matches(b, value) for b in s)
        t = s.get("type")
        if t in ("record", "map"):
            return isinstance(value, dict)
        if t == "array":
            return isinstance(value, (list, tuple))
        if t == "enum":
            return isinstance(value, str) and value in s.get("symbols", [])
        if t == "fixed":
            return isinstance(value, (bytes, bytearray))
        return False

    # --- decode ---------------------------------------------------------------

    def decode(self, data: bytes, pos: int = 0):
        r = _Reader(data, pos)
        out = self._read(self.schema, r)
        return out

    def _read(self, schema, r: _Reader):
        s = self._resolve(schema)
        if isinstance(s, list):
            idx = r.read_long()
            if not 0 <= idx < len(s):
                raise AvroCodecError(f"union branch {idx} out of range")
            return self._read(s[idx], r)
        if isinstance(s, str):
            return self._read_primitive(s, r)
        t = s["type"]
        if t == "record":
            return {
                f["name"]: self._read(f["type"], r)
                for f in s.get("fields", [])
            }
        if t == "enum":
            symbols = s.get("symbols", [])
            idx = r.read_long()
            if not 0 <= idx < len(symbols):
                raise AvroCodecError(f"enum index {idx} out of range")
            return symbols[idx]
        if t == "fixed":
            return r.read(int(s.get("size", 0)))
        if t == "array":
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:  # blocked form: negative count + byte size
                    n = -n
                    r.read_long()
                for _ in range(n):
                    out.append(self._read(s.get("items", "string"), r))
        if t == "map":
            out = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read(r.read_long()).decode("utf-8")
                    out[k] = self._read(s.get("values", "string"), r)
        raise AvroCodecError(f"unsupported Avro type: {t!r}")

    def _read_primitive(self, t: str, r: _Reader):
        if t == "null":
            return None
        if t == "boolean":
            return r.read(1) == b"\x01"
        if t in ("int", "long"):
            return r.read_long()
        if t == "float":
            return struct.unpack("<f", r.read(4))[0]
        if t == "double":
            return struct.unpack("<d", r.read(8))[0]
        if t == "bytes":
            return r.read(r.read_long())
        if t == "string":
            return r.read(r.read_long()).decode("utf-8")
        raise AvroCodecError(f"unknown primitive: {t}")



# --- column plan: flat records a column at a time -----------------------------

#: (Avro base type, logical type) -> plan kind, for the logical types a
#: flat record carries.
_PLAN_LOGICAL = {
    ("int", "date"): "date",
    ("long", "timestamp-millis"): "timestamp-millis",
    ("long", "timestamp-micros"): "timestamp-micros",
}
_VARINT_KINDS = ("int", "long", "date", "timestamp-millis", "timestamp-micros")
_FLOAT_DTYPES = {"float": "<f4", "double": "<f8"}


def _plan_kind(t) -> str | None:
    if isinstance(t, str):
        return t if t in _PRIMITIVES and t != "null" else None
    if isinstance(t, dict) and isinstance(t.get("type"), str):
        if "logicalType" not in t:
            return _plan_kind(t["type"])
        return _PLAN_LOGICAL.get((t["type"], t["logicalType"]))
    return None


#: The Arrow type each plan kind decodes to.
_ARROW_TYPES = {
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "bytes": pa.binary(),
    "string": pa.string(),
    "date": pa.date32(),
    "timestamp-millis": pa.timestamp("ms", tz="UTC"),
    "timestamp-micros": pa.timestamp("us", tz="UTC"),
}
_VARLEN_TYPES = (pa.string(), pa.large_string(), pa.binary(), pa.large_binary())


class ColumnPlan:
    """A flat record schema compiled once into columns: per field its
    name, kind (a primitive, `date` or a `timestamp-*`) and whether
    it is a `["null", kind]` union. Encodes Arrow columns to Avro
    bodies and decodes bodies to Arrow columns a field at a time, with
    the bytes and values of `AvroCodec`. `compile` returns None for any
    other schema."""

    def __init__(self, fields: list[tuple[str, str, bool]]) -> None:
        self.fields = fields

    @classmethod
    def compile(cls, schema) -> ColumnPlan | None:
        if isinstance(schema, (str, bytes)):
            schema = json.loads(schema)
        if not isinstance(schema, dict) or schema.get("type") != "record":
            return None
        fields = []
        for f in schema.get("fields", []):
            t = f.get("type")
            nullable = isinstance(t, list) and len(t) == 2 and t[0] == "null"
            kind = _plan_kind(t[1] if nullable else t)
            if kind is None:
                return None
            fields.append((f["name"], kind, nullable))
        return cls(fields)

    def encode(self, table, prefix: bytes = b""):
        """Arrow table or record batch (a column per field, by name) ->
        binary array of `prefix` + Avro body per row."""
        n = table.num_rows
        ones = np.ones(n, dtype=np.int64)
        parts = []
        if prefix:
            head = np.frombuffer(prefix, dtype=np.uint8)
            parts.append((np.broadcast_to(head, (n, len(head))), ones * len(head)))
        for name, kind, nullable in self.fields:
            arr = _array(table.column(name))
            valid = None
            if arr.null_count:
                if not nullable:
                    raise AvroCodecError(f"null in non-nullable field {name!r}")
                valid = arr.is_valid().to_numpy(zero_copy_only=False)
            if nullable:  # branch 1 (zigzag 2) holds the value, 0 is null
                branch = ones * 2 if valid is None else valid * 2
                parts.append((branch.astype(np.uint8)[:, None], ones))
            parts.extend(_encode_column(arr, kind, valid))
        buf, offsets = concat_rows(parts, n)
        return _binary_array(offsets, buf)

    def decode(self, frames, skip: int = 0):
        """Arrow binary array of frames -> Arrow table, one column per
        field; each body starts `skip` bytes into its frame. Every read
        is checked against its own frame's end."""
        frames = _array(frames)
        starts, sizes, data = _binary_buffers(frames)
        n = len(frames)
        ends = starts + sizes
        pos = starts + skip
        # a frame shorter than `skip` starts past the data; pad for it too
        buf = np.concatenate([data, np.zeros(skip + VARINT_PAD, dtype=np.uint8)])
        columns = {}
        try:
            for name, kind, nullable in self.fields:
                valid = sel = None
                if nullable:
                    branch, width = decode_varints(buf, pos, ends)
                    bad = (branch != 0) & (branch != 1)
                    if bad.any():
                        raise AvroCodecError(
                            f"union branch {int(branch[bad][0])} out of range"
                        )
                    pos += width
                    valid = branch == 1
                    sel = np.flatnonzero(valid)
                if sel is None:
                    values, pos = _decode_column(kind, buf, pos, ends)
                else:
                    values, pos[sel] = _decode_column(kind, buf, pos[sel], ends[sel])
                columns[name] = _column(kind, values, valid, sel, n)
        except AvroCodecError:
            raise
        except ValueError as e:  # the varint reader's bounds checks
            raise AvroCodecError(f"truncated Avro payload: {e}") from e
        return pa.table(columns)


def _array(col):
    """One contiguous Arrow array of a column."""
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


def _fixed_values(arr, dtype) -> np.ndarray:
    """The value buffer of a fixed-width Arrow array (null slots hold
    whatever the buffer holds)."""
    buf = arr.buffers()[1]
    if buf is None:
        return np.zeros(len(arr), dtype=dtype)
    return np.frombuffer(buf, dtype=dtype)[arr.offset : arr.offset + len(arr)]


def _binary_buffers(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(starts, sizes, data) of a string or binary array, as int64 and
    uint8 arrays; a null slot has size 0."""
    wide = arr.type in (pa.large_string(), pa.large_binary())
    _, off, data = arr.buffers()
    offsets = np.frombuffer(off, dtype=np.int64 if wide else np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    starts, sizes = offsets[:-1], np.diff(offsets)
    if arr.null_count:
        sizes[~arr.is_valid().to_numpy(zero_copy_only=False)] = 0
    data = np.empty(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
    return starts, sizes, data


def frames_to_bytes(frames) -> list[bytes]:
    """Binary array -> one bytes object per frame."""
    starts, sizes, data = _binary_buffers(_array(frames))
    buf = data.tobytes()
    return [buf[a:b] for a, b in zip(starts.tolist(), (starts + sizes).tolist())]


def _binary_array(offsets: np.ndarray, data: np.ndarray, typ=None, validity=None):
    """Arrow binary (or `typ`) array over n + 1 offsets and the data."""
    typ = typ or pa.binary()
    if offsets[-1] > np.iinfo(np.int32).max:
        typ = pa.large_string() if typ == pa.string() else pa.large_binary()
        off = offsets.astype(np.int64)
    else:
        off = offsets.astype(np.int32)
    return pa.Array.from_buffers(
        typ, len(offsets) - 1, [validity, pa.py_buffer(off), pa.py_buffer(data)]
    )


def _int64s(arr, kind: str) -> np.ndarray:
    """int64 values of an integer, date or timestamp column (a timestamp
    in the unit of `kind`: millis or micros)."""
    t = arr.type
    if pa.types.is_timestamp(t):
        unit = "ms" if kind == "timestamp-millis" else "us"
        if t.unit != unit:
            arr = arr.cast(pa.timestamp(unit, t.tz), safe=False)
        return _fixed_values(arr, np.int64)
    if pa.types.is_date32(t):
        return _fixed_values(arr, np.int32).astype(np.int64)
    if t != pa.int64():
        arr = arr.cast(pa.int64(), safe=False)
    return _fixed_values(arr, np.int64)


def _encode_column(arr, kind: str, valid) -> list[tuple]:
    """`concat_rows` parts of one field; null rows (valid False) get
    empty pieces."""
    n = len(arr)

    def mask(lens):
        return lens if valid is None else np.where(valid, lens, 0)

    if kind in _VARINT_KINDS:
        mat, lens = encode_varints(_int64s(arr, kind))
        return [(mat, mask(lens))]
    if kind in _FLOAT_DTYPES:
        dtype = np.dtype(_FLOAT_DTYPES[kind])
        values = _fixed_values(arr.cast(_ARROW_TYPES[kind]), dtype)
        mat = np.ascontiguousarray(values).view(np.uint8).reshape(n, dtype.itemsize)
        return [(mat, mask(np.full(n, dtype.itemsize)))]
    if kind == "boolean":
        values = arr.cast(pa.bool_()).fill_null(False).to_numpy(zero_copy_only=False)
        return [(values.astype(np.uint8)[:, None], mask(np.ones(n, np.int64)))]
    if arr.type not in _VARLEN_TYPES:
        arr = arr.cast(_ARROW_TYPES[kind])
    starts, sizes, data = _binary_buffers(arr)
    mat, lens = encode_varints(sizes)
    return [(mat, mask(lens)), (data, starts, sizes)]


def _decode_column(kind: str, buf, pos, end):
    """One field of every row at `pos` -> (values, positions after)."""
    if kind in _VARINT_KINDS:
        values, width = decode_varints(buf, pos, end)
        if kind in ("int", "date"):
            if ((values < -(1 << 31)) | (values >= 1 << 31)).any():
                raise AvroCodecError(f"{kind} value out of int32 range")
            values = values.astype(np.int32)
        return values, pos + width
    if kind in _FLOAT_DTYPES or kind == "boolean":
        dtype = np.dtype(_FLOAT_DTYPES.get(kind, "u1"))
        if (end - pos < dtype.itemsize).any():
            raise AvroCodecError("truncated Avro payload")
        raw = buf[pos[:, None] + np.arange(dtype.itemsize)]
        values = raw.view(dtype)[:, 0] if kind != "boolean" else raw[:, 0] == 1
        return values, pos + dtype.itemsize
    sizes, width = decode_varints(buf, pos, end)
    pos = pos + width
    if (sizes < 0).any():
        raise AvroCodecError(f"negative {kind} length")
    if (sizes > end - pos).any():
        raise AvroCodecError("truncated Avro payload")
    return (buf[segment_index(pos, sizes)], sizes), pos + sizes


def _column(kind: str, values, valid, sel, n: int):
    """Arrow array of n rows: `values` at the rows `sel` (every row when
    None), null elsewhere."""
    typ = _ARROW_TYPES[kind]
    validity = None if valid is None else pa.py_buffer(
        np.packbits(valid, bitorder="little")
    )
    if kind in ("string", "bytes"):
        data, sizes = values
        if sel is not None:
            full = np.zeros(n, dtype=np.int64)
            full[sel] = sizes
            sizes = full
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        arr = _binary_array(offsets, data, typ, validity)
        if kind == "string":
            try:
                arr.validate(full=True)
            except pa.ArrowInvalid as e:
                raise AvroCodecError(f"invalid UTF-8 in a string: {e}") from e
        return arr
    if sel is not None:
        full = np.zeros(n, dtype=values.dtype)
        full[sel] = values
        values = full
    if kind == "boolean":
        return pa.array(values, pa.bool_(), mask=None if valid is None else ~valid)
    return pa.Array.from_buffers(
        typ, n, [validity, pa.py_buffer(np.ascontiguousarray(values))]
    )


def encode_table(table, schema, prefix: bytes = b""):
    """Arrow table or record batch -> binary array of `prefix` + Avro
    body per row: the column plan for a flat record schema, `AvroCodec`
    row by row for any other."""
    plan = column_plan(schema)
    if plan is not None:
        return plan.encode(table, prefix)
    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    codec = AvroCodec(schema)
    units, native = _native_schemas(table.schema, codec)
    rows = _py_value(
        table.cast(units, safe=False).cast(native).to_pylist(),
        pa.list_(pa.struct(list(native))),
    )
    return pa.array([prefix + codec.encode(r) for r in rows], pa.binary())


def decode_table(frames, schema, target, skip: int = 0):
    """Binary array of frames -> Arrow table with the `target` schema's
    columns and types; each body starts `skip` bytes into its frame. A
    target column the record lacks is all null."""
    frames = _array(frames)
    plan = column_plan(schema)
    if plan is not None:
        table = plan.decode(frames, skip)
    else:
        codec = AvroCodec(schema)
        units, native = _native_schemas(target, codec)
        table = pa.Table.from_pylist(
            [codec.decode(v, skip) for v in frames.to_pylist()], schema=native
        ).cast(units)
    return pa.Table.from_arrays(
        [
            table.column(f.name).cast(f.type)
            if f.name in table.column_names
            else pa.nulls(len(frames), f.type)
            for f in target
        ],
        schema=target,
    )


def _native_type(t, avro, named: dict, ints: bool = True):
    """Arrow type `t` as `AvroCodec` reads and writes it for the Avro
    type `avro` (`named`: its named types): dates as int32 days,
    timestamps as int64 millis for `timestamp-millis` and micros
    otherwise, or with `ints=False` as Arrow timestamps in that unit."""
    if isinstance(avro, list):  # a union: its one non-null branch
        branches = [b for b in avro if b != "null"]
        avro = branches[0] if len(branches) == 1 else None
    if isinstance(avro, str):
        avro = named.get(avro)
    if isinstance(avro, dict) and isinstance(avro.get("type"), (dict, list)):
        return _native_type(t, avro["type"], named, ints)
    avro = avro if isinstance(avro, dict) else {}

    def inner(sub_t, key):
        return _native_type(sub_t, avro.get(key), named, ints)

    if pa.types.is_timestamp(t):
        millis = avro.get("logicalType") == "timestamp-millis"
        return pa.int64() if ints else pa.timestamp("ms" if millis else "us", t.tz)
    if pa.types.is_date32(t):
        return pa.int32()
    if pa.types.is_map(t):
        return pa.map_(t.key_type, inner(t.item_type, "values"))
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(inner(t.value_type, "items")))
    if pa.types.is_struct(t):
        types = {f["name"]: f["type"] for f in avro.get("fields", [])}
        return pa.struct(
            [f.with_type(_native_type(f.type, types.get(f.name), named, ints))
             for f in t]
        )
    return t


def _native_schemas(schema: pa.Schema, codec: AvroCodec):
    """(timestamps in their Avro unit, fully native) schemas of `schema`."""
    t = pa.struct(list(schema))
    units = _native_type(t, codec.schema, codec._named, ints=False)
    native = _native_type(t, codec.schema, codec._named)
    return pa.schema(list(units)), pa.schema(list(native))


def _py_value(value, t):
    """An Arrow `to_pylist` value with its maps (lists of key-value
    pairs) turned into the dicts `AvroCodec` takes."""
    if value is None:
        return None
    if pa.types.is_map(t):
        return {k: _py_value(v, t.item_type) for k, v in value}
    if pa.types.is_list(t):
        return [_py_value(v, t.value_type) for v in value]
    if pa.types.is_struct(t):
        return {f.name: _py_value(value[f.name], f.type) for f in t}
    return value


@functools.lru_cache(maxsize=64)
def _cached_plan(schema_json: str) -> ColumnPlan | None:
    return ColumnPlan.compile(schema_json)


def column_plan(schema) -> ColumnPlan | None:
    """The compiled column plan of a schema (JSON text or dict), None
    when it is not a flat record of plan kinds."""
    if not isinstance(schema, str):
        schema = json.dumps(schema, sort_keys=True)
    return _cached_plan(schema)
