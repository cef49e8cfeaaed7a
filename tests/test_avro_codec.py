"""Pure-Python Avro binary codec tests: spec-documented byte sequences,
structured roundtrips, and the distributed Confluent wire path roundtrip
through Spark (mapInPandas fallback — no spark-avro jar in this env)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pipegen_spark.schema.avro_codec import AvroCodec, AvroCodecError

REC = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "ok", "type": "boolean"},
        {"name": "note", "type": ["null", "string"]},
    ],
}


def test_zigzag_spec_vectors():
    """The Avro spec's documented varint/zigzag encodings for int/long."""
    c = AvroCodec({"type": "record", "name": "r",
                   "fields": [{"name": "v", "type": "long"}]})
    for value, expected in [
        (0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
        (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01"),
    ]:
        assert c.encode({"v": value}) == expected, value
        assert c.decode(expected) == {"v": value}


def test_primitive_encodings():
    c = AvroCodec({"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
    ]})
    # "foo" = len 3 (varint 0x06) + utf8; true = 0x01; 1.0 LE IEEE double
    assert c.encode({"s": "foo", "b": True, "d": 1.0}) == (
        b"\x06foo" + b"\x01" + b"\x00\x00\x00\x00\x00\x00\xf0\x3f"
    )


def test_nullable_union_branch_indexes():
    c = AvroCodec({"type": "record", "name": "r",
                   "fields": [{"name": "v", "type": ["null", "string"]}]})
    assert c.encode({"v": None}) == b"\x00"          # branch 0
    assert c.encode({"v": "a"}) == b"\x02\x02a"       # branch 1, len 1
    assert c.decode(b"\x00") == {"v": None}
    assert c.decode(b"\x02\x02a") == {"v": "a"}


def test_record_roundtrip():
    c = AvroCodec(json.dumps(REC))
    msg = {"id": 42, "name": "order-1", "score": 9.75, "ok": False,
           "note": None}
    assert c.decode(c.encode(msg)) == msg
    msg2 = dict(msg, note="hi", id=-(2**40))
    assert c.decode(c.encode(msg2)) == msg2


def test_array_map_enum_fixed_nested():
    schema = {
        "type": "record", "name": "Doc", "fields": [
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "counts", "type": {"type": "map", "values": "long"}},
            {"name": "color", "type": {"type": "enum", "name": "Color",
                                       "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "sig", "type": {"type": "fixed", "name": "Sig",
                                     "size": 4}},
            {"name": "sub", "type": {"type": "record", "name": "Sub",
                                     "fields": [{"name": "x", "type": "int"}]}},
            {"name": "again", "type": "Sub"},
        ],
    }
    c = AvroCodec(schema)
    msg = {
        "tags": ["a", "b"], "counts": {"k1": 1, "k2": -5},
        "color": "GREEN", "sig": b"\x01\x02\x03\x04",
        "sub": {"x": 7}, "again": {"x": -7},
    }
    assert c.decode(c.encode(msg)) == msg
    # empty array/map encode as a bare 0 terminator
    msg0 = dict(msg, tags=[], counts={})
    assert c.decode(c.encode(msg0)) == msg0


def test_errors():
    c = AvroCodec(REC)
    with pytest.raises(AvroCodecError, match="union branch"):
        c.encode({"id": 1, "name": "n", "score": 0.0, "ok": True,
                  "note": 3.5})
    with pytest.raises(AvroCodecError, match="truncated"):
        c.decode(b"\x06fo")
    with pytest.raises(AvroCodecError, match="unknown Avro type"):
        AvroCodec({"type": "record", "name": "r",
                   "fields": [{"name": "v", "type": "Missing"}]}).encode(
            {"v": 1})


@settings(max_examples=200, deadline=None)
@given(
    i=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    s=st.text(max_size=40),
    d=st.floats(allow_nan=False),
    b=st.binary(max_size=40),
    ok=st.booleans(),
    note=st.one_of(st.none(), st.text(max_size=20)),
)
def test_property_roundtrip(i, s, d, b, ok, note):
    schema = {
        "type": "record", "name": "P", "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "bytes"},
            {"name": "ok", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    c = AvroCodec(schema)
    msg = {"i": i, "s": s, "d": d, "b": b, "ok": ok, "note": note}
    assert c.decode(c.encode(msg)) == msg


def test_confluent_wire_roundtrip_spark(spark):
    """Full distributed wire roundtrip with the pure-Python fallback (no
    spark-avro jar in this container): encode rows → 0x00+id header +
    Avro body → decode back to typed columns, value-equal."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from pipegen_spark.schema.avsc import struct_to_avro
    from pipegen_spark.streaming import wire

    df = spark.range(50).select(
        F.col("id"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("score"),
        (F.col("id") % 2 == 0).alias("ok"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("n"), F.col("id")))
        .alias("note"),
    )
    ddl = "id bigint, name string, score double, ok boolean, note string"
    st_ = _parse_datatype_string(ddl)
    avro_json = struct_to_avro(st_, "Event")
    cols = ["id", "name", "score", "ok", "note"]

    encoded = wire.encode_confluent_avro(df, avro_json, 7, cols)
    rows = encoded.collect()
    assert all(bytes(r.value)[0] == 0 for r in rows)
    assert all(
        int.from_bytes(bytes(r.value)[1:5], "big") == 7 for r in rows
    )

    decoded = wire.decode_confluent_avro_py(encoded, avro_json, st_)
    got = sorted(
        (r.id, r.name, r.score, r.ok, r.note) for r in decoded.collect()
    )
    want = sorted(
        (r.id, r.name, r.score, r.ok, r.note) for r in df.collect()
    )
    assert got == want


def test_wire_decode_dispatch_uses_py_fallback(spark):
    """decode_confluent_avro (the public entry executor.py calls) must work
    end-to-end without the jar via a TableSpec-like object."""
    from pyspark.sql import functions as F

    from pipegen_spark.schema.avsc import struct_to_avro
    from pyspark.sql.types import _parse_datatype_string
    from pipegen_spark.streaming import wire

    class Spec:
        name = "ev"

        @staticmethod
        def schema_ddl():
            return "id bigint, label string"

    df = spark.range(10).select(
        "id", F.concat(F.lit("l"), F.col("id")).alias("label")
    )
    avro_json = struct_to_avro(
        _parse_datatype_string(Spec.schema_ddl()), Spec.name
    )
    encoded = wire.encode_confluent_avro(df, avro_json, 3, ["id", "label"])
    out = wire.decode_confluent_avro(encoded, Spec)
    assert sorted((r.id, r.label) for r in out.collect()) == [
        (i, f"l{i}") for i in range(10)
    ]

def test_wire_local_codec_matches_mapinpandas_path(spark):
    """encode_local/decode_local (the driver-side wire codec) against
    the distributed mapInPandas pair, row for row, on a nullable-union
    schema: null ints (which pandas widens to float64 within a batch),
    null strings, timestamps and dates. One partition, so the nulls and
    the values share an Arrow batch on the mapInPandas side too."""
    import datetime as dt

    from pipegen_spark.schema.avsc import struct_to_avro
    from pipegen_spark.streaming import wire

    rows = [
        (1, "a", dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.date(2024, 2, 29), 2**40),
        (None, None, None, None, None),
        (-3, "", dt.datetime(1969, 12, 31, 23, 59, 59), dt.date(1970, 1, 1), -7),
        (4, None, dt.datetime(2000, 1, 1), None, None),
    ]
    df = spark.createDataFrame(
        rows, "i int, s string, t timestamp, d date, l bigint"
    ).coalesce(1)
    avro_json = struct_to_avro(df.schema, "Nullable")
    assert json.loads(avro_json)["fields"][0]["type"] == ["null", "int"]

    local = wire.encode_local(df, avro_json, 9, df.columns)
    dist = [
        bytes(r.value)
        for r in wire.encode_confluent_avro_py(
            df, avro_json, 9, df.columns
        ).collect()
    ]
    assert local == dist

    back_local = wire.decode_local(spark, local, avro_json, df.schema)
    back_dist = wire.decode_confluent_avro_py(
        spark.createDataFrame([(v,) for v in dist], "value binary"),
        avro_json,
        df.schema,
    )
    assert back_local.schema == back_dist.schema == df.schema
    assert back_local.collect() == back_dist.collect()
    assert [tuple(r) for r in back_local.collect()] == rows


# --- column plan against the AvroCodec oracle -------------------------------

_KINDS = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "bytes": "bytes",
    "string": "string",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp-millis": {"type": "long", "logicalType": "timestamp-millis"},
    "timestamp-micros": {"type": "long", "logicalType": "timestamp-micros"},
}


def _boundaries(bits: int) -> list[int]:
    """0, ±2^7k (every varint length step) and the signed range ends."""
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    out = {0, lo, hi}
    for k in range(1, 10):
        out.update(v for v in (1 << 7 * k, -(1 << 7 * k)) if lo <= v <= hi)
        out.update(v for v in ((1 << 7 * k) - 1, -(1 << 7 * k) + 1) if lo <= v <= hi)
    return sorted(out)


def _int_values(bits: int):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return st.one_of(
        st.sampled_from(_boundaries(bits)), st.integers(min_value=lo, max_value=hi)
    )


_VALUES = {
    "boolean": st.booleans(),
    "int": _int_values(32),
    "long": _int_values(64),
    "float": st.floats(width=32, allow_nan=False),
    "double": st.floats(allow_nan=False),
    "bytes": st.binary(max_size=20),
    "string": st.one_of(st.just(""), st.text(max_size=12)),
    # days, millis and micros since the epoch, 1970 and before included
    "date": _int_values(32),
    "timestamp-millis": _int_values(64),
    "timestamp-micros": _int_values(64),
}


@st.composite
def _flat_records(draw, min_nullable: int = 0):
    """(schema, rows): a random flat record schema of plan kinds, each
    field nullable or not, and rows of Avro-native values for it."""
    kinds = draw(st.lists(st.sampled_from(sorted(_KINDS)), min_size=1, max_size=6))
    nullable = draw(st.lists(st.booleans(), min_size=len(kinds), max_size=len(kinds)))
    nullable[:min_nullable] = [True] * min_nullable
    fields = [
        {"name": f"f{i}", "type": ["null", _KINDS[k]] if n else _KINDS[k]}
        for i, (k, n) in enumerate(zip(kinds, nullable))
    ]
    rows = draw(
        st.lists(
            st.fixed_dictionaries(
                {
                    f["name"]: st.one_of(st.none(), _VALUES[k]) if n else _VALUES[k]
                    for f, k, n in zip(fields, kinds, nullable)
                }
            ),
            min_size=1,
            max_size=8,
        )
    )
    return {"type": "record", "name": "Flat", "fields": fields}, rows


def _arrow_table(plan, rows):
    """The rows as Arrow columns of the plan's decoded types (dates and
    timestamps built from their day, millisecond and microsecond
    counts)."""
    import pyarrow as pa

    from pipegen_spark.schema.avro_codec import _ARROW_TYPES

    cols = {}
    for name, kind, _ in plan.fields:
        typ = _ARROW_TYPES[kind]
        values = [r[name] for r in rows]
        if kind == "date":
            cols[name] = pa.array(values, pa.int32()).cast(typ)
        elif kind.startswith("timestamp-"):
            cols[name] = pa.array(values, pa.int64()).cast(typ)
        else:
            cols[name] = pa.array(values, typ)
    return pa.table(cols)


def _native_rows(table) -> list[dict]:
    """Decoded Arrow columns back to Avro-native values (dates and
    timestamps as their integer counts)."""
    import pyarrow as pa

    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_date32(col.type):
            col = col.cast(pa.int32())
        elif pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        cols[name] = col.to_pylist()
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


@settings(max_examples=300, deadline=None)
@given(_flat_records())
def test_column_plan_matches_avro_codec(schema_rows):
    """Random flat schemas at the varint boundaries: the column plan
    writes AvroCodec's bytes and reads them back to AvroCodec's values."""
    from pipegen_spark.schema.avro_codec import ColumnPlan

    schema, rows = schema_rows
    plan = ColumnPlan.compile(schema)
    assert plan is not None
    codec = AvroCodec(schema)
    header = b"\x00\x00\x00\x00\x07"
    frames = plan.encode(_arrow_table(plan, rows), header)
    assert frames.to_pylist() == [header + codec.encode(r) for r in rows]
    decoded = _native_rows(plan.decode(frames, skip=5))
    assert decoded == [codec.decode(f, 5) for f in frames.to_pylist()]
    assert decoded == rows


@settings(max_examples=200, deadline=None)
@given(_flat_records(), st.data())
def test_column_plan_truncation_raises_like_avro_codec(schema_rows, data):
    """A frame cut short raises AvroCodecError on both codecs; the plan
    raises even when a valid frame follows, instead of reading on into
    that frame's bytes."""
    import pyarrow as pa

    from pipegen_spark.schema.avro_codec import ColumnPlan

    schema, rows = schema_rows
    plan = ColumnPlan.compile(schema)
    codec = AvroCodec(schema)
    body = codec.encode(rows[0])
    cut = body[: data.draw(st.integers(0, len(body) - 1))]
    with pytest.raises(AvroCodecError):
        codec.decode(cut)
    with pytest.raises(AvroCodecError):
        plan.decode(pa.array([cut], pa.binary()))
    with pytest.raises(AvroCodecError):
        plan.decode(pa.array([cut, body], pa.binary()))


@settings(max_examples=100, deadline=None)
@given(
    _flat_records(min_nullable=1),
    st.integers(-64, 63).filter(lambda b: b not in (0, 1)),
)
def test_column_plan_bad_union_branch_raises_like_avro_codec(schema_rows, branch):
    """A `["null", T]` branch index other than 0 or 1 raises
    AvroCodecError on both codecs."""
    import pyarrow as pa

    from pipegen_spark.schema.avro_codec import ColumnPlan

    schema, rows = schema_rows
    body = AvroCodec(schema).encode(rows[0])
    bad = bytes([(branch << 1) ^ (branch >> 63)]) + body[1:]  # one-byte zigzag
    with pytest.raises(AvroCodecError, match="union branch"):
        AvroCodec(schema).decode(bad)
    with pytest.raises(AvroCodecError, match="union branch"):
        ColumnPlan.compile(schema).decode(pa.array([bad, body], pa.binary()))


@pytest.mark.parametrize(
    "field_type",
    [
        {"type": "array", "items": "long"},
        {"type": "map", "values": "string"},
        {"type": "enum", "name": "E", "symbols": ["A", "B"]},
        {"type": "fixed", "name": "F", "size": 2},
        {"type": "record", "name": "Sub", "fields": [{"name": "x", "type": "int"}]},
        ["null", "string", "long"],
        ["string", "null"],
        {"type": "long", "logicalType": "local-timestamp-millis"},
    ],
)
def test_column_plan_declines_what_it_does_not_cover(field_type):
    from pipegen_spark.schema.avro_codec import column_plan

    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": field_type}],
    }
    assert column_plan(schema) is None
    assert column_plan(json.dumps(schema)) is None


def test_nested_and_array_schemas_fall_back_to_avro_codec():
    """encode_table / decode_table on a schema the plan declines: the
    bytes are AvroCodec's (Arrow maps handed over as dicts), and they
    decode back to the same Arrow columns, a nested timestamp
    included."""
    import datetime as dt

    import pyarrow as pa

    from pipegen_spark.schema.avro_codec import decode_table, encode_table

    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "counts", "type": {"type": "map", "values": "long"}},
            {
                "name": "sub",
                "type": {
                    "type": "record",
                    "name": "Sub",
                    "fields": [
                        {
                            "name": "at",
                            "type": {"type": "long", "logicalType": "timestamp-micros"},
                        }
                    ],
                },
            },
        ],
    }
    utc = dt.timezone.utc
    table = pa.table(
        {
            "id": pa.array([1, -2], pa.int64()),
            "tags": pa.array([["a", "b"], []], pa.list_(pa.string())),
            "counts": pa.array(
                [[("k", 7)], []], pa.map_(pa.string(), pa.int64())
            ),
            "sub": pa.array(
                [{"at": dt.datetime(1969, 7, 20, tzinfo=utc)},
                 {"at": dt.datetime(2024, 2, 29, 12, tzinfo=utc)}],
                pa.struct([("at", pa.timestamp("us", tz="UTC"))]),
            ),
        }
    )
    frames = encode_table(table, schema, b"\x00\x00\x00\x00\x01")
    codec = AvroCodec(schema)
    micros = [-14_256_000_000_000, 1_709_208_000_000_000]
    assert frames.to_pylist() == [
        b"\x00\x00\x00\x00\x01"
        + codec.encode({"id": i, "tags": t, "counts": c, "sub": {"at": m}})
        for i, t, c, m in zip([1, -2], [["a", "b"], []], [{"k": 7}, {}], micros)
    ]
    assert decode_table(frames, schema, table.schema, skip=5).equals(table)


def test_timestamp_millis_is_written_as_millis():
    """A `timestamp-millis` field carries epoch milliseconds on the wire,
    through the column plan (flat record) and the row fallback (nested
    record, a named-type reference and an array included), and decodes
    back to the same instant."""
    import datetime as dt

    import pyarrow as pa

    from pipegen_spark.schema.avro_codec import (
        column_plan,
        decode_table,
        encode_table,
    )

    millis = {"type": "long", "logicalType": "timestamp-millis"}
    at = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    us = pa.timestamp("us", tz="UTC")
    flat = {"type": "record", "name": "R", "fields": [
        {"name": "at", "type": millis},
        {"name": "maybe", "type": ["null", millis]},
    ]}
    assert column_plan(flat) is not None
    table = pa.table({"at": pa.array([at], us), "maybe": pa.array([at], us)})
    frames = encode_table(table, flat)
    assert AvroCodec(flat).decode(frames[0].as_py()) == {
        "at": 1704067200000, "maybe": 1704067200000,
    }
    assert decode_table(frames, flat, table.schema).equals(table)

    nested = {"type": "record", "name": "N", "fields": [
        {"name": "sub", "type": {"type": "record", "name": "Sub", "fields": [
            {"name": "at", "type": ["null", millis]},
        ]}},
        {"name": "again", "type": "Sub"},
        {"name": "ats", "type": {"type": "array", "items": millis}},
    ]}
    assert column_plan(nested) is None
    sub = pa.struct([("at", us)])
    table = pa.table({
        "sub": pa.array([{"at": at}], sub),
        "again": pa.array([{"at": at}], sub),
        "ats": pa.array([[at]], pa.list_(us)),
    })
    frames = encode_table(table, nested)
    assert AvroCodec(nested).decode(frames[0].as_py()) == {
        "sub": {"at": 1704067200000},
        "again": {"at": 1704067200000},
        "ats": [1704067200000],
    }
    assert decode_table(frames, nested, table.schema).equals(table)
