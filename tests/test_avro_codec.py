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
