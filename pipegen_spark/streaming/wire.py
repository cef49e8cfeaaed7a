"""Confluent Schema Registry wire format: magic 0x00 + 4-byte big-endian
schema id + Avro binary (internal/pipeline/producer.go:424-447).

The body codec is the pure-Python Avro codec (schema/avro_codec.py),
the role goavro plays for the reference's producer, applied to pandas
frames by `encode_frame` / `decode_frame`. Where it runs depends on
where the bytes are:

- Wire-broker mode (`encode_local` / `decode_local`): the bytes are
  produced from and fetched to the driver, so the codec runs there,
  behind one Arrow hop to or from Spark — no Python worker job.
- JVM Kafka connector and streaming (`encode_confluent_avro` /
  `decode_confluent_avro`): JVM spark-avro `to_avro`/`from_avro` when
  the jar is on the classpath, else the same codec distributed over
  Arrow-batched `mapInPandas` (codec built once per task).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAGIC = b"\x00"
_EPOCH = _dt.date(1970, 1, 1)


def wire_header(schema_id: int) -> bytes:
    """5-byte Confluent wire-format prefix for a schema id."""
    return MAGIC + schema_id.to_bytes(4, "big")


def wrap_payload(payload: Column, schema_id: int) -> Column:
    """payload(binary) → magic + schema_id + payload."""
    return F.concat(F.lit(wire_header(schema_id)), payload)


def strip_header(value_col: str = "value") -> Column:
    """Drop the 5-byte prefix (from_avro cannot skip it itself)."""
    return F.expr(
        f"substring({value_col}, 6, length({value_col})-5)"
    )


def extract_schema_id(value_col: str = "value") -> Column:
    """Big-endian int32 schema id from bytes 2..5."""
    return F.expr(
        f"CAST(conv(hex(substring({value_col}, 2, 4)), 16, 10) AS INT)"
    ).alias("schema_id")


def validate_magic(value_col: str = "value") -> Column:
    """True iff the first byte is the Confluent magic byte
    (consumer.go:219-242 validation)."""
    return F.expr(f"substring({value_col}, 1, 1) = X'00'")


_AVRO_JAR_STATE: dict[str, bool] = {}


def have_avro_jar(spark) -> bool:
    """Probe (once per session) whether spark-avro is on the classpath."""
    key = str(id(spark))
    if key not in _AVRO_JAR_STATE:
        try:
            from pyspark.sql.avro.functions import to_avro  # noqa: F401

            spark.range(1).select(
                to_avro(
                    F.struct(F.col("id")),
                    '{"type":"record","name":"probe",'
                    '"fields":[{"name":"id","type":"long"}]}',
                )
            ).collect()
            _AVRO_JAR_STATE[key] = True
        except Exception:  # pragma: no cover — environment-dependent
            _AVRO_JAR_STATE[key] = False
    return _AVRO_JAR_STATE[key]


def _to_avro_native(v):
    """One pandas cell → Avro-native value for the pure-Python codec."""
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.value // 1_000  # ns → logical timestamp-micros long
    if isinstance(v, _dt.datetime):
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return (v - _EPOCH).days  # logical date int
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _integral_fields(record_schema: dict) -> set[str]:
    """Fields whose (non-null) Avro type is int or long. pandas widens
    such a column to float64 when it holds a null, so the encoder turns
    the column's floats back into ints."""
    out = set()
    for f in record_schema.get("fields", []):
        t = f["type"]
        if isinstance(t, list):
            branches = [b for b in t if b != "null"]
            t = branches[0] if len(branches) == 1 else None
        if isinstance(t, dict):
            t = t.get("type")
        if t in ("int", "long"):
            out.add(f["name"])
    return out


def encode_frame(pdf, codec, header: bytes, cols: list[str]) -> list[bytes]:
    """pandas rows → Confluent-wire frames (header + AvroCodec body)."""
    ints = _integral_fields(codec.schema)
    integral = [c in ints for c in cols]
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        rec = {}
        for c, is_int, v in zip(cols, integral, row):
            v = _to_avro_native(v)
            rec[c] = int(v) if is_int and isinstance(v, float) else v
        out.append(header + codec.encode(rec))
    return out


def decode_frame(values, codec, st):
    """Confluent-wire frames → pandas frame with the columns of `st`
    (timestamps as datetime64, dates as datetime.date)."""
    import pandas as pd
    from pyspark.sql.types import DateType, TimestampType

    names = [f.name for f in st.fields]
    recs = [codec.decode(v, 5) for v in values]
    out = pd.DataFrame.from_records(recs, columns=names)
    for f in st.fields:
        if isinstance(f.dataType, TimestampType):
            out[f.name] = pd.to_datetime(out[f.name], unit="us")
        elif isinstance(f.dataType, DateType):
            out[f.name] = out[f.name].map(
                lambda d: _EPOCH + _dt.timedelta(days=int(d))
                if pd.notna(d)
                else None
            )
    return out


def encode_local(
    df: DataFrame, schema_json: str, schema_id: int, cols: list[str]
) -> list[bytes]:
    """Driver-side wire encode: one Arrow `toPandas()`, then the codec."""
    from pipegen_spark.schema.avro_codec import AvroCodec

    pdf = df.select(*cols).toPandas()
    return encode_frame(pdf, AvroCodec(schema_json), wire_header(schema_id), cols)


def decode_local(spark, values: list[bytes], avro_json: str, st) -> DataFrame:
    """Driver-side wire decode: the codec, then one Arrow
    `createDataFrame` of the decoded frame."""
    from pipegen_spark.schema.avro_codec import AvroCodec

    return spark.createDataFrame(decode_frame(values, AvroCodec(avro_json), st), st)


def encode_confluent_avro(
    df: DataFrame, avro_schema_json: str, schema_id: int, cols: list[str]
) -> DataFrame:
    """struct(cols) → wire-format `value` column.

    JVM to_avro when spark-avro is present; otherwise the pure-Python
    codec over mapInPandas (distributed, Arrow-batched)."""
    if have_avro_jar(df.sparkSession):
        from pyspark.sql.avro.functions import to_avro

        payload = to_avro(
            F.struct(*[F.col(c) for c in cols]), avro_schema_json
        )
        return df.select(wrap_payload(payload, schema_id).alias("value"))
    return encode_confluent_avro_py(df, avro_schema_json, schema_id, cols)


def encode_confluent_avro_py(
    df: DataFrame, avro_schema_json: str, schema_id: int, cols: list[str]
) -> DataFrame:
    """Pure-Python wire encode (no jar): encode_frame per Arrow batch."""
    header = wire_header(schema_id)

    def _encode(batches):
        import pandas as pd

        from pipegen_spark.schema.avro_codec import AvroCodec

        codec = AvroCodec(avro_schema_json)
        for pdf in batches:
            yield pd.DataFrame({"value": encode_frame(pdf, codec, header, cols)})

    return df.select(*cols).mapInPandas(_encode, "value binary")


def decode_confluent_avro(df: DataFrame, spec) -> DataFrame:
    """Kafka `value` → typed columns using the TableSpec's schema.

    JVM from_avro when spark-avro is present; otherwise the pure-Python
    codec. For JSON-format topics use decode_json instead."""
    from pipegen_spark.schema.avsc import struct_to_avro
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(spec.schema_ddl())
    avro_json = struct_to_avro(st, spec.name)
    if have_avro_jar(df.sparkSession):
        from pyspark.sql.avro.functions import from_avro

        payload = F.expr("substring(value, 6, length(value)-5)")
        return df.select(
            from_avro(payload, avro_json).alias("r")
        ).select("r.*")
    return decode_confluent_avro_py(df, avro_json, st)


def decode_confluent_avro_py(df: DataFrame, avro_json: str, st) -> DataFrame:
    """Pure-Python wire decode (no jar): decode_frame per Arrow batch."""

    def _decode(batches):
        from pipegen_spark.schema.avro_codec import AvroCodec

        codec = AvroCodec(avro_json)
        for pdf in batches:
            yield decode_frame(pdf["value"], codec, st)

    return df.select("value").mapInPandas(_decode, st)


def decode_json(df: DataFrame, schema_ddl: str) -> DataFrame:
    """JSON-format topic decode — works without extra jars."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema_ddl).alias("r")
    ).select("r.*")


def encode_json(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary").alias("value")
    )
