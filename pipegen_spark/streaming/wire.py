"""Confluent Schema Registry wire format: magic 0x00 + 4-byte big-endian
schema id + Avro binary (internal/pipeline/producer.go:424-447).

The body codec is schema/avro_codec.py, the role goavro plays for the
reference's producer, applied to Arrow data by `encode_table` /
`decode_table`: a flat record schema runs as a compiled column plan
(numpy over whole Arrow columns), any other row by row through
`AvroCodec`. Where it runs depends on where the bytes are:

- Wire-broker mode (`encode_local` / `decode_local`): the bytes are
  produced from and fetched to the driver, so the codec runs there,
  behind one Arrow hop to or from Spark (`toArrow()` /
  `createDataFrame` of a `pyarrow.Table`) — no Python worker job.
- JVM Kafka connector and streaming (`encode_confluent_avro` /
  `decode_confluent_avro`): JVM spark-avro `to_avro`/`from_avro` when
  the jar is on the classpath, else the same codec distributed over
  `mapInArrow`, one call per Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAGIC = b"\x00"


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


def encode_local(
    df: DataFrame, schema_json: str, schema_id: int, cols: list[str]
) -> list[bytes]:
    """Driver-side wire encode: one `toArrow()`, then the codec over
    the Arrow columns."""
    from pipegen_spark.schema.avro_codec import encode_table, frames_to_bytes

    frames = encode_table(
        df.select(*cols).toArrow(), schema_json, wire_header(schema_id)
    )
    return frames_to_bytes(frames)


def decode_local(spark, values: list[bytes], avro_json: str, st) -> DataFrame:
    """Driver-side wire decode: the codec straight into an Arrow table,
    then one `createDataFrame` of it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pipegen_spark.schema.avro_codec import decode_table

    table = decode_table(
        pa.array(values, pa.binary()), avro_json, to_arrow_schema(st), skip=5
    )
    return spark.createDataFrame(table, st)


def encode_confluent_avro(
    df: DataFrame, avro_schema_json: str, schema_id: int, cols: list[str]
) -> DataFrame:
    """struct(cols) → wire-format `value` column.

    JVM to_avro when spark-avro is present; otherwise the Python codec
    over mapInArrow (distributed, Arrow-batched)."""
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
    """Python wire encode (no jar): the codec per Arrow batch."""
    header = wire_header(schema_id)

    def _encode(batches):
        import pyarrow as pa

        from pipegen_spark.schema.avro_codec import encode_table

        for batch in batches:
            frames = encode_table(batch, avro_schema_json, header)
            yield pa.RecordBatch.from_arrays([frames], ["value"])

    return df.select(*cols).mapInArrow(_encode, "value binary")


def decode_confluent_avro(df: DataFrame, spec) -> DataFrame:
    """Kafka `value` → typed columns using the TableSpec's schema.

    JVM from_avro when spark-avro is present; otherwise the Python
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
    """Python wire decode (no jar): the codec per Arrow batch."""

    def _decode(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        from pipegen_spark.schema.avro_codec import decode_table

        target = to_arrow_schema(st)
        for batch in batches:
            yield from decode_table(
                batch.column(0), avro_json, target, skip=5
            ).to_batches()

    return df.select("value").mapInArrow(_decode, st)


def decode_json(df: DataFrame, schema_ddl: str) -> DataFrame:
    """JSON-format topic decode — works without extra jars."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema_ddl).alias("r")
    ).select("r.*")


def encode_json(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary").alias("value")
    )
