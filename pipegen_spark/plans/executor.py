"""In-process pipeline executor: ordered SQL statements → Spark.

Replaces the reference's HTTP deployment chain (Flink SQL Gateway session +
statement POST + 30×1s polling, internal/pipeline/flink.go:109-145,296-387)
with direct `spark.sql()` — Catalyst plans, the session is the "gateway".

Statement handling (SURVEY.md §2A-A15):
- CREATE_TABLE with connector options → TableSpec registry; *source* tables
  materialize lazily as temp views (filesystem → batch read; datagen →
  synthetic generator; kafka → streaming read, gated);
- INSERT INTO <sink> <select> → run the select (after TUMBLE rewrite),
  write through the sink's connector (filesystem formats) or register the
  result as a view for in-memory sinks;
- CREATE_VIEW / QUERY / OTHER → `spark.sql()` directly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pipegen_spark.plans import ddl as ddl_mod
from pipegen_spark.plans import statements as st

_INSERT_RE = re.compile(r"^\s*INSERT\s+INTO\s+([\w.`\"]+)\s+(.*)$", re.I | re.S)


def _has_aggregation(df: DataFrame) -> bool:
    """Streaming memory sink needs complete mode for aggregates (no
    watermark-ed append contract is guaranteed by arbitrary user SQL)."""
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return "Aggregate" in plan


@dataclass
class ExecutionResult:
    statement: st.SQLStatement
    kind: str
    rows_written: int | None = None
    dataframe: DataFrame | None = None
    error: str | None = None
    streaming_query: object | None = None  # StreamingQuery for unbounded INSERT


@dataclass
class SQLPipelineExecutor:
    spark: SparkSession
    variables: dict[str, str] = field(default_factory=dict)
    specs: dict[str, ddl_mod.TableSpec] = field(default_factory=dict)
    materialized: set[str] = field(default_factory=set)
    checkpoint_root: str = ""
    streaming_queries: list = field(default_factory=list)
    #: (host, port) of a wire-protocol broker (round-12): when set,
    #: kafka sources/sinks speak the pure-Python protocol client
    #: (sources/kafka_wire.py) instead of the JVM connector — the
    #: jar-free e2e path; the JVM connector remains the scale path.
    wire_broker: tuple[str, int] | None = None
    #: topic -> avro schema json this run wrote the topic with: the
    #: runner's producer fills in the input topic, the wire sink each
    #: topic it encodes. The wire source decodes with it when no
    #: registry answers; the runner's consume step decodes with it.
    wire_writer_schemas: dict[str, str] = field(default_factory=dict)
    #: topic -> rows actually produced to that topic by the wire sink;
    #: the runner's expected-count smart stop reads THIS, not the sum
    #: of every statement's rows_written (which also counts non-Kafka
    #: batch materializations and would inflate the expectation past
    #: what the output topic can ever hold).
    wire_sink_counts: dict[str, int] = field(default_factory=dict)
    #: topic -> registered Schema Registry id (runner step 6). When
    #: set, the run has a registry: the wire sink registers the schema
    #: it encodes with and stamps that id into the wire header.
    wire_schema_ids: dict[str, int] = field(default_factory=dict)

    # --- table materialization ------------------------------------------------

    def _materialize(self, spec: ddl_mod.TableSpec) -> None:
        """Register a source TableSpec as a temp view."""
        conn = spec.connector
        if conn == "filesystem":
            path = spec.options.get("path")
            fmt = spec.fmt
            reader = self.spark.read
            if fmt == "csv":
                df = reader.schema(spec.schema_ddl()).csv(
                    path,
                    header=spec.options.get("csv.include-header", "false")
                    == "true",
                    mode="DROPMALFORMED"
                    if spec.options.get("csv.ignore-parse-errors") == "true"
                    else "PERMISSIVE",
                )
            elif fmt in ("parquet", "json", "orc"):
                df = (
                    reader.schema(spec.schema_ddl()).json(path)
                    if fmt == "json"
                    else reader.format(fmt).load(path)
                )
            else:
                raise ValueError(f"unsupported filesystem format: {fmt}")
        elif conn == "datagen":
            from pipegen_spark.generator.synthetic import generate_from_spec

            rows = int(spec.options.get("number-of-rows", "1000"))
            df = generate_from_spec(self.spark, spec, rows)
        elif conn == "rate":
            df = self._rate_source(spec)
        elif conn == "kafka":
            df = self._kafka_source(spec)
        elif conn in ("", "memory"):
            return  # pure sink / in-memory table: nothing to scan
        else:
            raise ValueError(f"unsupported connector: {conn}")
        df.createOrReplaceTempView(spec.name)
        self.materialized.add(spec.name)

    def _rate_source(self, spec: ddl_mod.TableSpec) -> DataFrame:
        """Unbounded synthetic source: `rate` stream + schema-driven field
        expressions. A declared timestamp column receives the source's
        event time; remaining columns are synthesized (generator/synthetic).
        The continuous analogue of the reference's producer loop
        (internal/pipeline/producer.go:194-235)."""
        from pipegen_spark.generator.synthetic import (
            _SPARK_TO_AVRO,
            avro_field_value,
        )
        from pyspark.sql import functions as F

        rps = int(spec.options.get("rows-per-second", "100"))
        base = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rps)
            .load()
        )
        cols = []
        ts_assigned = False
        for i, (name, typ) in enumerate(spec.columns):
            if typ == "timestamp" and not ts_assigned:
                cols.append(F.col("timestamp").alias(name))
                ts_assigned = True
                continue
            field = {
                "name": name,
                "type": _SPARK_TO_AVRO.get(typ.split("<")[0], "string"),
            }
            c = avro_field_value(field, F.col("value"), 42 + i).cast(typ)
            cols.append(c.alias(name))
        return base.select(*cols)

    def _kafka_wire_source(self, spec: ddl_mod.TableSpec) -> DataFrame:
        """Batch materialization of a Kafka topic over the pure-Python
        wire client: Metadata for the partition list, Fetch v4 each
        partition to its high watermark, then `decode_local` — the
        Avro codec runs on the driver, which already holds every
        fetched byte, and the decoded rows reach Spark in one Arrow
        `createDataFrame`. Demo/validation scale; bulk ingestion is the
        JVM connector, whose fallback codec runs distributed."""
        from pyspark.sql.types import _parse_datatype_string

        from pipegen_spark.schema.avsc import struct_to_avro
        from pipegen_spark.sources.kafka_wire import KafkaWireClient
        from pipegen_spark.streaming.wire import decode_local

        host, port = self.wire_broker
        topic = spec.options.get("topic", spec.name)
        client = KafkaWireClient(host, port, client_id="pipegen-source")
        values: list[bytes] = []
        try:
            md = client.metadata([topic])
            parts = [
                p["partition"]
                for p in md["topics"].get(topic, {}).get("partitions", [])
            ] or [0]
            for pid in parts:
                offset = 0
                while True:
                    err, hw, recs = client.fetch_v2(topic, pid, offset)
                    if err or not recs:
                        break
                    values.extend(
                        bytes(v) for (_o, _t, _k, v, _h) in recs if v
                    )
                    offset = recs[-1][0] + 1
                    if offset >= hw:
                        break
        finally:
            client.close()
        st_type = _parse_datatype_string(spec.schema_ddl())
        # Writer-schema resolution — the Confluent contract: the reader
        # decodes with the WRITER's schema (a DDL-derived guess has
        # different union shapes and misparses). In order: the registry
        # by the header's schema id; the schema this run wrote the topic
        # with; the DDL-derived schema (a topic written by this DDL's
        # own sink, e.g. by an earlier run).
        avro_json = None
        if values:
            sid = int.from_bytes(values[0][1:5], "big")
            reg_url = self.variables.get("SCHEMA_REGISTRY_URL", "")
            if reg_url and sid > 0:
                from pipegen_spark.sources.registry import (
                    RegistryError,
                    SchemaRegistryClient,
                )

                try:
                    avro_json = SchemaRegistryClient(
                        reg_url, timeout=2.0
                    ).get_schema_by_id(sid)
                except (RegistryError, OSError):
                    avro_json = None
        avro_json = (
            avro_json
            or self.wire_writer_schemas.get(topic)
            or struct_to_avro(st_type, spec.name)
        )
        return decode_local(self.spark, values, avro_json, st_type)

    def _kafka_source(self, spec: ddl_mod.TableSpec) -> DataFrame:
        if self.wire_broker is not None:
            return self._kafka_wire_source(spec)
        opts = spec.options
        reader = (
            self.spark.readStream.format("kafka")
            .option("subscribe", opts.get("topic", spec.name))
            .option(
                "kafka.bootstrap.servers",
                opts.get("properties.bootstrap.servers", "localhost:9092"),
            )
            .option(
                "startingOffsets",
                "earliest"
                if opts.get("scan.startup.mode", "earliest-offset").startswith(
                    "earliest"
                )
                else "latest",
            )
        )
        df = reader.load()
        from pipegen_spark.streaming.wire import decode_confluent_avro

        return decode_confluent_avro(df, spec)

    def _ensure_sources(self, select_sql: str) -> None:
        for name, spec in self.specs.items():
            if name in self.materialized:
                continue
            if re.search(rf"(?<![\w.]){re.escape(name)}(?![\w.])", select_sql):
                if spec.connector in ("filesystem", "datagen", "rate", "kafka"):
                    self._materialize(spec)

    # --- sink handling --------------------------------------------------------

    def _write_sink(self, df: DataFrame, spec: ddl_mod.TableSpec) -> int | None:
        conn = spec.connector
        if df.isStreaming:
            self._start_stream_sink(df, spec)
            return None
        if conn == "filesystem":
            path = spec.options.get("path")
            (df.write.mode("append").format(spec.fmt).save(path))
            return None  # count would re-run the job; caller can inspect path
        if conn == "kafka":
            if self.wire_broker is not None:
                return self._kafka_wire_sink(df, spec)
            raise NotImplementedError(
                "batch kafka sink requires a broker; use streaming/sink.py"
            )
        # in-memory sink: register result as the sink table's view
        df.createOrReplaceTempView(spec.name)
        self.materialized.add(spec.name)
        return df.count()

    def _kafka_wire_sink(self, df: DataFrame, spec: ddl_mod.TableSpec) -> int:
        """Batch kafka sink over the wire client: rows → Confluent-wire
        Avro `value` bytes by `encode_local` (one Arrow `toPandas()`,
        then the Avro codec on the driver that produces the bytes),
        produced to the topic as magic-2 RecordBatches. The schema is
        derived from the result's Spark schema; when a registry answers
        it is registered under `<topic>-value` and the returned id goes
        into the wire header. Records the schema per topic so the
        runner's consume/validate step decodes identically."""
        from pipegen_spark.schema.avsc import struct_to_avro
        from pipegen_spark.sources.kafka_wire import KafkaWireClient
        from pipegen_spark.streaming.wire import encode_local

        host, port = self.wire_broker
        topic = spec.options.get("topic", spec.name)
        avro_json = struct_to_avro(df.schema, spec.name)
        reg_url = self.variables.get("SCHEMA_REGISTRY_URL", "")
        if reg_url and self.wire_schema_ids:  # the runner's registry answered
            from pipegen_spark.sources.registry import SchemaRegistryClient

            schema_id = SchemaRegistryClient(
                reg_url, timeout=2.0
            ).get_or_register(f"{topic}-value", avro_json)
        else:
            schema_id = int(spec.options.get("pipegen.schema-id", "1"))
        values = encode_local(df, avro_json, schema_id, df.columns)
        self.wire_writer_schemas[topic] = avro_json
        client = KafkaWireClient(host, port, client_id="pipegen-sink")
        try:
            ts = 0
            for i in range(0, len(values), 500):
                chunk = values[i : i + 500]
                client.produce_v2(
                    topic, 0, [(None, v, ts, ()) for v in chunk]
                )
        finally:
            client.close()
        self.wire_sink_counts[topic] = (
            self.wire_sink_counts.get(topic, 0) + len(values)
        )
        return len(values)

    def _start_stream_sink(self, df: DataFrame, spec: ddl_mod.TableSpec):
        """Unbounded INSERT INTO: start a writeStream into the sink table
        (the reference's continuous insert-select job,
        03_create_processing.sql). Memory sink for in-process tables,
        file sink (with checkpoint) for filesystem connectors. The query
        handle is collected for the runner's smart-stop."""
        import os

        ckpt = os.path.join(
            self.checkpoint_root or ".pipegen-checkpoints", spec.name
        )
        if spec.connector == "filesystem":
            q = (
                df.writeStream.format(spec.fmt)
                .option("path", spec.options.get("path"))
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
        else:
            # In-process tables use the memory sink; aggregated inserts need
            # complete mode, whose state lives in driver memory. That is the
            # intended scope — this executor IS the in-process parity mode
            # (the reference's Flink-gateway equivalent); a production-scale
            # aggregated stream should target a filesystem connector, which
            # takes the append path above with watermark-bounded state.
            mode = "complete" if _has_aggregation(df) else "append"
            q = (
                df.writeStream.format("memory")
                .queryName(spec.name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .start()
            )
            self.materialized.add(spec.name)
        self.streaming_queries.append(q)
        return q

    # --- main entry -----------------------------------------------------------

    def execute(self, stmts: list[st.SQLStatement]) -> list[ExecutionResult]:
        results = []
        for stmt in stmts:
            sql = st.substitute_variables(stmt.content, self.variables)
            st.validate_statement(stmt)
            kind = st.classify_statement(sql)
            try:
                results.append(self._execute_one(stmt, sql, kind))
            except Exception as e:  # report per-statement, like the gateway
                results.append(
                    ExecutionResult(statement=stmt, kind=kind, error=str(e))
                )
                raise
        return results

    def _execute_one(
        self, stmt: st.SQLStatement, sql: str, kind: str
    ) -> ExecutionResult:
        if kind == "CREATE_TABLE" and "WITH" in sql.upper():
            spec = ddl_mod.parse_create_table(sql)
            self.specs[spec.name] = spec
            if spec.connector in ("filesystem", "datagen"):
                self._materialize(spec)
            return ExecutionResult(statement=stmt, kind=kind)
        if kind == "INSERT":
            m = _INSERT_RE.match(sql)
            if not m:
                raise ValueError(f"cannot parse INSERT statement: {sql[:80]}")
            target, select_sql = m.group(1).strip("`\""), m.group(2)
            select_sql = ddl_mod.rewrite_tumble(select_sql)
            self._ensure_sources(select_sql)
            df = self.spark.sql(select_sql)
            spec = self.specs.get(target)
            if spec is None:
                df.createOrReplaceTempView(target)
                return ExecutionResult(
                    statement=stmt, kind=kind, dataframe=df
                )
            n_before = len(self.streaming_queries)
            rows = self._write_sink(df, spec)
            q = (
                self.streaming_queries[-1]
                if len(self.streaming_queries) > n_before
                else None
            )
            return ExecutionResult(
                statement=stmt,
                kind=kind,
                rows_written=rows,
                dataframe=df,
                streaming_query=q,
            )
        # CREATE_VIEW / QUERY / OTHER
        sql2 = ddl_mod.rewrite_tumble(sql)
        self._ensure_sources(sql2)
        df = self.spark.sql(sql2)
        return ExecutionResult(statement=stmt, kind=kind, dataframe=df)
