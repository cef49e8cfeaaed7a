"""Pipeline runner: the reference's 14-step orchestration state machine
(internal/pipeline/runner.go:169-448) collapsed into one process.

Step mapping (SURVEY.md §3.1):
 1. load SQL statements           → plans.statements.load_statements
 2. load schemas (optional)       → schema.avsc.load_schemas
 3. generate resources            → plans.resources.generate_resources
 4. delete/create topics          → workdir prep (file mode)
 5. deploy SQL via gateway        → plans.executor.SQLPipelineExecutor
 6. register schemas              → no-op locally (kept for registry mode)
 7. warm-up sleep                 → unnecessary (in-process), skipped
 8. produce synthetic data        → generator/streaming producer
 9. monitor Flink metrics         → monitor.metrics.MetricsCollector
10. wait producer done            → query await / batch is synchronous
11. wait for processing           → implicit (same session)
12. consume + validate            → monitor.validator.validate
13. timeout grace                 → streaming.stop.SmartStop
14. report + cleanup              → monitor.report + stop queries/rm dirs

Batch pipelines (CSV/parquet sources — reference "CSV mode", B28) run the
statements synchronously; streaming pipelines attach the producer and
smart-stop monitor.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from pipegen_spark.monitor import report as report_mod
from pipegen_spark.monitor.metrics import MetricsCollector
from pipegen_spark.plans import statements as st
from pipegen_spark.plans.executor import SQLPipelineExecutor
from pipegen_spark.plans.resources import generate_resources
from pipegen_spark.schema import avsc


@dataclass
class RunnerConfig:
    project_dir: str
    workdir: str = ""
    variables: dict[str, str] = field(default_factory=dict)
    local_mode: bool = True
    message_rate: int = 100  # cmd/run.go:46 default
    duration_seconds: float = 30.0  # cmd/run.go:47 default
    pipeline_timeout: float = 300.0  # cmd/run.go:48 default
    report_dir: str = ""
    cleanup: bool = True
    #: "host:port" of a wire-protocol Kafka broker (round-12, r11
    #: VERDICT task 8): when set, the run goes over the SOCKET — topics
    #: created/deleted via CreateTopics/DeleteTopics v0, synthetic Avro
    #: produced as Confluent-wire magic-2 RecordBatches at message_rate,
    #: kafka sources/sinks through the pure-Python client, and step 12
    #: consumes + validates from the output topic with the reference's
    #: smart-stop semantics (expected-count / idle / hard timeout,
    #: consumer.go:45-136). Streaming-to-batch collapse: produce runs
    #: BEFORE the deploy and the continuous INSERT becomes one batch
    #: pass over everything produced — same end state, consumer-checked.
    wire_broker: str = ""


@dataclass
class RunResult:
    run_id: str
    statement_results: list[dict]
    producer_stats: dict
    metrics: list[dict]
    report_path: str | None = None
    elapsed_seconds: float = 0.0


class PipelineRunner:
    def __init__(self, spark: SparkSession, config: RunnerConfig):
        self.spark = spark
        self.config = config

    def run(self) -> RunResult:
        cfg = self.config
        t0 = time.monotonic()
        workdir = cfg.workdir or os.path.join(cfg.project_dir, ".pipegen-run")

        # 1. statements
        stmts = st.load_statements(cfg.project_dir)
        for s in stmts:
            st.validate_statement(s)

        # 2. schemas (optional when topics declared in SQL, runner.go:217-248)
        try:
            schemas = avsc.load_schemas(cfg.project_dir)
        except FileNotFoundError:
            schemas = {}

        # 3-4. resources + topic dirs
        topics = st.extract_topics(stmts)
        res = generate_resources(topics, workdir, cfg.local_mode)
        os.makedirs(res.workdir, exist_ok=True)
        for t in res.topics:
            os.makedirs(res.output_dir(t), exist_ok=True)

        variables = {
            "INPUT_TOPIC": res.input_topic,
            "OUTPUT_TOPIC": res.output_topic,
            "BOOTSTRAP_SERVERS": cfg.wire_broker or "localhost:9092",
            "SCHEMA_REGISTRY_URL": "http://localhost:8082",
            **cfg.variables,
        }

        # 9. metrics listener (before any streaming starts)
        collector = MetricsCollector()
        self.spark.streams.addListener(collector)

        wire: tuple[str, int] | None = None
        producer_stats: dict = {"mode": "batch"}
        schema_ids: dict[str, int] = {}
        if cfg.wire_broker:
            host, _, port = cfg.wire_broker.rpartition(":")
            wire = (host, int(port))
            # 4. topic admin over the SOCKET (CreateTopics/DeleteTopics
            # v0 — the delete-then-create sequencing of resources.go)
            from pipegen_spark.sources.kafka_admin import KafkaWireAdmin

            admin = KafkaWireAdmin(*wire)
            try:
                for t in res.topics:
                    admin.delete_topic(t)  # tolerant, kafka.go:60-66
                admin.create_all(res.topics, partitions=1)
            finally:
                admin.close()
            # 6. register schemas when a registry answers (subjects per
            # the reference's <topic>-value convention; the returned id
            # goes into the Confluent wire header, not a constant)
            reg_url = variables.get("SCHEMA_REGISTRY_URL", "")
            if schemas and reg_url:
                from pipegen_spark.sources.registry import (
                    SchemaRegistryClient,
                )

                rc = SchemaRegistryClient(reg_url, timeout=2.0)
                try:
                    healthy = rc.is_healthy()
                except Exception:
                    healthy = False
                if healthy:
                    topic_for = {
                        "input": res.input_topic,
                        "output": res.output_topic,
                    }
                    for key, sch in schemas.items():
                        topic = topic_for.get(key)
                        if topic:
                            schema_ids[key] = rc.get_or_register(
                                f"{topic}-value", sch.content
                            )
            # 7. warm-up unnecessary in-process. 8. produce BEFORE the
            # deploy (streaming-to-batch collapse, see RunnerConfig).
            producer_stats = {
                "mode": "wire",
                **self._produce_wire(
                    res, schemas, wire, schema_ids.get("input", 1)
                ),
            }

        # 5. execute statements in order
        wire_topic_ids = {
            t: schema_ids[k]
            for k, t in (
                ("input", res.input_topic),
                ("output", res.output_topic),
            )
            if k in schema_ids
        }
        executor = SQLPipelineExecutor(
            self.spark,
            variables=variables,
            checkpoint_root=os.path.join(res.workdir, "checkpoints"),
            wire_broker=wire,
            wire_schema_ids=wire_topic_ids,
            # the schema the producer wrote the input topic with
            wire_writer_schemas=(
                {res.input_topic: schemas["input"].content} if wire else {}
            ),
        )
        stmt_rows: list[dict] = []
        try:
            results = executor.execute(stmts)

            # 8-13. unbounded INSERTs: run for the configured duration with
            # smart-stop semantics (expected-count/idle/hard timeout —
            # reference consumer.go:45-136 + runner.go:399-432)
            if executor.streaming_queries:
                from pipegen_spark.streaming.stop import SmartStop

                producer_stats["mode"] = "streaming"
                reasons = []
                for q in executor.streaming_queries:
                    stop = SmartStop(
                        q,
                        no_message_timeout=min(
                            30.0, cfg.duration_seconds
                        ),
                        hard_timeout=cfg.duration_seconds,
                    )
                    reasons.append(stop.await_done())
                producer_stats["stop_reasons"] = reasons

            for r in results:
                row = {
                    "order": r.statement.order,
                    "name": r.statement.name,
                    "kind": r.kind,
                    "status": "ERROR" if r.error else "OK",
                }
                if r.rows_written is not None:
                    row["rows"] = r.rows_written
                elif r.dataframe is not None and r.kind == "QUERY":
                    row["rows"] = r.dataframe.count()
                elif r.streaming_query is not None:
                    # memory-sink streaming INSERT: count the sink view
                    target = r.statement.content.split()[2].strip("`\"")
                    try:
                        row["rows"] = self.spark.table(target).count()
                    except Exception:
                        pass
                stmt_rows.append(row)
            producer_stats["statements"] = len(results)

            # 12-13. wire mode: consume the OUTPUT topic over the
            # socket and validate, with smart-stop semantics
            if wire is not None:
                # Expected count = rows the wire sink produced to the
                # OUTPUT topic specifically — summing every statement's
                # rows_written also counts non-Kafka batch
                # materializations and would overshoot, burning the
                # idle timeout instead of stopping at expected_count.
                expected = executor.wire_sink_counts.get(
                    res.output_topic
                ) or producer_stats.get("produced")
                producer_stats["consumer"] = self._consume_wire(
                    executor, res, wire, expected
                )
        finally:
            # 13-14. stop stray streaming queries + report + cleanup
            for q in self.spark.streams.active:
                q.stop()
            self.spark.streams.removeListener(collector)

        elapsed = time.monotonic() - t0
        report_path = None
        if cfg.report_dir:
            report_path = report_mod.write_report(
                cfg.report_dir,
                res.prefix,
                params={
                    "project_dir": cfg.project_dir,
                    "message_rate": cfg.message_rate,
                    "duration_seconds": cfg.duration_seconds,
                    "schemas": ", ".join(schemas) or "(from SQL)",
                    "topics": ", ".join(res.topics),
                },
                statement_results=stmt_rows,
                producer_stats=producer_stats,
                metrics=collector.summaries(),
            )
        if cfg.cleanup and not cfg.workdir:
            shutil.rmtree(workdir, ignore_errors=True)
        return RunResult(
            run_id=res.prefix,
            statement_results=stmt_rows,
            producer_stats=producer_stats,
            metrics=collector.summaries(),
            report_path=report_path,
            elapsed_seconds=elapsed,
        )

    def _produce_wire(
        self, res, schemas, wire: tuple[str, int], schema_id: int
    ) -> dict:
        """Step 8 over the socket: message_rate x duration synthetic
        rows from the input AVRO schema (generator B6), encoded as
        Confluent-wire Avro (header + AvroCodec body — the bytes a real
        Schema-Registry-aware consumer expects), produced to the input
        topic as magic-2 RecordBatches in rate-paced ticks (B7's
        rate-control shape on the wire path)."""
        import time as _time

        from pipegen_spark.generator.synthetic import (
            generate_from_avro_fields,
        )
        from pipegen_spark.sources.kafka_wire import KafkaWireClient
        from pipegen_spark.streaming.wire import encode_local

        cfg = self.config
        input_schema = schemas.get("input")
        if input_schema is None:
            raise ValueError(
                "wire mode needs schemas/input.avsc (runner step 2)"
            )
        rows = max(1, int(cfg.message_rate * cfg.duration_seconds))
        df = generate_from_avro_fields(
            self.spark, input_schema.fields, rows
        )
        values = encode_local(
            df,
            input_schema.content,
            schema_id,
            [f["name"] for f in input_schema.fields],
        )
        tick = 0.2
        per_tick = max(1, int(cfg.message_rate * tick))
        client = KafkaWireClient(*wire, client_id="pipegen-producer")
        t0 = time.monotonic()
        sent = 0
        try:
            for i in range(0, len(values), per_tick):
                chunk = values[i : i + per_tick]
                ts = int(_time.time() * 1000)
                client.produce_v2(
                    res.input_topic,
                    0,
                    [(None, v, ts + j, ()) for j, v in enumerate(chunk)],
                    base_timestamp=ts,
                )
                sent += len(chunk)
                target = t0 + (i // per_tick + 1) * tick
                pause = target - time.monotonic()
                if pause > 0:
                    time.sleep(pause)
        finally:
            client.close()
        return {
            "produced": sent,
            "schema_id": schema_id,
            "rate_target": cfg.message_rate,
            "elapsed_seconds": round(time.monotonic() - t0, 3),
        }

    def _consume_wire(
        self, executor, res, wire: tuple[str, int], expected: int | None
    ) -> dict:
        """Steps 12-13 over the socket: join the run's consumer GROUP
        (r13 — JoinGroup/SyncGroup assign the partitions, offsets
        commit as consumption progresses, LeaveGroup on exit, so the
        B19 lag monitor reads a real group after the run), poll Fetch
        v4 on the assigned partitions until the expected count
        arrives, the stream goes idle, or the hard timeout fires
        (consumer.go:45-136 smart-stop), then decode on the driver
        (which holds the fetched bytes) with the schema the sink
        actually encoded with, hand the rows to Spark in one Arrow
        hop, and run the B12 rule validation as one aggregate."""
        import json as _json

        from pipegen_spark.sources.kafka_wire import KafkaWireClient

        cfg = self.config
        topic = res.output_topic
        group = f"{res.prefix}-consumer"
        client = KafkaWireClient(*wire, client_id="pipegen-consumer")
        values: list[bytes] = []
        reason = "hard_timeout"
        start = last = time.monotonic()
        no_msg = min(30.0, cfg.duration_seconds)
        member_id = ""
        try:
            _gen, member_id, own = client.group_consume_assignment(
                group, [topic]
            )
            parts = sorted(own.get(topic, [])) or [0]
            offsets = {p: 0 for p in parts}
            while True:
                progressed = False
                for p in parts:
                    err, _hw, recs = client.fetch_v2(topic, p, offsets[p])
                    if recs:
                        values.extend(
                            bytes(v) for (_o, _t, _k, v, _h) in recs if v
                        )
                        offsets[p] = recs[-1][0] + 1
                        client.offset_commit(
                            group, {(topic, p): offsets[p]}
                        )
                        progressed = True
                if progressed:
                    last = time.monotonic()
                if expected is not None and len(values) >= expected:
                    reason = "expected_count"
                    break
                if time.monotonic() - last > no_msg:
                    reason = "idle_timeout"
                    break
                if time.monotonic() - start > cfg.pipeline_timeout:
                    reason = "hard_timeout"
                    break
                if not progressed:
                    time.sleep(0.1)
        finally:
            if member_id:
                try:
                    client.leave_group(group, member_id)
                except Exception:
                    pass
            client.close()
        out: dict = {
            "consumed": len(values),
            "expected": expected,
            "stop_reason": reason,
            "consumer_group": group,
        }
        avro_json = executor.wire_writer_schemas.get(topic)
        if avro_json and values:
            from pipegen_spark.monitor.validator import (
                ValidationRules,
                validate,
            )
            from pipegen_spark.schema.avsc import avro_to_struct
            from pipegen_spark.streaming.wire import decode_local

            st_type = avro_to_struct(_json.loads(avro_json))
            decoded = decode_local(self.spark, values, avro_json, st_type)
            out["validation"] = validate(
                decoded,
                ValidationRules(
                    required_fields=[f.name for f in st_type.fields]
                ),
            )
        return out


