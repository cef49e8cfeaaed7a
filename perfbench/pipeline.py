"""The `pipeline` workload: whole `pipegen run` lifecycles over the wire.

Setup scaffolds the `cli init` project, re-points its source and sink at
Kafka (as a user does to go from datagen to a broker pipeline), and
starts the in-process `FakeKafkaBroker` plus a Schema Registry stub. A
unit is one `PipelineRunner.run()`: create topics, register schemas,
produce `RECORDS` seeded Avro records, deploy the SQL, consume the
output topic, validate and write the HTML report.

Check: every statement is OK, the consumer stopped on the expected count
with a clean validation, and the records on the output topic are, as a
multiset, the records produced to the input topic (the processing
statement copies `name, amount` to `name, total`, both `string, int`);
the benchmark decodes both topics itself.

The registry stub is needed: without a reachable registry the kafka
source decodes with a nullable-union schema derived from the DDL while
the producer wrote the non-null `input.avsc` (see NOTES.md).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import types
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from common import Outcome, median, timed_passes

RECORDS = 8000


class RegistryStub:
    """Minimal Schema Registry REST API: subjects, register, lookup."""

    def __init__(self) -> None:
        subjects: dict[str, int] = {}
        by_id: dict[int, str] = {}
        lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _json(self, payload, code=200):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/subjects":
                    self._json(list(subjects))
                elif self.path.startswith("/schemas/ids/"):
                    sid = int(self.path.rsplit("/", 1)[1])
                    if sid in by_id:
                        self._json({"schema": by_id[sid]})
                    else:
                        self._json({"error_code": 40403}, 404)
                else:
                    self._json({"error_code": 404}, 404)

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(n))
                subject = self.path.split("/")[2]
                with lock:
                    if self.path.endswith("/versions"):
                        sid = subjects.setdefault(subject, len(by_id) + 1)
                        by_id[sid] = payload["schema"]
                        self._json({"id": sid})
                    elif subject in subjects:
                        self._json({"id": subjects[subject]})
                    else:
                        self._json({"error_code": 40401}, 404)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()


def scaffold(project_dir: str) -> str:
    from pipegen_spark import templates as tpl
    from pipegen_spark.cli import cmd_init

    args = types.SimpleNamespace(
        project_dir=project_dir, project_name="benchpipe",
        input_csv=None, avro_schema=None, describe=None,
    )
    if cmd_init(args) != 0:
        raise RuntimeError("pipegen init failed")
    sql = os.path.join(project_dir, "sql")
    with open(os.path.join(sql, "01_create_source_table.sql"), "w") as fh:
        fh.write(tpl.SQL_SOURCE_KAFKA)
    with open(os.path.join(sql, "02_create_output_table.sql"), "w") as fh:
        fh.write(
            "CREATE TABLE revenue (\n    name STRING,\n    total INT\n) WITH (\n"
            "    'connector' = 'kafka',\n    'topic' = '${OUTPUT_TOPIC}',\n"
            "    'properties.bootstrap.servers' = '${BOOTSTRAP_SERVERS}',\n"
            "    'format' = 'avro-confluent'\n);\n"
        )
    return project_dir


class Stack:
    """Broker + registry + scaffolded project: one staged set-up."""

    def __init__(self, work: str, i: int) -> None:
        from pipegen_spark.sources.kafka_wire import FakeKafkaBroker

        self.project = scaffold(os.path.join(work, f"project{i}"))
        self.broker = FakeKafkaBroker()
        self.host, self.port = self.broker.__enter__()
        self.registry = RegistryStub()

    def close(self) -> None:
        self.registry.close()
        self.broker.__exit__(None, None, None)


def read_topic(host: str, port: int, topic: str) -> list[bytes]:
    from pipegen_spark.sources.kafka_wire import KafkaWireClient

    client = KafkaWireClient(host, port)
    values, offset = [], 0
    try:
        while True:
            _err, hw, recs = client.fetch_v2(topic, 0, offset)
            values.extend(bytes(v) for (_o, _t, _k, v, _h) in recs if v)
            if not recs or recs[-1][0] + 1 >= hw:
                return values
            offset = recs[-1][0] + 1
    finally:
        client.close()


def _zigzag(buf: bytes, i: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[i]
        i += 1
        acc |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), i


def _string_int(body: bytes, nullable: bool) -> tuple[str, int] | None:
    """Decode an Avro `{string, int}` record body, each field either
    plain or the value branch (index 1) of a `["null", T]` union; None
    if the body does not have exactly that shape."""
    try:
        i = 0
        if nullable:
            branch, i = _zigzag(body, i)
            if branch != 1:
                return None
        n, i = _zigzag(body, i)
        name = body[i:i + n].decode()
        i += n
        if nullable:
            branch, i = _zigzag(body, i)
            if branch != 1:
                return None
        total, i = _zigzag(body, i)
    except (IndexError, UnicodeDecodeError):
        return None
    return (name, total) if i == len(body) else None


def decode_pairs(frames: list[bytes], sink: bool) -> list[tuple[str, int]] | None:
    """(name, amount) per Confluent-wire frame, None if any frame does
    not decode. Producer frames carry the plain `input.avsc` record;
    sink frames may carry either that shape or the nullable-union
    record the kafka sink derives from the DDL."""
    out = []
    for f in frames:
        pair = _string_int(f[5:], nullable=False)
        if pair is None and sink:
            pair = _string_int(f[5:], nullable=True)
        if pair is None:
            return None
        out.append(pair)
    return sorted(out)


class Lifecycle:
    def __init__(self, ctx, stack: Stack, records: int) -> None:
        self.ctx = ctx
        self.stack = stack
        self.records = records
        self.n = 0
        self.errors: list[str] = []
        self.lags_ms: dict[object, float] = {}

    def run_unit(self, _unit):
        from pipegen_spark.plans.runner import PipelineRunner, RunnerConfig

        tracer = self.ctx.tracer
        self.n += 1
        tracer.unit = f"run#{self.n}"
        cfg = RunnerConfig(
            project_dir=self.stack.project,
            wire_broker=f"{self.stack.host}:{self.stack.port}",
            # One produce tick carries every record, so production is
            # not paced by the clock beyond the runner's 0.2 s tick.
            message_rate=self.records * 5,
            duration_seconds=0.2,
            report_dir=os.path.join(self.ctx.work, "reports"),
            variables={"SCHEMA_REGISTRY_URL": self.stack.registry.url},
        )
        try:
            result = PipelineRunner(self.ctx.spark, cfg).run()
        except Exception as exc:  # a failed lifecycle is a failed unit
            self.errors.append(f"run: {type(exc).__name__}: {exc}"[:300])
            return False, 0, None, 0.0
        t0 = time.perf_counter()
        traced, tracer.enabled = tracer.enabled, False
        try:
            ok = self._check(result, traced)
        except Exception as exc:
            self.errors.append(f"check: {type(exc).__name__}: {exc}"[:300])
            ok = False
        finally:
            tracer.enabled = traced
        if traced:
            ps = result.producer_stats
            self.lags_ms[tracer.unit] = 1000.0 * (
                ps["elapsed_seconds"] - cfg.duration_seconds)
        return ok, self.records, None, time.perf_counter() - t0

    def _check(self, result, traced: bool) -> bool:
        ps = result.producer_stats
        cons = ps.get("consumer", {})
        v = cons.get("validation", {})
        problems = []
        if [r["status"] for r in result.statement_results] != ["OK"] * 3:
            problems.append(f"statements {result.statement_results}")
        if ps.get("produced") != self.records:
            problems.append(f"produced {ps.get('produced')}")
        if cons.get("consumed") != self.records or cons.get("stop_reason") != "expected_count":
            problems.append(f"consumed {cons.get('consumed')} ({cons.get('stop_reason')})")
        if v.get("total_rows") != self.records or any(
            n for k, n in v.items() if k.startswith("missing_")
        ):
            problems.append(f"validation {v}")
        h, p = self.stack.host, self.stack.port
        sent = read_topic(h, p, f"{result.run_id}-input")
        got = read_topic(h, p, f"{result.run_id}-output")
        sent_pairs = decode_pairs(sent, sink=False)
        if sent_pairs is None or sent_pairs != decode_pairs(got, sink=True):
            problems.append("output records differ from input records")
        if traced:
            self._time_decode(got)
        if problems:
            self.errors.append("; ".join(problems)[:300])
        return not problems

    def _time_decode(self, values: list[bytes]) -> None:
        """wire.decode: the program's Confluent-Avro decoder over the
        run's output records (the consumer's decode runs inside its
        validation job, so it is timed here on the same bytes)."""
        from pipegen_spark.schema import avsc
        from pipegen_spark.streaming.wire import decode_confluent_avro_py

        schema = avsc.load_schemas(self.stack.project)["output"]
        st = avsc.avro_to_struct(json.loads(schema.content))
        spark = self.ctx.spark
        t0 = time.perf_counter()
        df = spark.createDataFrame([(v,) for v in values], "value binary")
        decode_confluent_avro_py(df, schema.content, st).count()
        self.ctx.tracer.add_span("wire.decode", t0, time.perf_counter())


def install_pipeline_tracing(tracer) -> None:
    from pipegen_spark.monitor import report, validator
    from pipegen_spark.plans import executor, statements
    from pipegen_spark.sources import kafka_wire
    from pipegen_spark.streaming import wire

    tracer.patch_everywhere(statements.load_statements, "plans.load")
    tracer.patch(executor.SQLPipelineExecutor, "execute", "plans.execute")
    tracer.patch(kafka_wire.KafkaWireClient, "fetch_v2", "kafka_wire.fetch")
    tracer.patch_everywhere(validator.validate, "monitor.validate")
    tracer.patch_everywhere(report.write_report, "monitor.report")

    # wire.encode: from the encoder call until the first produce of the
    # run, i.e. the encode job plus the fetch of the encoded bytes.
    encode_start: dict[object, float] = {}
    encode = wire.encode_confluent_avro
    produce = kafka_wire.KafkaWireClient.produce_v2

    @functools.wraps(encode)
    def traced_encode(*args, **kwargs):
        if tracer.enabled:
            encode_start[tracer.unit] = time.perf_counter()
        return encode(*args, **kwargs)

    @functools.wraps(produce)
    def traced_produce(self, *args, **kwargs):
        t0 = encode_start.pop(tracer.unit, None)
        if t0 is not None:
            tracer.add_span("wire.encode", t0, time.perf_counter())
        with tracer.span("kafka_wire.produce"):
            return produce(self, *args, **kwargs)

    tracer.replace(wire, "encode_confluent_avro", traced_encode)
    tracer.replace(kafka_wire.KafkaWireClient, "produce_v2", traced_produce)


def seed_generator(ctx) -> None:
    """Run the producer's synthetic generator with the workload seed."""
    from pipegen_spark.generator import synthetic

    gen = synthetic.generate_from_avro_fields
    ctx.tracer.replace(synthetic, "generate_from_avro_fields",
                       functools.partial(gen, seed=ctx.seed))


def generator_rate(ctx, stack: Stack, records: int) -> float:
    """Rows per second of the producer's synthetic generator, alone."""
    from pipegen_spark.generator import synthetic
    from pipegen_spark.schema import avsc

    fields = avsc.load_schemas(stack.project)["input"].fields
    t0 = time.perf_counter()
    synthetic.generate_from_avro_fields(ctx.spark, fields, records).collect()
    return records / (time.perf_counter() - t0)


def run(ctx) -> Outcome:
    records = RECORDS if ctx.scale is None else max(100, int(RECORDS * ctx.scale))
    stagings, stacks = [], []
    try:
        for i in range(3):
            t0 = time.perf_counter()
            stacks.append(Stack(ctx.work, i))
            stagings.append(time.perf_counter() - t0)
        ctx.setup_parts.append(median(stagings))
        for s in stacks[:-1]:
            s.close()
        stack = stacks[-1]
        stacks = [stack]
        seed_generator(ctx)
        if ctx.trace:
            ctx.layers["generator.rows_per_s"] = generator_rate(ctx, stack, records)
            install_pipeline_tracing(ctx.tracer)
        life = Lifecycle(ctx, stack, records)
        out = timed_passes(ctx, ["run"], life.run_unit)
    finally:
        for s in stacks:
            s.close()
    if ctx.trace:
        units = sorted(life.lags_ms)
        tr = ctx.tracer
        for metric, span in (
            ("plans.load_ms", "plans.load"),
            ("plans.execute_ms", "plans.execute"),
            ("wire.encode_ms", "wire.encode"),
            ("wire.decode_ms", "wire.decode"),
            ("kafka_wire.produce_ms", "kafka_wire.produce"),
            ("kafka_wire.fetch_ms", "kafka_wire.fetch"),
            ("monitor.validate_ms", "monitor.validate"),
            ("monitor.report_ms", "monitor.report"),
        ):
            ctx.layers[metric] = tr.median_ms(span, units)
        ctx.layers["producer.lag_ms"] = median(list(life.lags_ms.values()))
    out.errors = life.errors
    return out
