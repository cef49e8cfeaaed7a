"""The `stream` workload: replay a fixed backlog through the streaming path.

Setup stages a backlog of equal parquet files made by the program's
seeded synthetic generator, with a deterministic event time (one event
every `STEP_MS`). A unit is one replay: a file-source stream reading
one file per trigger (`availableNow`), a watermark and a 1 s tumbling
window count/sum per event type, written through
`streaming.sink.idempotent_dir_sink`. Nothing is paced by the clock.

Check: the committed output equals the same aggregate computed by
pandas over the staged backlog, restricted to the windows the final
watermark has closed.
"""

from __future__ import annotations

import os
import shutil
import time

from common import Outcome, median, timed_passes

FILES = 5
ROWS_PER_FILE = 5000
STEP_MS = 10
WATERMARK_S = 2
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
FIELDS = [
    {"name": "user_id", "type": "string"},
    {"name": "event_type", "type": "string"},
    {"name": "quantity", "type": "int"},
]
PROGRESS_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
}


def stage_backlog(spark, out_dir: str, files: int, rows: int, seed: int):
    """Write `files` parquet files of `rows` events; returns the pandas
    frame of all events and the seconds the generator job took."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipegen_spark.generator.synthetic import generate_from_avro_fields

    t0 = time.perf_counter()
    pdf = generate_from_avro_fields(spark, FIELDS, files * rows, seed).toPandas()
    gen_s = time.perf_counter() - t0
    pdf["ts"] = pd.to_datetime(
        BASE_MS + pdf.index.to_numpy() * STEP_MS, unit="ms", utc=True
    ).astype("datetime64[us, UTC]")
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for i in range(files):
        pq.write_table(
            table.slice(i * rows, rows), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )
    return pdf, gen_s


def expected_windows(pdf) -> dict:
    """(window start ms, event type) -> (count, quantity sum) for every
    window the final watermark (max event time - delay) has closed."""
    import numpy as np
    import pandas as pd

    ms = pd.Series(BASE_MS + np.arange(len(pdf), dtype=np.int64) * STEP_MS,
                   index=pdf.index)
    closed_before = int(ms.max()) - WATERMARK_S * 1000
    frame = pdf.assign(w=(ms // 1000) * 1000)
    frame = frame[frame["w"] + 1000 <= closed_before]
    agg = frame.groupby(["w", "event_type"])["quantity"].agg(["count", "sum"])
    return {(int(w), t): (int(c), int(s)) for (w, t), (c, s) in agg.iterrows()}


class Replay:
    def __init__(self, ctx, backlog: str, schema, expected: dict, rows: int):
        self.ctx = ctx
        self.backlog = backlog
        self.schema = schema
        self.expected = expected
        self.rows = rows
        self.n = 0
        self.errors: list[str] = []
        self.progress: dict[object, list] = {}

    def run_unit(self, _unit):
        from pyspark.sql import functions as F

        from pipegen_spark.streaming.filesource import state_partitions
        from pipegen_spark.streaming.sink import idempotent_dir_sink
        from pipegen_spark.streaming.windows import grouped_with_watermark

        spark, tracer = self.ctx.spark, self.ctx.tracer
        self.n += 1
        tracer.unit = f"replay#{self.n}"
        base = os.path.join(self.ctx.work, f"replay{self.n}")
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        sink = idempotent_dir_sink(out)
        if tracer.enabled:
            sink = tracer.wrap("sink.write", sink)
        src = (spark.readStream.schema(self.schema)
               .option("maxFilesPerTrigger", 1).parquet(self.backlog))
        agg = grouped_with_watermark(
            src, "ts", "1 second", f"{WATERMARK_S} seconds", ["event_type"]
        ).agg(F.count("*").alias("cnt"), F.sum("quantity").alias("qty"))
        try:
            with state_partitions(spark, n=4):
                q = (agg.writeStream.outputMode("append").foreachBatch(sink)
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
            q.awaitTermination()
            progress = q.recentProgress
        except Exception as exc:  # a failed replay is a failed unit
            self.errors.append(f"replay: {type(exc).__name__}: {exc}"[:300])
            return False, 0, None, 0.0
        t0 = time.perf_counter()
        try:
            ok = self._check(out, progress)
        except Exception as exc:  # no committed output is a failed unit
            self.errors.append(f"check: {type(exc).__name__}: {exc}"[:300])
            ok = False
        shutil.rmtree(base, ignore_errors=True)
        if tracer.enabled:
            self.progress[tracer.unit] = progress
            tracer.count("stream.batches", len(progress))
        durations = [float(p.durationMs["triggerExecution"]) for p in progress]
        return ok, self.rows, durations, time.perf_counter() - t0

    def _check(self, out: str, progress) -> bool:
        from pipegen_spark.streaming.sink import read_committed

        rows_in = sum(int(p.numInputRows) for p in progress)
        got = {
            (int(r.window.start.timestamp() * 1000), r.event_type): (r.cnt, r.qty)
            for r in read_committed(self.ctx.spark, out).collect()
        }
        if rows_in != self.rows or got != self.expected:
            self.errors.append(
                f"replay: {rows_in} rows in, {len(got)} windows out, "
                f"expected {self.rows} / {len(self.expected)}")
            return False
        return True


def run(ctx) -> Outcome:
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType, TimestampType)

    files = FILES if ctx.scale is None else max(2, int(FILES * ctx.scale))
    rows = ROWS_PER_FILE if ctx.scale is None else max(100, int(ROWS_PER_FILE * ctx.scale))
    stagings, gen_rates = [], []
    for i in range(3):
        t0 = time.perf_counter()
        backlog = os.path.join(ctx.work, f"backlog{i}")
        pdf, gen_s = stage_backlog(ctx.spark, backlog, files, rows, ctx.seed)
        stagings.append(time.perf_counter() - t0)
        gen_rates.append(files * rows / gen_s)
    ctx.setup_parts.append(median(stagings))
    ctx.layers["generator.rows_per_s"] = median(gen_rates)

    schema = StructType([
        StructField("user_id", StringType()),
        StructField("event_type", StringType()),
        StructField("quantity", IntegerType()),
        StructField("ts", TimestampType()),
    ])
    replay = Replay(ctx, backlog, schema, expected_windows(pdf), files * rows)
    out = timed_passes(ctx, ["replay"], replay.run_unit)
    if ctx.trace:
        batches = [p for ps in replay.progress.values() for p in ps]
        first = next(iter(replay.progress.values()), [])
        sink_ms = [
            (t1 - t0) * 1000.0 for _u, n, t0, t1, _p in ctx.tracer.spans
            if n == "sink.write"
        ]
        ctx.layers["stream.batches"] = (ctx.first_pass_counts or {}).get(
            "stream.batches", 0)
        for metric, phase in PROGRESS_PHASES.items():
            ctx.layers[metric] = median(
                [float(p.durationMs.get(phase, 0)) for p in batches])
        ctx.layers["sink.write_ms"] = median(sink_ms)
        ctx.layers["stream.state_rows"] = median(
            [sum(int(s.numRowsTotal) for s in p.stateOperators) for p in first])
    out.errors = replay.errors
    return out
