"""The `relational` workload: a warm query mix over a generated corpus.

A unit is one query: build the DataFrame through the registry function
(construction, with whatever eager jobs it fires), then `collect()`
(Catalyst, execution, fetch). The collected rows are hashed with the
program's canonical digest and compared with the digest pinned in
`digests.json`; a mismatch or an exception is a failed unit.
"""

from __future__ import annotations

import json
import os
import random
import time

import pyarrow.parquet as pq

import datagen
from common import Outcome, median, timed_passes
from spans import SparkProbe, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
#: The corpus is fixed so that per-query digests can be pinned; `--seed`
#: sets the order in which the mix is run.
CORPUS_SEED = 20261017
CORPUS_SF = 0.01
SELFCHECK_SF = 0.001

#: The 10-query mix: scan, filter, aggregate, join, window, string and
#: JSON functions, sessionization and two TPC-H queries (several table
#: reads each). q61_pagerank, an iterative query that materialises, was
#: tried and left out: 2.5-4.7 s a run, it still sped up over the fourth
#: pass and set the spread of the whole mix.
RELATIONAL = [
    "q01_scan_project", "q03_agg_having", "q04_join_broadcast",
    "q08_window_rownum", "q11_string_funcs", "q13_event_window",
    "q19_props_extract", "q31_sessionize", "q43_tpch_pricing",
    "q65_tpch_priority_mix",
]


def load_digests(scale: float, path: str | None = None) -> dict[str, str]:
    """Pinned digests of the corpus at `scale` ({} if none are pinned)."""
    with open(path or os.path.join(HERE, "digests.json")) as fh:
        return json.load(fh)["digests"].get(str(scale), {})


def stage_corpus(work: str, i: int, sf: float) -> tuple[str, int]:
    out = os.path.join(work, f"corpus{i}")
    datagen.write_corpus(out, sf, CORPUS_SEED)
    rows = sum(
        pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
        for f in os.listdir(out)
    )
    return out, rows


class QueryMix:
    """Runs one pass of a query mix and checks every result."""

    def __init__(self, spark, names, sf_dir, digests, tracer: Tracer):
        from pipegen_spark.queries.canon import result_sha256
        from pipegen_spark.queries.registry import all_queries

        registry = all_queries()
        self.spark = spark
        self.fns = {n: registry[n] for n in names}
        self.sf_dir = sf_dir
        self.digests = digests
        self.tracer = tracer
        self.probe = SparkProbe(spark)
        self.sha = result_sha256
        self.errors: list[str] = []
        self.seq = 0

    def run_unit(self, name: str):
        tr = self.tracer
        self.seq += 1
        tr.unit = f"{name}#{self.seq}"
        try:
            if tr.enabled:
                df, rows = self._traced(name)
            else:
                df = self.fns[name](self.spark, self.sf_dir)
                rows = df.collect()
        except Exception as exc:  # a failed query is a failed unit
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return False, 0, None, 0.0
        t0 = time.perf_counter()
        ok = self._check(name, df.columns, rows)
        return ok, 1, None, time.perf_counter() - t0

    def _traced(self, name: str):
        tr, probe = self.tracer, self.probe
        g_build, g_exec = f"{tr.unit}/construct", f"{tr.unit}/execute"
        probe.group(g_build)
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        probe.group(g_exec)
        rows = df.collect()
        t2 = time.perf_counter()
        probe.clear_group()
        tr.add_span("queries.construct", t0, t1)
        tr.add_span("engine.execute", t1, t2)
        probe.drain()
        eager = probe.jobs(g_build)
        jobs = probe.jobs(g_exec)
        stages, shuffle = probe.stages(jobs)
        tr.count("queries.eager_jobs", len(eager))
        tr.count("engine.jobs", len(jobs))
        tr.count("engine.stages", stages)
        tr.count("engine.shuffle_write_bytes", shuffle)
        # Catalyst runs inside construction and collect; the span carries
        # the tracker's phase total, anchored at the start of collect.
        tr.add_span("catalyst.plan", t1, t1 + probe.catalyst_ms(df) / 1000.0)
        return df, rows

    def _check(self, name, cols, rows) -> bool:
        got = self.sha(cols, [tuple(r) for r in rows])
        if got != self.digests.get(name):
            self.errors.append(f"{name}: digest {got[:12]} != pinned")
            return False
        return True


def install_batch_tracing(tracer: Tracer, spark) -> None:
    from pipegen_spark import catalog
    from pipegen_spark.operators import spill

    tracer.patch_everywhere(catalog.table, "catalog.table", "catalog.table_calls")
    tracer.patch_everywhere(
        spill.spill_to_parquet, "operators.spill", "operators.materializations"
    )
    df_cls = type(spark.range(1))
    for meth in ("localCheckpoint", "persist", "cache"):
        tracer.patch(df_cls, meth, f"operators.{meth}", "operators.materializations")


def run(ctx) -> Outcome:
    names = list(RELATIONAL)
    sf = ctx.scale if ctx.scale is not None else CORPUS_SF
    digests = load_digests(sf, ctx.digests_path)
    stagings, rows = [], 0
    for i in range(3):
        t0 = time.perf_counter()
        sf_dir, rows = stage_corpus(ctx.work, i, sf)
        stagings.append(time.perf_counter() - t0)
    ctx.setup_parts.append(median(stagings))
    ctx.layers["generator.rows_per_s"] = rows / median(stagings)

    tracer = ctx.tracer
    mix = QueryMix(ctx.spark, names, sf_dir, digests, tracer)
    if ctx.trace:
        install_batch_tracing(tracer, ctx.spark)

    order = names[:]
    random.Random(ctx.seed).shuffle(order)
    out = timed_passes(ctx, order, mix.run_unit)
    if ctx.trace:
        units = sorted({u for u, *_ in tracer.spans if u is not None})
        c = ctx.first_pass_counts or {}
        ctx.layers.update({
            "catalog.table_ms": tracer.median_ms("catalog.table", units),
            "queries.construct_ms": tracer.median_ms("queries.construct", units),
            "catalyst.plan_ms": tracer.median_ms("catalyst.plan", units),
            "engine.execute_ms": tracer.median_ms("engine.execute", units),
            "catalog.table_calls": c.get("catalog.table_calls", 0),
            "queries.eager_jobs": c.get("queries.eager_jobs", 0),
            "operators.materializations": c.get("operators.materializations", 0),
            "engine.jobs": c.get("engine.jobs", 0),
            "engine.stages": c.get("engine.stages", 0),
            "engine.shuffle_write_mb": c.get("engine.shuffle_write_bytes", 0) / 1e6,
        })
    out.errors = mix.errors
    return out
