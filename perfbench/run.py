"""Benchmark entry point: one workload, one process, one result line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Every workload runs on `local[N]`
(N = the number of cores) with one closed-loop client: one untimed warm
pass, then whole passes until `--seconds` have elapsed. With `--trace 0`
the last stdout line carries the end-to-end metrics; with `--trace 1`
the run alternates untraced and traced passes and reports the per-layer
metrics, including the tracing overhead. The line before it carries the
host's noise (steal, load), the sample count, the p90 latency (too few
samples per run to be a compared metric) and the median per unit. Exit code 0 means the
run finished, even if outputs were wrong (then `correct` is false).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "stream", "pipeline")

#: end-to-end metric -> unit
END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: per-layer metric -> unit; a workload that does not reach a layer
#: reports 0 for it.
PER_LAYER = {
    "catalog.table_ms": "ms",
    "catalog.table_calls": "count",
    "queries.eager_jobs": "count",
    "queries.construct_ms": "ms",
    "operators.materializations": "count",
    "catalyst.plan_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.shuffle_write_mb": "MB",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms",
    "sink.write_ms": "ms",
    "stream.state_rows": "count",
    "plans.load_ms": "ms",
    "plans.execute_ms": "ms",
    "wire.encode_ms": "ms",
    "wire.decode_ms": "ms",
    "kafka_wire.produce_ms": "ms",
    "kafka_wire.fetch_ms": "ms",
    "producer.lag_ms": "ms",
    "monitor.validate_ms": "ms",
    "monitor.report_ms": "ms",
    "process.cpu_s": "s",
    "warmup.pass_s": "s",
    "generator.rows_per_s": "1/s",
    "trace.overhead_pct": "%",
    "host.steal_pct": "%",
    "host.loadavg_1m": "tasks",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="size factor (self-check runs): corpus scale for "
                   "relational, share of the backlog or of the records "
                   "for stream and pipeline")
    p.add_argument("--digests", default=None,
                   help="pinned-digest file override (self-check runs)")
    return p.parse_args(argv)


def start_session(work: str):
    from pipegen_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cpus=os.cpu_count() or 4,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(ctx, name: str):
    if name == "relational":
        import batch

        return batch.run(ctx)
    if name == "stream":
        import stream

        return stream.run(ctx)
    import pipeline

    return pipeline.run(ctx)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pipegen_spark", "__init__.py")):
        print(f"pipegen_spark not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Everything the run writes (Spark scratch, spills, temp files) stays
    # in the checkout; Python workers import the package from ROOT.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    from common import Ctx, median, percentile
    from host import StealMeter, TreeSampler
    from spans import Tracer

    steal = StealMeter()
    try:
        with TreeSampler() as rss:
            spark = start_session(work)
            session_s = time.perf_counter() - t_main
            try:
                ctx = Ctx(
                    spark=spark, work=work, seed=args.seed,
                    seconds=args.seconds, trace=bool(args.trace),
                    tracer=Tracer(enabled=False), scale=args.scale,
                    digests_path=args.digests,
                )
                out = run_workload(ctx, args.workload)
                ctx.tracer.restore()
            finally:
                stop_session(spark)
        host = steal.read()
        if ctx.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    correct = out.failed == 0 and out.attempted > 0 and out.work > 0
    if args.trace:
        values = {**dict.fromkeys(PER_LAYER, 0.0), **ctx.layers, **host}
        units = PER_LAYER
    else:
        values = {
            "throughput_per_s": out.work / out.window_s if out.window_s else 0.0,
            "latency_p50_ms": median(out.latencies_ms),
            "peak_rss_mb": rss.peak / 1e6,
            "setup_s": session_s + sum(ctx.setup_parts),
        }
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(out.latencies_ms),
        "latency_p90_ms": percentile(out.latencies_ms, 90),
        "unit_ms": {u: round(median(v), 1) for u, v in out.unit_ms.items()},
        "window_s": round(out.window_s, 3),
        "warmup_pass_s": ctx.layers.get("warmup.pass_s"),
        "counts_repeat": ctx.counts_repeat,
        **{k: round(v, 3) for k, v in host.items()},
        "errors": out.errors[:5],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
