"""Benchmark harness: runs the declared query corpus at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed once, end-to-end (plan + execute + collect), after a
small warm-up that spins up the JVM and primes the parquet footers so the
numbers measure query execution rather than session bootstrap.

Three timing views:
- `queries` / cold total (the headline `value`): sequential first runs —
  includes whole-stage-codegen compilation, comparable round-over-round.
- `queries_warm` / `warm_total_sequential`: sequential second runs —
  steady-state per-query engine cost.
- `warm_total`: the warm corpus re-run through an 8-thread pool under the
  FAIR scheduler (streaming queries stay sequential — they resize state
  partitioning via a session conf). ~50 of 94 queries are dominated by the
  0.15-0.5 s/query driver scheduling floor, which is idle executor time,
  not engine work; overlapping jobs measures the corpus the way a
  multi-tenant cluster actually runs it. Per-query times from the pooled
  pass are NOT reported (wall time under contention is not a query cost).
  The pooled pass runs TWICE and reports the min (`pooled_runs` carries
  both) — it is the most contention-sensitive number in the report.

Attribution telemetry (round-7): 1-min loadavg is recorded before every
pass (`loadavg_1min`), and the run is diffed against the newest
`bench_history/bench_detail_r*.json` at the same sf — previous totals
plus the top per-query cold regressions land in the stdout line
(`drift`), the full table in the detail file.

Round-8 additions: the run WAITS for an idle box before timing (1-min
loadavg < 3, up to 10 min — the r7 artifact was captured at loadavg 10
and warm came out ABOVE cold on untouched code; outcome recorded in
`idle_gate`, opt out via SPARK_GRAFT_NO_IDLE_GATE=1), and the fixed
per-query driver floor (median `SELECT 1` collect wall time) is
measured and reported as `spark_floor_sec`, so small-query
Spark/DuckDB ratios can be read floor-adjusted (BASELINE.md). The
DuckDB baseline pass gets its own settle gate (same idle criterion):
it runs right after the pooled passes and was inheriting their load
tail, inflating its slowest oracles 1.5-2x — an unfairly slow
baseline flatters the ratio; its watchdog is 40 s/query so the
heavy dedup oracles (16-19 s idle) don't convert contention into
`timed_out` coverage gaps.

Round-11 addition: the idle gate re-checks BEFORE EVERY TIMED PASS
(warm, pooled1, pooled2 — `pass_gates`), not just at run start: the r10
artifact passed the start gate at loadavg 1.66 and then took its warm
pass at 5.72 / pooled2 at 15.05, inflating warm numbers ~1.9x uniformly
(DuckDB included). Each pass waits up to PASS_MAX_WAIT for the box to
quiet down and records the gate outcome either way.

Output contract (round-5 fix): the driver captures only the LAST 2000
chars of stdout, and rounds 1-4 each emitted a single JSON line with 149
per-query times + sha256 hashes — far past the window, so the driver
recorded `parsed: null` every round. Now the FULL detail (all per-query
cold/warm/duckdb times + the canonical result_sha256 digests, via
pipegen_spark/queries/canon.py — same canonicalization as the correctness
gate mirror, so a driver-side hash red can be diffed against the repo's
own hash) goes to `.benchmarks/bench_detail.json`, and stdout gets a
compact (<2000 chars) final line whose `queries` map carries only the
top-20 slowest queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Excluded from the concurrent pool: streaming parity queries — they
# resize state partitioning via a session conf and run micro-batch
# machinery (q40 is the BATCH hopping-window query and pools fine). The
# connected-components queries pool too: dup_clusters sets no session
# conf.
SEQUENTIAL_ONLY = ("q39_", "q41_", "q42_", "q60_")
POOL_THREADS = 8
TOP_QUERIES = 20  # stdout line carries only the slowest N (size budget)


IDLE_LOADAVG = 3.0  # publishable-artifact gate: 1-min loadavg below this
IDLE_MAX_WAIT = 600.0  # give up waiting after this many seconds
#: Round-11 (r10 VERDICT what's-wrong #1): the r10 warm pass ran at
#: loadavg 5.72 and pooled run 2 at 15.05 — the start-only gate had
#: passed at 1.66, so the artifact recorded ~1.9x uniformly-inflated
#: warm numbers (DuckDB included) that cost a round of attribution.
#: Every timed pass now re-checks the gate, with a shorter per-pass
#: budget so a persistently-loaded box still completes the run (the
#: outcome is recorded either way; a contended pass is self-labeling).
PASS_MAX_WAIT = 180.0
#: Round-12 (r11 VERDICT #2): the per-pass gate had an OWN-LOAD blind
#: spot — right after the cold pass, the 1-min loadavg mostly measures
#: the bench's own just-finished work, so gates read "ok" at 2.6-2.96
#: while the warm-sequential table inflated 1.3-2x uniformly (r11: 67
#: apparent regressions, 0 improvements, untouched canaries included).
#: Each GATED pass now sleeps a fixed settle first, so the trailing
#: own-load decays out of the 1-min window (and the JVM's GC/JIT tail
#: drains) BEFORE the loadavg criterion is evaluated.
SETTLE_SEC = 75.0


def _await_idle_box(
    max_wait: float = IDLE_MAX_WAIT, settle: float = 0.0
) -> dict:
    """Block until the box is quiet (1-min loadavg < IDLE_LOADAVG) or
    IDLE_MAX_WAIT elapses. Round-7 finding: the final artifact was
    captured at loadavg 10 and recorded warm times ABOVE cold on
    untouched code — a pure contention signature that cost a round of
    attribution. The telemetry existed; this acts on it. The gate
    never blocks forever (the driver's bench run must complete), it
    just trades up to 10 min of waiting for a clean artifact; the
    outcome is recorded either way so a loaded-box artifact is
    self-labeling. Disable with SPARK_GRAFT_NO_IDLE_GATE=1 (local
    iteration loops don't need the wait)."""
    if os.environ.get("SPARK_GRAFT_NO_IDLE_GATE"):
        return {"enabled": False, "loadavg_at_start": round(os.getloadavg()[0], 2)}
    t0 = time.perf_counter()
    if settle:
        time.sleep(settle)  # decay OWN trailing load out of the window
    load = os.getloadavg()[0]
    while load >= IDLE_LOADAVG and time.perf_counter() - t0 < max_wait:
        time.sleep(15.0)
        load = os.getloadavg()[0]
    return {
        "enabled": True,
        "threshold": IDLE_LOADAVG,
        "settled_sec": settle,
        "waited_sec": round(time.perf_counter() - t0, 1),
        "loadavg_at_start": round(load, 2),
        "satisfied": bool(load < IDLE_LOADAVG),
    }


def _spark_floor(spark, n: int = 7) -> float:
    """Median wall time of a `SELECT 1` collect — the fixed per-query
    driver cost (plan + schedule + fetch) that dominates small queries
    at sf0.1 (BASELINE.md floor paragraph). Measured, not guessed, so
    per-query Spark/DuckDB ratios can be reported floor-adjusted."""
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.sql("SELECT 1").collect()
        samples.append(time.perf_counter() - t0)
    return round(sorted(samples)[n // 2], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    idle_gate = _await_idle_box()

    # Python workers inherit this in local mode: keeps pandas/Arrow
    # FutureWarnings out of a merged stdout/stderr capture.
    os.environ.setdefault("PYTHONWARNINGS", "ignore")

    from pipegen_spark.operators.spill import spill_scope
    from pipegen_spark.queries.canon import result_sha256
    from pipegen_spark.queries.registry import all_queries
    from pipegen_spark.session import get_spark

    spark = get_spark(
        "pipegen-bench",
        cpus=cpus,
        extra_conf={
            "spark.scheduler.mode": "FAIR",
            # The console progress bar writes "[Stage N:...]" with bare \r
            # (no trailing \n); whatever is printed next lands on the SAME
            # line, so the final JSON line can end up prefixed with
            # progress-bar junk and fail a line-oriented json.loads. Rounds
            # 1-3 all recorded "parsed": null for exactly this reason.
            "spark.ui.showConsoleProgress": "false",
            # Three corpus passes create ~5k broadcasts; ContextCleaner
            # only reclaims them after a driver GC proves the refs dead,
            # and the default periodicGC.interval (30min) never fires
            # inside a bench run — the accumulated pieces eventually fill
            # the storage pool and a late "TorrentBroadcast: Store
            # broadcast fail" ERROR lands in stderr (r5 finding). A short
            # interval + explicit gc between passes keeps it clean.
            "spark.cleaner.periodicGC.interval": "90s",
        },
    )

    def _drain_gc() -> None:
        # Let ContextCleaner reclaim dead broadcasts/shuffles between
        # passes (see periodicGC note above). Driver-side JVM gc; cheap
        # relative to a corpus pass.
        spark.sparkContext._jvm.System.gc()

    qs = all_queries()
    # Warm-up: JVM codegen + file listing + the Arrow/Python worker pool
    # (first pandas-UDF use forks ~1 worker/core and imports numpy/pandas —
    # session bootstrap, not query cost), not measured.
    qs["q01_scan_project"](spark, sf_dir).collect()
    spark.range(10_000).repartition(int(cpus) if cpus.isdigit() else 32).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    # Machine-load context around EVERY pass (round-6 verdict: the r5->r6
    # warm drift was unattributable because only the streaming probe
    # recorded loadavg — a +52% pooled regression could not be separated
    # from box contention).
    loadavg: dict[str, float] = {}
    # Per-pass idle gate (round-11): each timed pass re-checks the idle
    # criterion with a bounded wait before its loadavg is stamped, so a
    # mid-run load spike shows up as an unsatisfied gate on exactly the
    # pass it contaminated instead of poisoning the artifact silently.
    pass_gates: dict[str, dict] = {}

    def _load(tag: str, gate: bool = False) -> None:
        if gate:
            # settle first (r11 VERDICT #2): the gate must not read the
            # bench's own trailing work as box load — or, worse, pass
            # while the JVM tail is still genuinely hot.
            pass_gates[tag] = _await_idle_box(
                max_wait=PASS_MAX_WAIT + SETTLE_SEC, settle=SETTLE_SEC
            )
        loadavg[tag] = round(os.getloadavg()[0], 2)

    # Fixed per-query driver floor, measured on the warmed session just
    # before the timed passes (round-7 verdict #7).
    spark_floor = _spark_floor(spark)

    # Each timed pass owns the spills its queries make (one spill_scope
    # per pass, opened on this thread around the pool): they are deleted
    # when the pass ends, never while a query can still read them.
    _load("cold_before")
    times: dict[str, float] = {}
    with spill_scope():
        for name in sorted(qs):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            times[name] = round(time.perf_counter() - t0, 4)

    total = round(sum(times.values()), 4)
    _drain_gc()

    # Second pass: warm numbers. First-run cost is dominated by whole-stage
    # codegen compilation (measured: simhash 4.2 s cold / 1.4 s warm), so
    # the warm pass is the steady-state engine cost — what a long-lived
    # cluster session actually pays per query. The headline metric stays
    # the cold total for round-over-round comparability.
    _load("warm_before", gate=True)
    warm: dict[str, float] = {}
    hashes: dict[str, str] = {}
    with spill_scope():
        for name in sorted(qs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            rows = df.collect()
            warm[name] = round(time.perf_counter() - t0, 4)
            hashes[name] = result_sha256(df.columns, [tuple(r) for r in rows])
    warm_total_seq = round(sum(warm.values()), 4)
    _drain_gc()

    # Third pass: the warm corpus through a FAIR-scheduler thread pool —
    # the scheduler-floor-free total (see module docstring). Run TWICE and
    # report the min (round-6 verdict: the pooled total is the most
    # contention-sensitive number in the report — a transient background
    # load inflates one run; min-of-2 plus the recorded loadavg makes a
    # genuine regression separable from box noise).
    def _run(name: str) -> None:
        qs[name](spark, sf_dir).collect()

    pooled = [n for n in qs if not n.startswith(SEQUENTIAL_ONLY)]
    sequential = [n for n in qs if n.startswith(SEQUENTIAL_ONLY)]
    pooled_runs: list[float] = []
    for run_no in (1, 2):
        _load(f"pooled{run_no}_before", gate=True)
        t0 = time.perf_counter()
        with spill_scope():
            with ThreadPoolExecutor(max_workers=POOL_THREADS) as pool:
                list(pool.map(_run, pooled))
            for name in sequential:
                _run(name)
        pooled_runs.append(round(time.perf_counter() - t0, 4))
        _drain_gc()
    warm_total = min(pooled_runs)
    # Floor-adjusted pooled headline (r12 VERDICT #2): at sf0.1 the
    # pooled wall is floor-dominated (~50 queries return in pure
    # scheduling time), so subtract the estimated scheduler-floor share
    # — spark_floor per query, amortized across the pool's threads —
    # to expose the engine-work component that should track code
    # changes round-over-round.
    pooled_floor_share = round(
        spark_floor * len(pooled) / POOL_THREADS
        + spark_floor * len(sequential),
        2,
    )
    warm_total_floor_adj = round(max(0.0, warm_total - pooled_floor_share), 2)

    # Single-node comparative baseline: the same queries (their oracle SQL)
    # through DuckDB on the same files — ALL of them, each under a
    # per-query watchdog, so the ratio compares equal query sets.
    # The baseline gets the SAME treatment as the Spark pooled passes
    # (r12 judge finding: the builder's DuckDB pass ran settle-free and
    # gated at exactly loadavg 3.0 — its 118.3 s total was contention-
    # inflated ~2x vs the driver's settled ~68 s, overstating the
    # published ratio): 75 s settle + bounded idle wait before EACH of
    # two passes, report the min, per-pass gates recorded so a loaded
    # pass is self-labeling. Never quote a Spark/DuckDB ratio whose
    # DuckDB side wasn't settle-gated min-of-2.
    baseline = None
    try:
        duckdb_passes = []
        for run_no in (1, 2):
            _load(f"duckdb{run_no}_before", gate=True)
            b = _duckdb_baseline(sf_dir)
            b["settle_gate"] = pass_gates[f"duckdb{run_no}_before"]
            duckdb_passes.append(b)
        baseline = min(duckdb_passes, key=lambda b: b["sec"])
        baseline["runs"] = [b["sec"] for b in duckdb_passes]
    except Exception as e:  # baseline is context, not the metric — but
        # say WHY it is missing (stderr keeps the stdout JSON line clean)
        print(f"duckdb baseline failed: {e!r}", file=sys.stderr)

    # Streaming sanity vs BASELINE.md: the reference documents 100 msg/s as
    # its default and 50 000 msg/s as its high-throughput benchmark target
    # (docs-site/advanced/performance.md:375-379). Measure the synthetic
    # generator -> watermarked window agg path at the documented target.
    # The machine's 1-min loadavg is recorded alongside: the r4->r5
    # throughput delta (117.9k -> 107.5k rows/s) was unattributable
    # because load context was not captured.
    # Same settle logic as the DuckDB pass: the probe ran at loadavg ~8
    # in the r8 pre-run (inherited from the preceding passes) and read
    # 81.6k rows/s vs 133k on a quiet box — throughput noise that is
    # pure contention, not regression.
    stream_settle = _await_idle_box()
    streaming = None
    try:
        load_before = round(os.getloadavg()[0], 2)
        # Unmeasured warm-up: the FIRST streaming query in a session
        # pays state-store/codegen/sink bootstrap and its early batches
        # run 30-50% slow (measured back-to-back 16 s probes: 86k cold
        # -> 132k warm median). The batch corpus gets a warm-up; the
        # streaming probe deserves the same.
        _stream_throughput(spark, target_rps=50_000, seconds=5)
        # 16 s window (was 8): the first post-corpus batches run slow
        # while the JVM drains (r9 run caught only 3 batches in 8 s and
        # the median sat on 2 samples); a longer window gives the
        # steady-state batches the majority.
        streaming = _stream_throughput(
            spark, target_rps=50_000, seconds=16
        )
        streaming["loadavg_1min_before"] = load_before
        streaming["settle_gate"] = stream_settle
    except Exception as e:
        print(f"streaming probe failed: {e!r}", file=sys.stderr)

    # Traffic-pattern probe (round-11, r10 VERDICT task 6): the DSL +
    # rate-controlled producer measured END-TO-END — a spiking schedule
    # ("2s-6s:300%" over a 20k base) driven through the producer, with
    # per-level achieved-rate medians and a tracked/not verdict. This is
    # the reference's headline demo (traffic_pattern.go:120-130) as a
    # measured artifact rather than a unit test.
    traffic = None
    try:
        import shutil
        import tempfile

        from pipegen_spark.streaming.producer import measure_rate_tracking

        ckpt = tempfile.mkdtemp(prefix="bench-traffic-")
        try:
            traffic = measure_rate_tracking(
                spark,
                base_rps=20_000,
                pattern="2s-6s:300%",
                seconds=9.0,
                checkpoint_dir=ckpt,
                trigger_seconds=0.5,
            )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        traffic["settle_gate"] = {
            "loadavg_1min_before": round(os.getloadavg()[0], 2)
        }
    except Exception as e:
        print(f"traffic probe failed: {e!r}", file=sys.stderr)

    _load("after")

    # Round-over-round drift vs the newest archived detail (round-6
    # verdict #7: r6->r7 is the first diffable round pair — surface the
    # top cold regressions in the driver-captured tail, full table in the
    # detail file).
    drift = None
    try:
        drift = _drift_vs_history(
            times, total, warm_total, sf,
            warm=warm, pooled_runs=pooled_runs,
            duckdb_sec=(baseline or {}).get("sec"),
        )
    except Exception as e:
        print(f"drift computation failed: {e!r}", file=sys.stderr)

    # Full per-query detail to the side file; compact summary to stdout.
    detail_dir = os.path.join(REPO, ".benchmarks")
    os.makedirs(detail_dir, exist_ok=True)
    detail_path = os.path.join(detail_dir, "bench_detail.json")
    detail = {
        "metric": "corpus_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_warm": warm,
        "warm_total": warm_total,
        "warm_total_floor_adj": warm_total_floor_adj,
        "pooled_floor_share_sec": pooled_floor_share,
        "warm_total_sequential": warm_total_seq,
        "pool_threads": POOL_THREADS,
        "result_sha256": hashes,
        "pooled_runs": pooled_runs,
        "loadavg_1min": loadavg,
        "idle_gate": idle_gate,
        "pass_gates": pass_gates,
        "spark_floor_sec": spark_floor,
        "sf": sf,
        "n_queries": len(times),
        "cpus": cpus,
    }
    if baseline is not None:
        detail["duckdb_baseline"] = baseline
        # Drift-proof headline (r13 VERDICT #2): the same-run ratio of
        # the settled min-of-2 DuckDB control to the Spark pooled warm
        # total. Both engines run the same queries on the same files in
        # the same run, so environmental degradation cancels — the r13
        # box drifted 40-73% within a day and made absolute seconds
        # unfalsifiable while this ratio stayed interpretable. >1 means
        # Spark finished the corpus faster than the control.
        if warm_total:
            detail["spark_duckdb_warm_ratio"] = round(
                baseline["sec"] / warm_total, 3
            )
    if streaming is not None:
        detail["streaming"] = streaming
    if traffic is not None:
        detail["traffic_tracking"] = traffic
    if drift is not None:
        detail["drift"] = drift
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # Versioned archive (round-5 verdict: the side file is overwritten
    # every run, so r4->r5 per-query comparison was impossible). Driver
    # rounds run at the default sf0.1; local sf0.01 iteration runs leave
    # the committed history alone. BENCH_r{N}.json files are written by
    # the driver at round end, so the round being benched is max+1.
    if abs(sf - 0.1) < 1e-9:
        import glob

        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        round_no = (max(rounds) + 1) if rounds else 1
        hist_dir = os.path.join(REPO, "bench_history")
        os.makedirs(hist_dir, exist_ok=True)
        hist_path = os.path.join(
            hist_dir, f"bench_detail_r{round_no:02d}.json"
        )
        with open(hist_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)

    # 2-decimal per-query values in the stdout line (r13 VERDICT #1):
    # the driver's PERF comparison reads this map — size it to FIT the
    # 2000-char tail capture rather than trimming it away below.
    slowest = {
        k: round(v, 2)
        for k, v in sorted(times.items(), key=lambda kv: -kv[1])[:TOP_QUERIES]
    }
    out = {
        "metric": "corpus_total_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "queries_omitted": len(times) - len(slowest),
        "warm_total": warm_total,
        "warm_total_floor_adj": warm_total_floor_adj,
        "warm_total_sequential": warm_total_seq,
        "pooled_runs": pooled_runs,
        "loadavg_1min": loadavg,
        "idle_gate": idle_gate,
        # Compact per-pass gate outcomes for the driver-captured tail
        # (full records in the detail file): ok = loadavg was below the
        # threshold when the pass started timing.
        "pass_gates": {
            tag: {
                "ok": g.get("satisfied", True),
                "wait": g.get("waited_sec", 0.0),
            }
            for tag, g in pass_gates.items()
        },
        "spark_floor_sec": spark_floor,
        "sf": sf,
        "n_queries": len(times),
        "cpus": cpus,
        "detail": os.path.relpath(detail_path, REPO),
    }
    if drift is not None:
        out["drift"] = {
            "vs": drift["vs"],
            "cold_total_prev": drift["cold_total_prev"],
            "warm_total_prev": drift["warm_total_prev"],
            "top_cold_regressions": dict(
                list(drift["cold_regressions"].items())[:3]
            ),
        }
    if baseline is not None:
        out["duckdb_baseline"] = {
            "sec": baseline["sec"],
            "runs": baseline.get("runs"),
            "completed": baseline["completed"],
            "n_timed_out": len(baseline["timed_out"]),
        }
        if warm_total:
            out["spark_duckdb_warm_ratio"] = round(
                baseline["sec"] / warm_total, 3
            )
    if streaming is not None:
        out["streaming"] = streaming
    if traffic is not None:
        out["traffic_tracking"] = {
            "ok": traffic["ok"],
            "worst_level_err_pct": traffic["worst_level_err_pct"],
            "levels": {
                k: v["median_rps"] for k, v in traffic["levels"].items()
            },
        }
    line = _fit_stdout_line(out, len(times))
    # Leading newline: guarantees the JSON starts its own line even if a
    # previous writer left an unterminated line on stdout (see the
    # showConsoleProgress note above); explicit flush so the driver's
    # capture sees it even if the JVM teardown below is killed.
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()
    # Teardown can race in-flight statusUpdate messages against the
    # terminated TaskResultGetter pool (RejectedExecutionException ERROR
    # + stack trace in stderr — pure shutdown noise, seen at sf0.01).
    # The JSON line is already flushed; silence the logger for the stop.
    spark.sparkContext.setLogLevel("FATAL")
    spark.stop()


def _fit_stdout_line(out: dict, n_queries_total: int,
                     budget: int = 1900) -> str:
    """Shrink the stdout summary dict (in place) until its JSON fits the
    driver's 2000-char tail capture; return the serialized line.

    Trim priority (r13 VERDICT #1): the old order popped "queries" FIRST,
    which starved the driver's PERF comparison of per-query times every
    round (n_common: 0, null geomean, empty scaling block). Per-query
    times are the single most valuable field in the line — drop telemetry
    context first, then shrink the queries map one entry at a time, and
    only as a dead-last resort drop it whole."""
    line = json.dumps(out)
    if len(line) <= budget:  # hard guarantee: driver tail-captures 2000
        return line
    for k in ("drift", "pass_gates", "loadavg_1min", "idle_gate",
              "traffic_tracking", "streaming"):
        out.pop(k, None)
        line = json.dumps(out)
        if len(line) <= budget:
            return line
    while len(line) > budget and out.get("queries"):
        # insertion order is slowest-first: popitem() drops the fastest
        # retained entry, keeping the informative tail
        out["queries"].popitem()
        out["queries_omitted"] = n_queries_total - len(out["queries"])
        line = json.dumps(out)
    if len(line) > budget:
        for k in ("duckdb_baseline", "queries"):
            out.pop(k, None)
            line = json.dumps(out)
            if len(line) <= budget:
                break
    return line


def _drift_vs_history(
    times: dict[str, float], total: float, warm_total: float, sf: float,
    warm: dict[str, float] | None = None,
    pooled_runs: list[float] | None = None,
    duckdb_sec: float | None = None,
) -> dict | None:
    """Per-query cold-time drift vs the newest bench_history archive.

    Returns the previous totals plus the top per-query regressions
    (absolute seconds, only where both rounds ran the query and the
    delta is both >0.5 s and >15% — below that is scheduling noise at
    sf0.1). None when no history exists or the archived run used a
    different scale factor (cross-SF deltas are meaningless).

    Pooled-pass drift (r12 VERDICT #2): the pooled total is the most
    contention-sensitive number and was the only pass without a
    round-over-round table — a 54.5 -> 75.6 s rise in r12 couldn't be
    attributed even though common-query warm sums IMPROVED. Now the
    table carries both rounds' pooled_runs plus the warm-sequential sum
    restricted to the COMMON query set, so "pooled rose but common
    per-query work fell" reads directly as pooled-pass scheduling/
    contention, not a code regression."""
    import glob

    hist = sorted(glob.glob(os.path.join(REPO, "bench_history",
                                         "bench_detail_r*.json")))
    if not hist:
        return None
    with open(hist[-1]) as fh:
        prev = json.load(fh)
    if abs(float(prev.get("sf", -1.0)) - sf) > 1e-9:
        return None
    prev_times = prev.get("queries", {})
    regressions = {
        name: [prev_times[name], now]
        for name, now in times.items()
        if name in prev_times
        and now - prev_times[name] > 0.5
        and now > prev_times[name] * 1.15
    }
    regressions = dict(
        sorted(regressions.items(), key=lambda kv: kv[1][0] - kv[1][1])
    )
    m = re.search(r"bench_detail_(r\d+)\.json$", hist[-1])
    out = {
        "vs": m.group(1) if m else os.path.basename(hist[-1]),
        "cold_total_prev": prev.get("value"),
        "warm_total_prev": prev.get("warm_total"),
        "cold_total_now": total,
        "warm_total_now": warm_total,
        "cold_regressions": regressions,
    }
    if pooled_runs is not None:
        out["pooled_runs_prev"] = prev.get("pooled_runs")
        out["pooled_runs_now"] = pooled_runs
    # Ratio-based drift (r13 VERDICT #2): absolute seconds move with the
    # box (the r13 DuckDB control drifted 67.8 → 148.4 s on unchanged
    # code); the same-run spark/duckdb ratio cancels that. Compare THIS
    # round's ratio against the archived round's ratio — if the ratio is
    # stable while seconds moved, it was the box, not the code.
    prev_duck = (prev.get("duckdb_baseline") or {}).get("sec")
    prev_warm_total = prev.get("warm_total")
    if prev_duck and prev_warm_total:
        out["spark_duckdb_warm_ratio_prev"] = round(
            prev_duck / prev_warm_total, 3
        )
    if duckdb_sec and warm_total:
        out["spark_duckdb_warm_ratio_now"] = round(
            duckdb_sec / warm_total, 3
        )
    prev_warm = prev.get("queries_warm") or {}
    if warm and prev_warm:
        common = set(warm) & set(prev_warm)
        out["warm_common_queries"] = len(common)
        out["warm_common_sum_prev"] = round(
            sum(prev_warm[n] for n in common), 2
        )
        out["warm_common_sum_now"] = round(
            sum(warm[n] for n in common), 2
        )
    return out


def _stream_throughput(spark, target_rps: int, seconds: float) -> dict:
    """Achieved rows/sec of a full streaming pipeline (synthetic generator →
    watermark → 1 s tumbling window agg → memory sink) at `target_rps`.

    State partitions are sized to the workload via
    `streaming.filesource.state_partitions` (8, not the batch corpus's
    32): each micro-batch pays a per-partition state-store commit, so at
    ~50k rows/batch the 32-way layout is overhead-dominated — measured
    1.45x throughput from 32 → 8. This is the same state-sizing decision a
    real deployment makes (state partition count is fixed at stream start
    and should match state size, not batch-query parallelism).

    Round-9 probe hardening (attribution of the
    r7→r8 133k→94k artifact drift — contention, not code: identical
    config measured 46.5k median under load vs 109.2k idle this round):
    (a) the rate source runs 8 tasks, not defaultParallelism=32 — 32
    near-empty generator tasks per 1 s batch are pure scheduling
    overhead (measured 109k → 133k median); (b) state partitions sized
    4, not 8 — this window agg's state is a handful of (window,
    event_type) keys, and each partition is a per-batch state-store
    commit (3×10 s idle repeats: median 113-119k at state=8 vs
    142-150k at state=4); (c) `achieved_rps` is now the MEDIAN
    per-batch rate — one contended batch no longer drags the headline;
    the legacy rows/total-duration aggregate stays in `aggregate_rps`,
    and best/worst expose the spread the drift table needs."""
    import statistics as _stats
    import time as _time

    from pyspark.sql import functions as F

    from pipegen_spark.generator.synthetic import synthetic_stream
    from pipegen_spark.streaming.filesource import state_partitions

    fields = [
        {"name": "id", "type": "string"},
        {"name": "event_type", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "quantity", "type": "int"},
    ]
    with state_partitions(spark, n=4):
        stream = synthetic_stream(
            spark, fields, target_rps, num_partitions=8
        )
        agg = (
            stream.withWatermark("_emit_ts", "2 seconds")
            .groupBy(F.window("_emit_ts", "1 second"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("amount").alias("amt"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("bench_tp")
            .outputMode("update")
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            _time.sleep(seconds)
            progress = list(q.recentProgress)
        finally:
            # Stopping a continuous-trigger query mid-batch aborts the
            # in-flight micro-batch by design; with a memory sink the
            # abort is pure teardown noise, but it logs two ERROR lines
            # that would dirty the driver's stderr capture — silence the
            # logger across the stop.
            spark.sparkContext.setLogLevel("FATAL")
            try:
                q.stop()
            finally:
                spark.sparkContext.setLogLevel("ERROR")
    # Drop the warm-up batch. Headline = median per-batch rate (robust
    # to one contended batch); the legacy aggregate + spread ride along.
    rates = [
        1000.0 * int(p["numInputRows"]) / max(float(p["batchDuration"]), 1.0)
        for p in progress[1:]
        if int(p["numInputRows"]) > 0
    ]
    rows = sum(int(p["numInputRows"]) for p in progress[1:])
    dur = sum(
        float(p["batchDuration"]) for p in progress[1:]
    ) / 1000.0 or 1.0
    achieved = _stats.median(rates) if rates else 0.0
    return {
        "target_rps": target_rps,
        "achieved_rps": round(achieved, 1),
        "aggregate_rps": round(rows / max(dur, 1e-9), 1),
        "best_rps": round(max(rates), 1) if rates else 0.0,
        "worst_rps": round(min(rates), 1) if rates else 0.0,
        "batches": len(progress),
        "sustained_target": bool(achieved >= target_rps),
    }


def _family(name: str) -> str:
    """Coarse corpus family for coverage reporting: qNN_* queries are the
    relational corpus; everything else groups by operator prefix."""
    if name[:1] == "q" and name[1:3].isdigit():
        return "relational"
    return name.split("_", 1)[0]


def _duckdb_baseline(sf_dir: str, per_query_timeout: float = 40.0) -> dict:
    """Time the FULL oracle corpus in DuckDB.

    Rounds 1-5 used a corpus wall-clock budget, which truncated coverage
    alphabetically — the completed subset was dedup-heavy and differed
    by machine load, so the Spark/DuckDB ratio never compared equal query
    sets round-over-round. Now EVERY oracle runs, bounded per-query by a
    watchdog thread calling `con.interrupt()` (the connection survives an
    interrupt, so one pathological query can't sink the rest); timeouts
    are reported explicitly, per query and per family."""
    import threading

    import duckdb

    from pipegen_spark.queries.registry import oracle_queries

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # engine-written tables (derived sf1 corpus) are DIRECTORIES
            # of part files — DuckDB needs the glob form
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = oracle_queries()
    t0 = time.perf_counter()
    per_query: dict[str, float] = {}
    timed_out: list[str] = []
    for name in sorted(oracles):
        watchdog = threading.Timer(per_query_timeout, con.interrupt)
        watchdog.start()
        tq = time.perf_counter()
        interrupted = False
        try:
            con.execute(oracles[name]).fetchall()
            per_query[name] = round(time.perf_counter() - tq, 4)
        except duckdb.InterruptException:
            interrupted = True
            timed_out.append(name)
        finally:
            watchdog.cancel()
        # Race drain (round-7 ADVICE): if the Timer fired in the window
        # between fetchall() returning and cancel(), the pending
        # interrupt would land on the NEXT execute() and spuriously
        # record an innocent query as timed out. After any interrupt, or
        # any completion close enough to the deadline that the Timer may
        # have fired, absorb a stale interrupt with a trivial probe.
        if interrupted or (
            time.perf_counter() - tq > per_query_timeout - 0.5
        ):
            try:
                con.execute("SELECT 1").fetchall()
            except duckdb.InterruptException:
                pass
    families: dict[str, dict[str, int]] = {}
    for name in oracles:
        fam = families.setdefault(
            _family(name), {"completed": 0, "timed_out": 0}
        )
        fam["timed_out" if name in timed_out else "completed"] += 1
    return {
        "sec": round(time.perf_counter() - t0, 4),
        "completed": len(per_query),
        "timed_out": timed_out,
        "per_query_timeout_sec": per_query_timeout,
        "families": families,
        # Per-query timings (detail file only): lets a reviewer flag
        # individual Spark/DuckDB ratio outliers round-over-round instead
        # of only corpus totals.
        "queries": per_query,
    }


if __name__ == "__main__":
    main()
