"""Shared run context and the timed closed loop every workload uses."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from host import tree_cpu_s
from spans import Tracer


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    work: float = 0.0  # completed work units in the timed window
    window_s: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    unit_ms: dict[str, list[float]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    work: str  # per-run scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    scale: float | None = None  # workload size override (self-check)
    digests_path: str | None = None  # pinned digests override (self-check)
    setup_parts: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    first_pass_counts: dict | None = None
    counts_repeat: bool = True


#: Untimed warm-up passes. JIT and codegen warm-up outlast the first
#: pass: relational passes measured 19.3, 9.3, 7.6, 6.5, 7.4, 6.3 s in
#: one process; a third warm pass would not fit the run budget.
WARMUP_PASSES = 2


def _exact(counts: dict) -> dict:
    """The counts that must repeat from pass to pass: calls and jobs.
    Byte totals (shuffle writes) vary slightly with compression."""
    return {k: v for k, v in counts.items() if not k.endswith("_bytes")}


def timed_passes(ctx: Ctx, order, run_unit) -> Outcome:
    """Untimed warm passes over `order` (WARMUP_PASSES), then passes
    until `ctx.seconds` have elapsed, ending at the first unit boundary
    after that (whole passes when tracing).

    `run_unit(u)` returns `(ok, work, samples_ms, check_s)`: `check_s` is
    the time it spent checking its output, which is left out of the
    unit's latency and of the window; when `samples_ms` is None the
    unit's own wall time is its latency sample.

    With tracing on, timed passes run in untraced-traced-traced-untraced
    blocks (so warm-up still going on does not bias the comparison): the
    traced passes give the layer numbers, traced against untraced pass
    time gives the tracing overhead, and the counts of the first traced
    pass are kept.
    """
    out = Outcome()
    tracer = ctx.tracer

    def one_pass(timed: bool, deadline: float | None = None) -> float:
        total = 0.0
        for u in order:
            if deadline is not None and time.perf_counter() >= deadline:
                break
            u0 = time.perf_counter()
            ok, work, samples, check_s = run_unit(u)
            wall = time.perf_counter() - u0 - check_s
            total += wall
            out.attempted += 1
            if not ok:
                out.failed += 1
            elif timed:
                out.work += work
                out.unit_ms.setdefault(str(u), []).append(wall * 1000.0)
                out.latencies_ms.extend(
                    samples if samples is not None else [wall * 1000.0])
        return total

    tracer.enabled = False
    ctx.layers["warmup.pass_s"] = one_pass(timed=False)
    for _ in range(WARMUP_PASSES - 1):
        one_pass(timed=False)

    walls: dict[bool, list[float]] = {False: [], True: []}
    cpu0 = tree_cpu_s()
    start = time.perf_counter()
    timed_s = 0.0
    n = 0
    while True:
        traced = ctx.trace and n % 4 in (1, 2)
        tracer.enabled = traced
        before = dict(tracer.counts)
        # Untraced runs stop at the first unit boundary after the window,
        # so how many whole passes fit does not weigh the result.
        deadline = None if ctx.trace else start + ctx.seconds
        wall = one_pass(timed=not traced, deadline=deadline)
        tracer.enabled = False
        walls[traced].append(wall)
        if not traced:
            timed_s += wall
        else:
            delta = {k: v - before.get(k, 0) for k, v in tracer.counts.items()}
            if ctx.first_pass_counts is None:
                ctx.first_pass_counts = delta
            elif _exact(delta) != _exact(ctx.first_pass_counts):
                ctx.counts_repeat = False
        n += 1
        if time.perf_counter() - start >= ctx.seconds and (
            not ctx.trace or n % 4 == 0
        ):
            break
    out.window_s = timed_s
    ctx.layers["process.cpu_s"] = (tree_cpu_s() - cpu0) / n
    if ctx.trace:
        ctx.layers["trace.overhead_pct"] = 100.0 * (
            median(walls[True]) / median(walls[False]) - 1.0
        )
    return out
