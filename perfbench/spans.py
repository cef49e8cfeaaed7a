"""In-memory spans and counts, recorded around calls into the program.

Nothing here edits the program: a traced run swaps a module attribute
(or a class method) for a wrapper that opens a span, and puts the
original back when the run ends. Spans are kept in memory as
`(unit, name, start, end, parent)` and written out once, at the end.

`SparkProbe` reads what Spark itself reports: job ids per job group
(status tracker), per-stage shuffle bytes (status store) and Catalyst
phase times (`QueryExecution.tracker()`).
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.unit: object = None
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append((self.unit, name, t0, time.perf_counter(), parent))

    def add_span(self, name: str, t0: float, t1: float) -> None:
        """Record a span measured by the caller (even while disabled)."""
        self.spans.append((self.unit, name, t0, t1, None))

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, name: str, fn, counter: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @staticmethod
    def _get(owner, attr: str):
        # From a class, take the raw dict entry so restore() puts back
        # exactly what was there.
        return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr` to `new` until `restore()`."""
        self._patched.append((owner, attr, self._get(owner, attr)))
        setattr(owner, attr, new)

    def patch(self, owner, attr: str, name: str, counter: str | None = None):
        """Replace `owner.attr` by a traced wrapper until `restore()`."""
        self.replace(owner, attr, self.wrap(name, self._get(owner, attr), counter))

    def patch_everywhere(self, fn, name: str, counter: str | None = None,
                         prefix: str = "pipegen_spark") -> None:
        """Trace `fn` in every loaded module of `prefix` that bound it by
        name (`from m import fn` copies the reference)."""
        wrapper = self.wrap(name, fn, counter)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(prefix) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.replace(mod, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def per_unit_ms(self, name: str) -> dict[object, float]:
        out: dict[object, float] = defaultdict(float)
        for unit, n, t0, t1, _ in self.spans:
            if n == name:
                out[unit] += (t1 - t0) * 1000.0
        return out

    def median_ms(self, name: str, units) -> float:
        """Median over `units` of the time spent in `name` (0 if none)."""
        per = self.per_unit_ms(name)
        vals = [per.get(u, 0.0) for u in units]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"unit": str(u), "name": n, "start": t0, "end": t1,
                         "parent": p}
                        for u, n, t0, t1, p in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                fh,
            )


class SparkProbe:
    """Job, stage and Catalyst readings for one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def group(self, group_id: str) -> None:
        self.sc.setJobGroup(group_id, group_id)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds every job started so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group_id: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group_id))

    def stages(self, job_ids: list[int]) -> tuple[int, int]:
        """(stages that ran, shuffle bytes they wrote) for `job_ids`."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        ran = written = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                data = store.lastStageAttempt(sid)
                if str(data.status()) == "COMPLETE":
                    ran += 1
                    written += int(data.shuffleWriteBytes())
        return ran, written

    def catalyst_ms(self, df) -> float:
        """Sum of the QueryExecution tracker's phase times (analysis,
        optimization, planning)."""
        phases = df._jdf.queryExecution().tracker().phases()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        return float(sum(p.durationMs() for p in conv.asJava(phases).values()))
