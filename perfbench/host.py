"""Host and process-tree readings taken from /proc.

- `StealMeter`: hypervisor steal as a share of all CPU time between two
  readings of /proc/stat, plus the 1-minute load average.
- `TreeSampler`: peak resident memory of this process and every
  descendant (the JVM and its Python workers), sampled on a thread.
- `tree_cpu_s`: user+system CPU seconds of the tree, including children
  that have already exited and been waited for.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class StealMeter:
    def __init__(self) -> None:
        self._start = _cpu_line()

    def read(self) -> dict[str, float]:
        now = _cpu_line()
        delta = [b - a for a, b in zip(self._start, now)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "host.steal_pct": 100.0 * steal / total,
            "host.loadavg_1m": os.getloadavg()[0],
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pss_bytes(pids: list[int]) -> int:
    """Resident memory of the tree with shared pages counted once: the
    sum of proportional set sizes (forked Python workers share most of
    their pages with the worker daemon, so summed RSS would count them
    again per worker)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds of the live tree plus its waited-for children."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


class TreeSampler:
    """Samples the tree's resident memory every `interval` seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_pss_bytes(tree_pids()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
