"""Self-check of the benchmark: every workload at a tiny size.

    python3 -m pytest perfbench/tests -q

Each run goes through `perfbench/run.py` exactly as a benchmark run
does, only smaller (`--scale`): the corpus at sf0.001, a two-file
backlog, 1k records per pipeline run. The checks: the result line has
exactly its four keys, every metric is present with its unit, every
output check passes, and a planted wrong digest is counted as a failed
operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run as bench  # noqa: E402

TINY = {"relational": 0.001, "stream": 0.1, "pipeline": 0.125}


def run_bench(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", str(TINY[workload]), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, expected: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


@pytest.mark.parametrize("workload", bench.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_is_correct_and_complete(workload, trace):
    result = run_bench(workload, trace)
    assert_metrics(result, bench.PER_LAYER if trace else bench.END_TO_END)
    assert result["correct"] is True
    assert result["failed"] == 0
    if not trace:
        for name in ("throughput_per_s", "latency_p50_ms", "setup_s"):
            assert result["metrics"][name]["value"] > 0


def test_planted_wrong_digest_is_a_failed_operation(tmp_path):
    with open(os.path.join(BENCH, "digests.json")) as fh:
        pinned = json.load(fh)
    per = pinned["digests"][str(TINY["relational"])]
    per["q01_scan_project"] = "0" * 64
    bad = tmp_path / "digests.json"
    bad.write_text(json.dumps(pinned))
    result = run_bench("relational", 0, "--digests", str(bad))
    assert result["failed"] > 0
    assert result["correct"] is False
