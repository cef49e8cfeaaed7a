"""Re-pin `digests.json` from a run that passes the DuckDB oracle check.

    python3 perfbench/pin_digests.py [--out perfbench/digests.json]

For each scale the benchmark uses (the timed one and the self-check's
tiny one), writes the benchmark corpus and runs `tools/compare.py` on it
for every query of the relational mix (Spark against the DuckDB oracle
SQL). `compare.py` prints a digest prefix per passing query; the full
digest is then computed in-process with the same canonical hash and
must extend that prefix. Writes nothing unless every query passes at
every scale.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import datagen  # noqa: E402

PASS = re.compile(r"^PASS (\S+) .*sha:([0-9a-f]+)\]$")


def oracle_prefixes(corpus: str, names: list[str], tmp: str) -> dict[str, str] | None:
    """Digest prefix per query that passes the DuckDB comparison."""
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp)
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"),
         corpus, *names],
        cwd=ROOT, env=env, capture_output=True, text=True, check=False,
    )
    pinned = {}
    for line in res.stdout.splitlines():
        m = PASS.match(line.strip())
        if m:
            pinned[m.group(1)] = m.group(2)
    missing = sorted(set(names) - set(pinned))
    if res.returncode != 0 or missing:
        print(res.stdout[-3000:], file=sys.stderr)
        print(f"{corpus}: failing or missing: {missing}", file=sys.stderr)
        return None
    return pinned


def full_digests(corpora: dict[str, str], names: list[str], tmp: str) -> dict:
    sys.path.insert(0, ROOT)
    from pipegen_spark.queries.canon import result_sha256
    from pipegen_spark.queries.registry import all_queries
    from pipegen_spark.session import get_spark

    os.environ["PYTHONPATH"] = ROOT
    spark = get_spark("perfbench-pin", extra_conf={
        "spark.driver.memory": "2g", "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")})
    try:
        fns = all_queries()
        out = {}
        for scale, corpus in corpora.items():
            out[scale] = {}
            for n in names:
                df = fns[n](spark, corpus)
                rows = [tuple(r) for r in df.collect()]
                out[scale][n] = result_sha256(df.columns, rows)
        return out
    finally:
        spark.stop()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out", default=os.path.join(HERE, "digests.json"))
    args = p.parse_args()
    names = list(batch.RELATIONAL)
    tmp = tempfile.mkdtemp(prefix="perfbench-pin-", dir=ROOT)
    try:
        corpora, prefixes = {}, {}
        for scale in (batch.CORPUS_SF, batch.SELFCHECK_SF):
            corpus = datagen.write_corpus(
                os.path.join(tmp, f"corpus{scale}"), scale, batch.CORPUS_SEED)
            got = oracle_prefixes(corpus, names, tmp)
            if got is None:
                return 1
            corpora[str(scale)], prefixes[str(scale)] = corpus, got
        digests = full_digests(corpora, names, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for scale, per in digests.items():
        for n, d in per.items():
            if not d.startswith(prefixes[scale][n]):
                print(f"{scale} {n}: {d} does not extend the checked "
                      f"prefix {prefixes[scale][n]}", file=sys.stderr)
                return 1
    with open(args.out, "w") as fh:
        json.dump({
            "corpus_seed": batch.CORPUS_SEED,
            "checked_by": "tools/compare.py (Spark vs DuckDB oracle SQL)",
            "digests": digests,
        }, fh, indent=1)
        fh.write("\n")
    print(f"pinned {len(names)} digests per scale to {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
