"""Local mirror of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB over
the same sf dir, then compares row count, column names and order-insensitive
values (columns sorted by name, rows sorted canonically — see
pipegen_spark/queries/canon.py, shared with bench.py). Each PASS/FAIL line
carries the sha256 of the canonical Spark result so a driver-side hash red
can be diffed against the repo's own hash.

Queries run in REGISTRY order (NOT alphabetical — intentional): the
registry enumerates the driver's 50-row gate window first, so the first 50
lines of this report are exactly the hard-signal set. Usage:

    python tools/compare.py [--vanilla] [--gate] [sf_dir] [query ...]

`--vanilla` mirrors the driver even harder: a bare local[8] SparkSession
with none of the engine's session confs (catches reliance on tuned-session
behavior). `--gate` runs only the 50-row gate window.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pipegen_spark.queries.canon import result_sha256, table_canon  # noqa: E402


def main():
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    gate_only = "--gate" in args
    args = [a for a in args if a not in ("--vanilla", "--gate")]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    import duckdb

    import __spark_entry__ as entry_mod
    from pipegen_spark.operators.spill import spill_scope
    from pipegen_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("compare-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark(
            "compare", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
        )

    import time as _time

    names = list(qs)
    if gate_only:
        names = names[:50]
    n_pass = n_fail = 0
    for name in names:
        fn = qs[name]
        if only and name not in only:
            continue
        _t0 = _time.perf_counter()
        try:
            with spill_scope():
                sdf = fn(spark, sf_dir)
                srows = sdf.collect()
                scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        _ts = _time.perf_counter() - _t0
        srows = [tuple(r) for r in srows]
        digest = result_sha256(scols, srows)[:16]
        if name not in oracles:
            print(
                f"SKIP {name}: no oracle ({len(srows)} rows) "
                f"[spark {_ts:.2f}s sha:{digest}]"
            )
            continue
        _t0 = _time.perf_counter()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        _td = _time.perf_counter() - _t0
        sc, sv = table_canon(scols, srows)
        dc, dv = table_canon(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            n_fail += 1
        elif len(sv) != len(dv):
            print(f"FAIL {name}: rowcount {len(sv)} vs {len(dv)}")
            n_fail += 1
        elif sv != dv:
            diffs = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b][:3]
            print(f"FAIL {name}: values differ at rows {diffs}")
            for i in diffs:
                print(f"   spark : {sv[i]}")
                print(f"   duckdb: {dv[i]}")
            n_fail += 1
        else:
            print(
                f"PASS {name} ({len(sv)} rows) "
                f"[spark {_ts:.2f}s duckdb {_td:.2f}s sha:{digest}]"
            )
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
