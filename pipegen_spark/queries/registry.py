"""Registry of all declared queries + their DuckDB oracle SQL.

The driver contract (`__spark_entry__.py`) re-exports these: every operator
claimed in SURVEY.md §2 has a `queries()` entry here, and (when
SQL-expressible) a matching oracle for the correctness gate.

Enumeration order is part of the contract: the driver's correctness gate
hashes the FIRST 50 entries in dict order, so `all_queries()` front-loads
`GATE_WINDOW` — the 50 queries that most need a hard driver signal this
round — and every other query enumerates behind it (every query in the
corpus remains verifiable locally via tools/compare.py). Which rounds
gated which queries is recorded in GATE_STATUS.json.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pipegen_spark.queries import relational
from pipegen_spark.queries.oracle import RELATIONAL_ORACLE

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Declared corpus size, pinned so the docs can't drift from the code
#: (round-7 verdict: SURVEY/COVERAGE said 175 while the repo ran 181 —
#: six queries landed in the end-of-round snapshot after the docs were
#: written). tests/test_registry_order.py asserts len(all_queries())
#: equals this AND that SURVEY.md / COVERAGE.md state the same number:
#: adding a query without bumping the docs fails the suite.
CORPUS_SIZE = 218

#: Long-stable relational queries kept inside every 50-row gate window as
#: regression sentinels (q38/q43 were multi-round hash-reds before the
#: integer-surface fix; they stay pinned so a regression is caught in one
#: round).
GATE_CANARIES = (
    "q03_agg_having",
    "q13_event_window",
    "q37_asof_join",
    "q38_range_agg",
    "q43_tpch_pricing",
    "q47_pivot",
)

#: Round 13: the one brand-new surface — curate_pipeline_e2e, the
#: whole curation stack composed as ONE gated pipeline (r12 VERDICT
#: task 4): WARC crawl ingest (Arrow stage) -> language-ID gate ->
#: PII inject+redact -> Gopher ∧ classifier ∧ histogram-percentile
#: ensemble -> MinHash-LSH keep-best dedup among survivors -> 90/5/5
#: split; every stage the same operator as its standalone query, the
#: oracle the same fragments composed in one DuckDB statement.
GATE_CHANGED: tuple[str, ...] = (
    "curate_pipeline_e2e",
    # mid-round additions (window re-verified after each):
    # text_hll_distinct — the from-scratch deterministic HyperLogLog
    # (shared hash, integer estimator, literal-embedded constants)
    # under the hard value gate q23's engine HLL can never carry; and
    # text_stupid_backoff — Brants et al. 2007 web-scale LM filtering,
    # new-batch docs scored under reference-slice n-gram counts with
    # the backoff-level histogram as the domain-shift diagnostic.
    "text_hll_distinct",
    "text_stupid_backoff",
)

#: Never-gated retirement: none this round — GATE_STATUS.json shows
#: never_gated=0 after r11 (q82 was retired there).
GATE_NEVER: tuple[str, ...] = ()

#: Queries that land AFTER this round's window was cut (the mechanical
#: snapshot rule, r9 VERDICT next #1): anything here has no driver row
#: yet by construction and MUST ride the front of the next round's
#: window. tests/test_registry_order.py enforces that every corpus
#: query either has a historical CORRECTNESS row, sits in the current
#: GATE_WINDOW, or is declared here — so the never-gated count is
#: mechanical, not remembered. tools/gate_status.py renders the same
#: aggregation as the GATE_STATUS.json artifact.
GATE_PENDING: tuple[str, ...] = ()

#: Rolling re-gates: ALL 33 r8-dated rows (the corpus's oldest after
#: the r12 window — led by the three r12 rotation picks), then the 8
#: alphabetically-first r9-dated rows (the remaining 36 r9 rows rotate
#: across r14-r15).
GATE_ROLLING = (
    # --- the 33 r8-green rows (newest row: round 8) ---
    "curate_unimax",
    "curate_weighted_sample",
    "dedup_bloom",
    "dedup_cc_star",
    "dedup_containment",
    "multimodal_frame_sample",
    "multimodal_jpeg_progressive",
    "q18_left_join",
    "q19_props_extract",
    "q20_cube",
    "q21_math_funcs",
    "q22_array_funcs",
    "q23_approx_distinct",
    "q24_conditional_funcs",
    "q25_full_outer",
    "q26_cross_join",
    "q27_exists_correlated",
    "q28_union_distinct",
    "q29_like_regex",
    "q30_buckets",
    "q31_sessionize",
    "q32_percentiles",
    "q33_window_family",
    "q34_string_funcs2",
    "q35_date_funcs",
    "q36_curation_decision",
    "q39_stream_session",
    "q40_hopping_window",
    "q41_stream_join",
    "q42_stream_dedup",
    "q44_tpch_shipping",
    "q45_tpch_region_volume",
    "q46_tpch_returns",
    # --- the 10 alphabetically-first r9-green rows ---
    "curate_blocklist",
    "curate_boilerplate",
    "curate_calibration",
    "curate_doremi",
    "curate_length_stats",
    "curate_preference_pairs",
    "curate_split_leakage",
    "dedup_incremental",
    # (dedup_semantic and dedup_setjoin rotate to r14 — dropped to make
    # room for the mid-round text_hll_distinct and text_stupid_backoff
    # in GATE_CHANGED)
)

#: The full round-13 gate window, in enumeration order: 3 new surfaces
#: + 41 rolling re-gates + 6 canaries = 50.
GATE_WINDOW = GATE_CHANGED + GATE_NEVER + GATE_ROLLING + GATE_CANARIES


def _collect(module) -> dict[str, QueryFn]:
    out = {}
    for name in dir(module):
        if name.startswith("q") or name.startswith(
            ("dedup_", "simsearch_", "text_", "multimodal_", "curate_",
             "embed_")
        ):
            fn = getattr(module, name)
            if callable(fn):
                out[name] = fn
    return out


def all_queries() -> dict[str, QueryFn]:
    from pipegen_spark.queries import (
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        training_data,
    )

    pool: dict[str, QueryFn] = {}
    pool.update(_collect(relational))
    pool.update(_collect(relational2))
    pool.update(_collect(relational3))
    pool.update(_collect(relational4))
    pool.update(_collect(relational5))
    pool.update(_collect(relational6))
    pool.update(_collect(training_data))

    out: dict[str, QueryFn] = {}
    for name in GATE_WINDOW:
        out[name] = pool[name]
    # Everything else, in module-then-alphabetical order as before.
    for name, fn in pool.items():
        out.setdefault(name, fn)
    return out


def oracle_queries() -> dict[str, str]:
    from pipegen_spark.queries.oracle2 import RELATIONAL2_ORACLE
    from pipegen_spark.queries.oracle3 import RELATIONAL3_ORACLE
    from pipegen_spark.queries.oracle4 import RELATIONAL4_ORACLE
    from pipegen_spark.queries.oracle5 import RELATIONAL5_ORACLE
    from pipegen_spark.queries.oracle6 import RELATIONAL6_ORACLE
    from pipegen_spark.queries.training_oracle import TRAINING_ORACLE

    out = dict(RELATIONAL_ORACLE)
    out.update(RELATIONAL2_ORACLE)
    out.update(RELATIONAL3_ORACLE)
    out.update(RELATIONAL4_ORACLE)
    out.update(RELATIONAL5_ORACLE)
    out.update(RELATIONAL6_ORACLE)
    out.update(TRAINING_ORACLE)
    return out
