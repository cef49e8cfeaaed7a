"""Plan-quality audit over the whole query corpus.

Every registered query's PHYSICAL plan is checked for scale red flags:

- `BatchEvalPython` (row-at-a-time Python UDF) — never acceptable.
- Arrow/pandas exec nodes — only where a BLAS kernel is the design
  (embedding prefilter), never as an accidental fallback.
- `CartesianProduct` — only in the explicitly-cross-join queries.
- Unpruned scans — the text/curation family must read only (doc_id, text
  [, lang, source]) from documents, never the full row.

This is the `.explain("formatted")` discipline as a regression gate: a
refactor that silently de-optimizes a plan fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest

from pipegen_spark.queries.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"

# Queries whose DESIGN includes a pandas/Arrow stage.
# multimodal_features IS the Arrow decode path under the gate — its
# mapInPandas stage is the thing being tested (operators/multimodal.py);
# the png/wav pair run the REAL codecs through the same path.
PANDAS_OK = {
    "dedup_embedding_cosine",
    "multimodal_features",
    "multimodal_jpeg_roundtrip",
    "multimodal_jpeg_progressive",
    "multimodal_gif_features",  # r11: GIF encode + LZW decode stage
    "multimodal_gif_frames",  # r12: animated-GIF GCE compositing stage
    "multimodal_flac_features",  # r12: FLAC encode + Rice/CRC decode stage
    "text_warc_extract",  # r12: WARC container + gzip + HTTP parse stage
    "multimodal_png_features",
    "multimodal_wav_features",
    "multimodal_wav_energy",
    "multimodal_vad_segments",
    "multimodal_audio_fp",
    "multimodal_jpeg_420",
    "multimodal_resample",
    "multimodal_patches",
    "multimodal_mjpeg_frames",  # r9: AVI mux/demux + JPEG decode stage
}
# Queries that intentionally build an unconstrained pair space.
CARTESIAN_OK = {"q26_cross_join"}


def _plan(spark, name, fn):
    df = fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    # Default metadata truncation (100 chars) hides most of a long
    # PushedFilters list; widen it so the pushdown assertions see the
    # whole list.
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        out = {}
        for name, fn in sorted(all_queries().items()):
            out[name] = _plan(spark, name, fn)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    return out


def test_no_row_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_pandas_stages_only_where_designed(plans):
    offenders = [
        n
        for n, p in plans.items()
        if n not in PANDAS_OK
        and ("ArrowEvalPython" in p or "FlatMapGroupsInPandas" in p
             or "MapInPandas" in p)
    ]
    assert not offenders, offenders


def test_no_accidental_cartesian_products(plans):
    offenders = [
        n
        for n, p in plans.items()
        if n not in CARTESIAN_OK and "CartesianProduct" in p
    ]
    assert not offenders, offenders


def test_text_family_scans_are_column_pruned(plans):
    # Map-only text/curation operators must not drag the full documents row
    # (notably n_chars) through the scan.
    for name in ("text_tokens", "text_quality", "text_langid",
                 "text_fingerprint", "text_normalize", "text_readability",
                 "text_cms_topk", "curate_dsir",
                 "curate_repetition", "curate_redact", "curate_chunk"):
        scan = [ln for ln in plans[name].splitlines() if "ReadSchema" in ln]
        assert scan, f"{name}: no parquet scan found"
        assert "n_chars" not in scan[0], f"{name}: unpruned scan: {scan[0]}"


def test_tpch_filters_reach_the_scan(plans):
    # Date/flag predicates must appear as parquet PushedFilters, not
    # post-scan Filter nodes — at 100 TB this is the row-group pruning.
    for name, frag in (
        ("q43_tpch_pricing", "LessThanOrEqual(l_shipdate"),
        ("q46_tpch_returns", "EqualTo(l_returnflag,R)"),
        ("q44_tpch_shipping", "GreaterThan(l_shipdate"),
        ("q51_tpch_forecast_revenue", "LessThan(l_quantity,24.0)"),
        ("q51_tpch_forecast_revenue", "GreaterThanOrEqual(l_discount,0.05)"),
        ("q52_tpch_priority_check", "EqualTo(l_returnflag,R)"),
        ("q53_tpch_promo_ratio", "GreaterThanOrEqual(l_shipdate"),
    ):
        pushed = [
            ln for ln in plans[name].splitlines() if "PushedFilters" in ln
        ]
        assert any(frag in ln for ln in pushed), f"{name}: {frag} not pushed"


def test_dimension_joins_are_broadcast(plans):
    # The explicit-broadcast dim joins must plan as broadcast hash joins.
    for name in ("q04_join_broadcast", "q05_multi_join",
                 "q44_tpch_shipping", "q45_tpch_region_volume",
                 "q46_tpch_returns", "q53_tpch_promo_ratio",
                 "q55_tpch_disjunctive", "q56_tpch_supplier_cnt",
                 "q57_tpch_idle_rich"):
        assert "BroadcastHashJoin" in plans[name], name


def test_range_agg_is_join_free(plans):
    # q38 must plan as the range_agg_self window formulation: a single
    # hash-partition sort-shuffle + Window, no join (the join formulation
    # expands |purchases_u| x |clicks_u| rows per user — quadratic on a
    # hot key at 100 TB).
    p = plans["q38_range_agg"]
    assert "Join" not in p, p
    assert "Window" in p
    # One Exchange for the window partitioning; the only other allowed
    # Exchange is the final presentation orderBy (rangepartitioning).
    hash_ex = p.count("Exchange hashpartitioning")
    assert hash_ex == 1, p


def test_new_training_ops_plan_shapes(plans):
    # embed_gram: map-side partial agg into <=2080 cells, ONE hash
    # exchange (plus the presentation orderBy's range exchange).
    p = plans["embed_gram"]
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p
    # simsearch_hybrid: the 1-row query vector must broadcast (never a
    # shuffled or cartesian join against the corpus).
    assert "Broadcast" in plans["simsearch_hybrid"]
    # dedup_substring: span-hash windows run on an explicit h-partitioning.
    assert "hashpartitioning(h" in plans["dedup_substring"]
    # curate_budget: stream stats join back as broadcasts — the per-doc
    # side never shuffles on the stream key.
    assert "Broadcast" in plans["curate_budget"]


def test_semi_anti_rewrites(plans):
    # EXISTS / NOT IN / anti-exclusion queries must plan as (left) semi or
    # anti hash joins — never as row-duplicating inner joins + distinct.
    assert "LeftSemi" in plans["q52_tpch_priority_check"]
    assert "LeftAnti" in plans["q56_tpch_supplier_cnt"]
    assert "LeftAnti" in plans["q57_tpch_idle_rich"]


def test_round4_ops_plan_shapes(plans):
    # curate_gopher / curate_split: map-only over a pruned (doc_id[,...])
    # scan — no shuffle at all except the presentation orderBy.
    for name in ("curate_gopher", "curate_split"):
        p = plans[name]
        assert "Exchange hashpartitioning" not in p, (name, p)
        assert "Join" not in p, (name, p)
    # dedup_incremental: two hash equi-joins against DISTINCT reference
    # hash sets — never a cartesian, never a join on raw text.
    p = plans["dedup_incremental"]
    assert "CartesianProduct" not in p
    assert "content_hash" in p and "prefix_hash" in p
    # dedup_semantic: candidate pairs meet through the cluster_id
    # equi-join (bounded per-cluster blocks), and centroid assignment
    # broadcasts — the corpus is never on the build side of a shuffle
    # join with itself without the cluster key.
    p = plans["dedup_semantic"]
    assert "CartesianProduct" not in p
    assert "cluster_id" in p
    assert "Broadcast" in p


def test_new_round4_operator_plan_shapes(plans):
    # q58: map-only until the per-tile hash aggregate — events scan must
    # not read props/value, and the whole plan needs no join.
    p = plans["q58_zorder_layout"]
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan and "props" not in scan[0] and "value" not in scan[0], scan
    assert "Join" not in p
    # CMS estimate + DSIR scoring joins must broadcast their tiny side
    # (the 256-cell sketch / the 256-row likelihood table).
    assert "BroadcastHashJoin" in plans["text_cms_topk"]
    assert "BroadcastHashJoin" in plans["curate_dsir"]
    # The sampling selection plans as TakeOrdered, not a global sort.
    assert "TakeOrderedAndProject" in plans["curate_weighted_sample"]
    # Bloom probe + exact ground truth both broadcast (the expression-
    # keyed word join must stay a hash join, not nested-loop).
    p = plans["dedup_bloom"]
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "NestedLoop" not in p


def test_star_cc_and_setjoin_plan_shapes(plans):
    # dedup_cc_star: the star rounds run over spilled edge frames
    # (parquet scans), so the corpus-facing plan is the finisher — the
    # labels join must be a hash equi-join, never a nested loop over
    # documents.
    p = plans["dedup_cc_star"]
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "cluster_id" in p
    # dedup_setjoin: candidates meet ONLY through the prefix-shingle
    # equi-join (hash join on s) — the pair space must never appear as a
    # cartesian, and the documents scan must be pruned to (doc_id, text).
    p = plans["dedup_setjoin"]
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "lang" not in ln and "source" not in ln for ln in scans
    ), scans


def test_drift_and_diversity_plan_shapes(plans):
    # curate_drift: the only data-size shuffle is the 256-cell bucket
    # aggregate; totals come back as a broadcast 1-row aggregate, never
    # a re-scan-and-join on raw tokens.
    p = plans["curate_drift"]
    assert "CartesianProduct" not in p
    assert "Broadcast" in p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scans and all("n_chars" not in ln for ln in scans), scans
    # text_diversity: the distinct ratio comes from a two-level
    # aggregation, NOT a COUNT(DISTINCT) Expand — Expand triples the
    # shuffle volume at corpus scale.
    p = plans["text_diversity"]
    assert "Expand" not in p, p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "n_chars" not in ln and "source" not in ln for ln in scans
    ), scans


def test_tpch_tranche6_plan_shapes(plans):
    # Date predicates reach the parquet scan as pushed filters.
    for name, frag in (
        ("q62_tpch_volume_shipping", "GreaterThanOrEqual(l_shipdate"),
        ("q68_tpch_top_supplier", "LessThan(l_shipdate"),
        ("q70_tpch_sole_problem", "EqualTo(l_returnflag,R)"),
    ):
        pushed = [
            ln for ln in plans[name].splitlines() if "PushedFilters" in ln
        ]
        assert any(frag in ln for ln in pushed), f"{name}: {frag} not pushed"
    # Dimension sides broadcast everywhere in the tranche; the scalar
    # thresholds (q68 max, q69 total) come back as broadcast one-row
    # frames, never a shuffle join against a single row.
    for name in (
        "q62_tpch_volume_shipping",
        "q63_tpch_market_share",
        "q64_tpch_profit",
        "q67_tpch_small_qty",
        "q68_tpch_top_supplier",
        "q69_tpch_important_parts",
        "q70_tpch_sole_problem",
    ):
        assert "Broadcast" in plans[name], name
        assert "CartesianProduct" not in plans[name], name
    # Q21's exists/not-exists pair must plan as semi/anti hash joins on
    # the reduced (orderkey, suppkey) pairs.
    p = plans["q70_tpch_sole_problem"]
    assert "LeftSemi" in p and "LeftAnti" in p, p


def test_objective_transform_plan_shapes(plans):
    # curate_fim: pure map — no shuffle except the presentation orderBy,
    # no join; scan pruned to (doc_id, text).
    p = plans["curate_fim"]
    assert "Join" not in p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "lang" not in ln and "n_chars" not in ln for ln in scans
    ), scans
    # curate_span_mask: exactly one per-doc window sort feeds both the
    # run-start lag and the sentinel numbering; no join.
    p = plans["curate_span_mask"]
    assert "Join" not in p
    assert p.count("Window") <= 2, p  # lag + running sum share one sort


def test_funnel_and_retention_plan_shapes(plans):
    # q71: the three stage windows share ONE user_id sort-shuffle — the
    # plan must not re-exchange between Window nodes.
    p = plans["q71_funnel"]
    assert p.count("Exchange hashpartitioning(user_id") <= 1, p
    assert "CartesianProduct" not in p
    # q72: per-user first-day frame broadcasts back onto events.
    p = plans["q72_retention"]
    assert "BroadcastHashJoin" in p, p
    assert "Expand" not in p, p


def test_quality_threshold_gate_has_no_per_group_full_sort(plans):
    """The gated percentile key (r10: curate_quality_percentile now RUNS
    the threshold plan): its plan must contain NO per-group rank over
    the full relation — the only window sort allowed is over the
    bounded (source, score_micro) HISTOGRAM aggregate, and the
    per-source cutoffs must come back as a broadcast join. This is the
    mechanical form of the 100 TB mega-source skew guarantee (the
    exact-rank sibling survives only as the ref_quality_percentile_rank
    test surface)."""
    p = plans["curate_quality_percentile"]
    assert "row_number" not in p, p
    assert "BroadcastHashJoin" in p, p
    lines = p.splitlines()
    desc_sorts = [
        i for i, ln in enumerate(lines)
        if "Sort [" in ln and "DESC" in ln
    ]
    assert desc_sorts, "histogram window sort missing:\n" + p
    for i in desc_sorts:
        below = "\n".join(lines[i + 1 : i + 4])
        assert (
            "HashAggregate(keys=[source" in below
            and "score_micro" in below
        ), "window sort not over the bounded histogram:\n" + p


def test_ensemble_threshold_composition_keeps_the_scale_shape(plans):
    """The gated ensemble (r10: curate_ensemble composes the threshold
    gate by default): composing the three signals must not reintroduce
    a per-doc rank anywhere — the only window machinery allowed is the
    threshold gate's bounded-histogram cutoff (same assertion as the
    standalone gate), and the exact-rank sibling's row_number must be
    absent."""
    p = plans["curate_ensemble"]
    assert "row_number" not in p, p
    assert "BroadcastHashJoin" in p, p
    lines = p.splitlines()
    desc_sorts = [
        i for i, ln in enumerate(lines)
        if "Sort [" in ln and "DESC" in ln
    ]
    assert desc_sorts, "histogram window sort missing:\n" + p
    for i in desc_sorts:
        below = "\n".join(lines[i + 1 : i + 4])
        assert (
            "HashAggregate(keys=[source" in below
            and "score_micro" in below
        ), "window sort not over the bounded histogram:\n" + p


def test_domain_family_plan_shapes(plans):
    """The r10 domain family's scale claims, mechanically: no per-doc
    rank anywhere (the bounded groupBy(domain) IS the aggregation), the
    corpus totals return as a broadcast 1-row aggregate, and the
    blocklist's k-row verdict frame joins back as a broadcast hash join
    on domain — the skewed docs-per-domain dimension never appears in a
    sort or a single-task window."""
    p = plans["curate_domain_stats"]
    assert "row_number" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # 1-row totals cross join
    assert "CartesianProduct" not in p, p
    p = plans["curate_domain_blocklist"]
    assert "row_number" not in p, p
    assert "BroadcastHashJoin" in p, p  # verdicts broadcast on domain
    assert "CartesianProduct" not in p, p


def test_curation_pipeline_e2e_segments(spark, plans):
    """r13 VERDICT task 4's plan contract for the composed curation
    pipeline, asserted per SEGMENT (the stage-boundary spills cut the
    lineage, so the registered query's final plan alone can't show the
    ingest stage):

    - Ingest segment (WARC -> langid -> PII redact): exactly ONE Arrow
      stage — the designed WARC decode — no row-at-a-time Python, and
      exactly ONE exchange: the explicit round-robin repartition ahead
      of the Arrow stage. Everything after the decode is map-only JVM
      (langid/redaction never add a shuffle).
    - Final segment (ensemble -> dedup -> split, the plan the `plans`
      fixture captured): pure JVM — no Python exec nodes of any kind —
      the percentile cutoffs come back as a broadcast hash join, the
      histogram window sorts only the bounded (source, score_micro)
      aggregate (same contract as the standalone gate), and no
      cartesian product anywhere.
    """
    from pipegen_spark.catalog import table
    from pipegen_spark.queries.training_data import _curation_signals

    docs = table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    seg = _curation_signals(docs)
    p = seg._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInPandas") == 1, p
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    n_exchange = p.count("Exchange")
    assert n_exchange == 1 and "REPARTITION" in p, p

    tail = plans["curate_pipeline_e2e"]
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "CartesianProduct"):
        assert node not in tail, f"{node} in final segment:\n{tail}"
    assert "BroadcastHashJoin" in tail, tail
    lines = tail.splitlines()
    desc_sorts = [
        i for i, ln in enumerate(lines)
        if "Sort [" in ln and "score_micro" in ln and "DESC" in ln
    ]
    for i in desc_sorts:
        below = "\n".join(lines[i + 1 : i + 4])
        assert (
            "HashAggregate(keys=[source" in below
            and "score_micro" in below
        ), "window sort not over the bounded histogram:\n" + tail


def test_r13_sketch_and_lm_plan_shapes(plans):
    """The r13 late additions keep their scale shapes mechanically:
    - text_hll_distinct: the register MAX and the estimator run as
      hash aggregates (bounded state — never a window/sort over the
      value stream), no join in the sketch path beyond the per-group
      estimator/exact combine.
    - text_stupid_backoff: the reference token total enters as a
      BROADCAST 1-row aggregate (never a shuffle of the scored
      positions against it), the n-gram count joins are hash/broadcast
      equi-joins, and no per-doc rank/window appears anywhere.
    """
    p = plans["text_hll_distinct"]
    assert "HashAggregate" in p, p
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    p = plans["text_stupid_backoff"]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "Window" not in p, p
    assert "row_number" not in p, p
    assert "CartesianProduct" not in p, p
