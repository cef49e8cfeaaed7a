"""Similarity search over embedding columns.

Two paths, per the scale contract:
- `brute_force_topk` — exact cosine top-k: query set is broadcast, the base
  table is scanned once, ranks computed with a per-query window over the
  (small) scored candidates. Baseline / ground truth.
- `lsh_bucket_topk` — random-hyperplane LSH: each vector gets an n-bit sign
  bucket (map-only after broadcasting the n plane vectors); queries probe
  only their bucket. At 100 TB the bucket join is an equi-join on the bucket
  id — linear scan + hash shuffle instead of a full cross product.

Dot products / cosines use the sequential-fold expression from
functions/dialect.py: bit-identical across engines, JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators.spill import spill_to_parquet


def _cos(va: str, vb: str, dim: int | None = None) -> F.Column:
    return F.expr(
        dl.cosine_double(va, vb, dim or dl.size(va, dl.SPARK), dl.SPARK)
    )


def brute_force_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (cosine, self excluded).

    Output: (query_id, neighbor_id, rnk, cos). `queries` must be small — it
    is broadcast; the base table is never shuffled, only scanned.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("bv")
    )
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos("qv", "bv", dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def range_search(
    base: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine RANGE (radius) search: every base vector with
    cosine >= `threshold` to each query, self excluded — the fixed-radius
    counterpart of `brute_force_topk` (retrieval wants "the k best";
    dedup/contamination sweeps want "everything this similar").

    Output: (query_id, neighbor_id, cos). Same scale contract as the
    top-k path: the query set is broadcast, the base table is scanned
    once map-only with the threshold applied before anything shuffles —
    at 100 TB the result volume is the selectivity of the radius, never
    the scan. No window/rank needed at all, so this plan is strictly
    cheaper than top-k."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("bv")
    )
    # Fold-form cosine (dim=None), deliberately: this plan is a broadcast
    # nested-loop join, and the explicit-chain rendering (3*dim multiply
    # terms for dot + both norms in ONE expression) inlined into the
    # bnlj doConsume blows janino's method limit at dim=64 — Spark falls
    # back to interpreted for the WHOLE stage with an ERROR CodeGenerator
    # line in stderr (r6 bench finding; a Generate barrier does not help,
    # the stage still fuses). The higher-order `aggregate` fold keeps the
    # consume method small; the equi-join paths (knn_graph, lsh) keep the
    # faster chain form. Numerically identical either way (left-assoc
    # fold == left-assoc chain, functions/dialect.py).
    return (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", _cos("qv", "bv", None).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
        .orderBy("query_id", "neighbor_id")
    )


def bucket_ids(
    base: DataFrame,
    planes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    plane_id_col: str = "bit",
    plane_vec_col: str = "pv",
    dim: int | None = None,
) -> DataFrame:
    """(id, bucket) via random-hyperplane signs: bit_i = [dot(v, plane_i)>0].

    Planes (a handful of vectors) are broadcast; bucket assignment is a
    map-side cross join + sum — one pass over the base table.
    """
    dot = F.expr(
        dl.dot_double("v", "pv", dim or dl.size("v", dl.SPARK), dl.SPARK)
    )
    return (
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(planes.select(plane_id_col, plane_vec_col)))
        .select(
            "id",
            F.when(
                dot > 0,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {plane_id_col})"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bitval"),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("bucket"))
    )


def ivf_topk(
    base: DataFrame,
    query_ids_pred,
    centroid_ids_pred,
    nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: partition vectors into inverted lists by nearest
    centroid; queries probe only their `nprobe` nearest lists.

    Centroids here are deterministic sample vectors (selected by
    `centroid_ids_pred`) rather than k-means-trained ones: Lloyd iterations
    average doubles across rows, which is summation-order-dependent and
    would break the bit-exact oracle contract — and sampled centroids are a
    standard IVF bootstrap. At scale: centroids broadcast, assignment is
    one map pass, the probe is an equi-join on centroid id — the base table
    shuffles once (on its list id), never per query.

    Tie-breaks are total: list assignment by (dist2, centroid_id),
    neighbor rank by (cos desc, neighbor_id). Output:
    (query_id, neighbor_id, cos, rnk).
    """
    cents = base.filter(centroid_ids_pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    d2 = F.expr(
        dl.dist2_double("v", "cv", dim or dl.size("v", dl.SPARK), dl.SPARK)
    )
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "id", "v", "cid", d2.alias("d2")
    )
    wa = Window.partitionBy("id").orderBy(F.col("d2"), F.col("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("id", "v", F.col("cid").alias("list_id"))
    )
    probes = (
        scored.join(
            base.filter(query_ids_pred).select(F.col(id_col).alias("id")),
            "id",
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("cid").alias("list_id"),
        )
    )
    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("id") != F.col("query_id")
    )
    scored_c = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _cos("qv", "v", dim).alias("cos"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored_c.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def lsh_bucket_topk(
    base: DataFrame,
    query_ids_pred,
    plane_ids_pred,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: probe only the query's sign bucket.

    `query_ids_pred` / `plane_ids_pred` are Column predicates selecting the
    query rows and the plane rows out of `base` (deterministic — the oracle
    selects the same rows). Output: (query_id, neighbor_id, rnk, cos).
    """
    planes = (
        base.filter(plane_ids_pred)
        .select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    )
    # densify plane bits 0..n-1 in pid order
    wp = Window.orderBy("pid")
    planes = planes.withColumn("bit", F.row_number().over(wp) - 1).select(
        "bit", "pv"
    )
    buckets = bucket_ids(base, planes, vec_col, id_col, dim=dim)
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bv = buckets.join(vecs, "id")
    q = (
        bv.join(base.filter(query_ids_pred).select(F.col(id_col).alias("id")), "id")
        .select(
            F.col("id").alias("query_id"),
            F.col("bucket"),
            F.col("v").alias("qv"),
        )
    )
    cand = bv.join(F.broadcast(q), "bucket").filter(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _cos("qv", "v", dim).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def _staged_cosine(
    df: DataFrame,
    va: str,
    vb: str,
    dim: int,
    out: str = "cos",
    chunk: int = 16,
) -> DataFrame:
    """Append cosine(`va`,`vb`) computed as a CHUNKED left-assoc chain:
    each stage extends the running dot/norm partial sums by `chunk`
    terms behind a Generate barrier, so every projected expression stays
    small enough for whole-stage codegen + HotSpot JIT. The full
    3*dim-term chain in one expression exceeds the huge-method
    threshold and silently evaluates interpreted — measured 2.43 s vs
    0.67 s for 257 k pairs at dim=64 (3.6x).

    The operation ORDER is identical to the one-shot left-assoc chain
    (((p + t_k) + t_k+1) + ... — parenthesization follows the same
    sequence), so results are bit-identical and the DuckDB oracle keeps
    its single-expression rendering. Map-only: the barriers are unit
    explodes, no shuffle. Drops the vector columns when done."""
    from pipegen_spark.operators.text import _barrier

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def _t(x: str, y: str, i: int) -> str:
        ex = dl.elem(x, str(i), dl.SPARK)
        ey = dl.elem(y, str(i), dl.SPARK)
        return f"(CAST({ex} AS DOUBLE) * CAST({ey} AS DOUBLE))"

    keep = [c for c in df.columns if c not in (va, vb)]
    cur = df
    for lo in range(1, dim + 1, chunk):
        hi = min(lo + chunk - 1, dim)
        if lo == 1:
            d = " + ".join(_t(va, vb, i) for i in range(lo, hi + 1))
            na = " + ".join(_t(va, va, i) for i in range(lo, hi + 1))
            nb = " + ".join(_t(vb, vb, i) for i in range(lo, hi + 1))
        else:
            d, na, nb = "_d", "_na", "_nb"
            for i in range(lo, hi + 1):
                d = f"({d} + {_t(va, vb, i)})"
                na = f"({na} + {_t(va, va, i)})"
                nb = f"({nb} + {_t(vb, vb, i)})"
        cur = _barrier(
            cur.select(
                *keep,
                va,
                vb,
                F.expr(f"({d})").alias("_d"),
                F.expr(f"({na})").alias("_na"),
                F.expr(f"({nb})").alias("_nb"),
            )
        )
    return cur.select(
        *keep, F.expr("_d / (sqrt(_na) * sqrt(_nb))").alias(out)
    )


def knn_graph(
    base: DataFrame,
    plane_ids_pred,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """All-corpus k-nearest-neighbor GRAPH within LSH sign buckets: every
    vector is both query and candidate, pairs meet ONLY through the
    bucket equi-join, exact cosine + per-id window rank inside each
    bucket. This is the kNN-graph build behind cluster-based curation
    (SemDeDup-style) and graph ANN index construction — different from
    `lsh_bucket_topk`, whose query side is a small broadcast set.

    Output: (vec_id, neighbor_id, rnk, cos). Scale: bucket assignment is
    map-only against broadcast planes; the self-join is an equi-join on
    the bucket id, so pair volume is sum of squared bucket sizes — with
    b planes that is ~n²/2^b, tuned linear by plane count; the window
    partitions by id (bounded rows per id). The base table shuffles
    once, on the bucket key.

    Sizing b (measured: x7.28 wall on a x10 corpus at FIXED b —
    bench_history/scale_sf1.json): expected bucket size is n/2^b, so
    pair volume stays linear only if b grows with log2(n) — one extra
    plane per corpus doubling pins bucket size. b is this constructor's
    `plane_ids_pred` cardinality; the gated queries derive it from the
    corpus count (`training_data.knn_plane_count`, round-9) and the
    oracle mirrors the same integer formula in SQL, so the sizing is
    self-tuning, not a literal."""
    planes = (
        base.filter(plane_ids_pred)
        .select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    )
    wp = Window.orderBy("pid")
    planes = planes.withColumn("bit", F.row_number().over(wp) - 1).select(
        "bit", "pv"
    )
    buckets = bucket_ids(base, planes, vec_col, id_col, dim=dim)
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bv = buckets.join(vecs, "id")
    # The pair pass is the hot path (~n²/2^b rows, each a dim-term
    # cosine) — score it with the chunked-chain form (see
    # _staged_cosine: the one-shot chain runs interpreted, 3.6x slower).
    raw = (
        bv.alias("a")
        .join(bv.alias("b"), "bucket")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("src_id"),
            F.col("b.id").alias("neighbor_id"),
            F.col("a.v").alias("_va"),
            F.col("b.v").alias("_vb"),
        )
    )
    if dim is not None:
        pairs = _staged_cosine(raw, "_va", "_vb", dim, out="cos")
    else:  # unknown dimension: fall back to the fold form
        pairs = raw.select(
            "src_id", "neighbor_id", _cos("_va", "_vb", None).alias("cos")
        )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("src_id").alias(id_col), "neighbor_id", "rnk", "cos"
        )
        .orderBy(id_col, "rnk")
    )


def hard_negatives(
    base: DataFrame,
    plane_ids_pred,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Contrastive hard-negative mining within LSH sign buckets: for
    every anchor vector, the single most-similar vector carrying a
    DIFFERENT label — the ANN-mined negative that contrastive embedding
    training (DPR/SimCSE-style pipelines) pairs with each anchor, where
    random negatives are too easy to carry gradient.

    Same scale shape as `knn_graph` (which mines same-ish neighbors;
    this mines cross-label ones): bucket assignment is map-only against
    broadcast planes, candidate pairs meet ONLY through the bucket
    equi-join (~n²/2^b rows, linear when the plane count b tracks
    log2 n — see knn_graph's sizing note), cross-label filter before
    the cosine, and a per-anchor top-1 window inside buckets. Anchors
    whose buckets hold no cross-label candidate are dropped — mining is
    approximate by design; more planes trade recall for pair volume.

    Output: (vec_id, label, neg_id, neg_label, cos), one row per
    anchor with a found negative, deterministic tiebreak (cos desc,
    neg_id asc)."""
    planes = (
        base.filter(plane_ids_pred)
        .select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    )
    wp = Window.orderBy("pid")
    planes = planes.withColumn("bit", F.row_number().over(wp) - 1).select(
        "bit", "pv"
    )
    buckets = bucket_ids(base, planes, vec_col, id_col, dim=dim)
    vecs = base.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lbl"),
    )
    bv = buckets.join(vecs, "id")
    raw = (
        bv.alias("a")
        .join(bv.alias("b"), "bucket")
        .filter(F.col("a.lbl") != F.col("b.lbl"))
        .select(
            F.col("a.id").alias("src_id"),
            F.col("a.lbl").alias("src_lbl"),
            F.col("b.id").alias("neg_id"),
            F.col("b.lbl").alias("neg_lbl"),
            F.col("a.v").alias("_va"),
            F.col("b.v").alias("_vb"),
        )
    )
    if dim is not None:
        pairs = _staged_cosine(raw, "_va", "_vb", dim, out="cos")
    else:
        pairs = raw.select(
            "src_id", "src_lbl", "neg_id", "neg_lbl",
            _cos("_va", "_vb", None).alias("cos"),
        )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("neg_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("src_id").alias(id_col),
            F.col("src_lbl").cast("long").alias(label_col),
            F.col("neg_id").alias("neg_id"),
            F.col("neg_lbl").cast("long").alias("neg_label"),
            "cos",
        )
        .orderBy(id_col)
    )


BITEXT_K = 4  # top-k neighborhood size in the margin denominator


def bitext_margin(
    base: DataFrame,
    groups: DataFrame,
    plane_ids_pred,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = BITEXT_K,
    dim: int | None = None,
) -> DataFrame:
    """Margin-based bitext (parallel-pair) mining — the
    ratio-margin criterion of Artetxe & Schwenk (2019) that
    LASER/CCMatrix-style multilingual pipelines use to pick aligned
    sentence pairs, where raw cosine over-selects hubs: a candidate
    pair scores cos(x,y) normalized by the mean cosine of each side's
    top-k cross-lingual neighborhood, so a pair only wins if it is
    similar BEYOND what its two endpoints' neighborhoods predict.

    `groups` — a (id_col, is_src boolean) frame — splits the corpus
    (e.g. is_src = lang == 'en'): sources mine against everything
    else; ids absent from `groups` drop out (inner join). It joins in
    AFTER the bucket aggregate on purpose: fusing a group join into
    the bucket-assignment stage stacks a second broadcast-join consume
    on top of the 64-term plane dots, and the generated
    `bhj_doConsume` method blows the JVM's 64 KB limit — whole-stage
    codegen silently falls back to interpreted for the hottest
    map stage (reproduced; the post-exchange join keeps every method
    small). Candidates meet ONLY through the LSH bucket equi-join
    (knn_graph's scale shape; neighborhoods are bucket-restricted —
    the standard practical approximation). Negative-cosine candidates
    are dropped up front (noise for alignment, and it keeps every
    margin quantity positive).

    Bit-exactness across engines: the pairwise cosine double is
    micro-quantized BEFORE any aggregation, so the top-k sums, the
    per-side means, and the final ratio are pure BIGINT arithmetic —
    no float summation-order hazard. margin_ppm = 2e6·cos_micro /
    (avg_src_micro + avg_tgt_micro), numerator ≤ 2e12: BIGINT-safe.

    Output: (vec_id, tgt_id, cos_micro, margin_ppm) — each source's
    single best target by margin (margin desc, tgt_id asc)."""
    planes = (
        base.filter(plane_ids_pred)
        .select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    )
    wp = Window.orderBy("pid")
    planes = planes.withColumn("bit", F.row_number().over(wp) - 1).select(
        "bit", "pv"
    )
    buckets = bucket_ids(base, planes, vec_col, id_col, dim=dim)
    vecs = base.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    grp = groups.select(F.col(id_col).alias("id"), "is_src")
    # r14 (guide §2.4): the src/tgt split used to be PRE-filters on each
    # side of the bucket self-join; the pushed-down filters made the two
    # exchange subtrees differ, so the 64-term plane-dot bucket-assign
    # pass over the corpus ran TWICE. Encoding the split as `side` (1 =
    # source, 0 = target) and testing `a.side > b.side` IN the join
    # condition references both sides at once, so the optimizer cannot
    # push it into either branch — both branches stay the identical
    # subtree and AQE reuses one shuffle stage (the hard_negatives
    # shape): one plane-dot assign pass, one bucket exchange.
    # Semantics unchanged: side_a > side_b  <=>  is_src_a AND NOT
    # is_src_b, and a null is_src yields a null side, which fails the
    # condition exactly as it failed both filters.
    bv = (
        buckets.join(vecs, "id")
        .join(grp, "id")
        .select(
            "id",
            "bucket",
            "v",
            F.when(F.col("is_src"), F.lit(1))
            .when(~F.col("is_src"), F.lit(0))
            .alias("side"),
        )
    )
    raw = (
        bv.alias("a")
        .join(
            bv.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.side") > F.col("b.side")),
        )
        .select(
            F.col("a.id").alias("src_id"),
            F.col("b.id").alias("tgt_id"),
            F.col("a.v").alias("_va"),
            F.col("b.v").alias("_vb"),
        )
    )
    if dim is not None:
        pairs = _staged_cosine(raw, "_va", "_vb", dim, out="cos")
    else:
        pairs = raw.select(
            "src_id", "tgt_id", _cos("_va", "_vb", None).alias("cos")
        )
    # The positivity filter is an EXPLODE of a 0/1-element array, not a
    # Filter node: a Filter on floor(cos*1e6+0.5) gets predicate-pushed
    # through every _staged_cosine barrier projection, re-inlining the
    # full 3*dim-term chain into the pair-join stage — janino's 64 KB
    # method limit trips and the hottest stage falls back to
    # interpreted (reproduced; same landmine range_search documents for
    # its bnlj consume). Generate output cannot be pushed past, so the
    # staged chain stays JIT-able.
    pm = pairs.select(
        "src_id",
        "tgt_id",
        F.expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").alias(
            "_cm"
        ),
    ).select(
        "src_id",
        "tgt_id",
        F.explode(
            F.expr("filter(array(_cm), x -> x > 0)")
        ).alias("cos_micro"),
    )
    # Neighborhood stats as WINDOW aggregates over the one pair table —
    # the groupBy-then-join-back form would make Spark recompute the
    # whole bucket-join + cosine subtree once per reference. Each side
    # is one exchange: rank and the top-k sum share the partitioning.
    ws = Window.partitionBy("src_id").orderBy(
        F.col("cos_micro").desc(), "tgt_id"
    )
    wt = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_micro").desc(), "src_id"
    )
    ws_all = Window.partitionBy("src_id")
    wt_all = Window.partitionBy("tgt_id")
    in_k_src = F.when(F.col("rs") <= k, F.col("cos_micro"))
    in_k_tgt = F.when(F.col("rt") <= k, F.col("cos_micro"))
    ranked = (
        pm.withColumn("rs", F.row_number().over(ws))
        .withColumn("s_sum", F.sum(in_k_src).over(ws_all).cast("long"))
        .withColumn(
            "s_cnt",
            F.sum(
                F.when(F.col("rs") <= k, F.lit(1)).otherwise(0)
            ).over(ws_all).cast("long"),
        )
        .withColumn("rt", F.row_number().over(wt))
        .withColumn("t_sum", F.sum(in_k_tgt).over(wt_all).cast("long"))
        .withColumn(
            "t_cnt",
            F.sum(
                F.when(F.col("rt") <= k, F.lit(1)).otherwise(0)
            ).over(wt_all).cast("long"),
        )
    )
    den = (
        f"({dl.idiv('s_sum', 's_cnt', dl.SPARK)}"
        f" + {dl.idiv('t_sum', 't_cnt', dl.SPARK)})"
    )
    scored = ranked.select(
        "src_id",
        "tgt_id",
        "cos_micro",
        F.expr(
            dl.idiv("cos_micro * 2000000", den, dl.SPARK)
        ).cast("long").alias("margin_ppm"),
    )
    w1 = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), "tgt_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w1))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("src_id").alias(id_col),
            "tgt_id",
            "cos_micro",
            "margin_ppm",
        )
        .orderBy(id_col)
    )


def rrf_expr(k: int = 60) -> str:
    """Reciprocal-rank-fusion score over columns r_lex, r_dense — ONE
    expression string shared verbatim by the Spark plan and the DuckDB
    oracle (two rational terms, fixed order: IEEE-identical on both
    engines; no transcendentals)."""
    return (
        f"(1.0 / ({k}.0 + CAST(r_lex AS DOUBLE))"
        f" + 1.0 / ({k}.0 + CAST(r_dense AS DOUBLE)))"
    )


def pq_adc_topk(
    base: DataFrame,
    codebook_pred,
    query_pred,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 15,
) -> DataFrame:
    """ADC (asymmetric distance computation, Jegou et al. 2011) top-k:
    rank the PQ-compressed corpus against full-precision queries using
    only the 3m-bit codes and a per-query lookup table.

    The scale story PQ exists for: the scan side touches ONE BIGINT per
    vector (pq_encode output — at 100 TB that is a ~128x I/O reduction
    over raw float vectors), while the query x subspace x codeword
    distance table (n_q * m * K integer rows — 320 here) BROADCASTS.
    The per-(query, vector) score is then a sum of m LUT hits: explode
    codes to (vector, subspace, codeword) triples — a bounded m-fold
    map-side expansion of 8-byte rows — hash-join the LUT, and aggregate
    back per (query, vector). All distances are the integer-quantized
    sub-distances of `pq_subdist_expr`, so the oracle is bit-exact.

    Output: (query_id, neighbor_id, rnk, adc_dist); the query vector
    itself is excluded. At production scale `pq_encode` runs once at
    ingest and the codes are materialized — here it is inlined so the
    query is self-contained.
    """
    from pipegen_spark.operators import embeddings as em

    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing "
            f"{dim % m} coordinates would be silently dropped from "
            "every ADC distance (honest-boundary policy: fail loudly)"
        )
    sub_dim = dim // m
    codes = em.pq_encode(
        base, codebook_pred, m=m, dim=dim, vec_col=vec_col,
        id_col=id_col, scale_bits=scale_bits,
    ).select(F.col(id_col).alias("neighbor_id"), "pq_code")
    wc = Window.orderBy("cid")
    cents = (
        base.filter(codebook_pred)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cidx", F.row_number().over(wc).cast("long") - 1)
    )
    q = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # Materialize the m sub-distances as plain columns BEFORE building
    # the exploded struct array: inlining the 8 wide quantized-distance
    # expressions inside one generator blew the 64 KB JVM method limit
    # (whole-stage codegen fell back to the interpreted path).
    dist_cols = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "cidx",
        *[
            F.expr(
                em.pq_subdist_expr(
                    "qv", "cv", s, sub_dim, scale_bits, dl.SPARK
                )
            ).alias(f"d{s}")
            for s in range(m)
        ],
    )
    lut = dist_cols.select(
        "query_id",
        "cidx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"d{s}").alias("d")
                    )
                    for s in range(m)
                ]
            )
        ).alias("sd"),
    ).select("query_id", "cidx", "sd.s", "sd.d")
    code_rows = codes.select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.expr(
                            f"({dl.shr('pq_code', str(3 * s), dl.SPARK)}) & 7"
                        ).alias("cidx"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", "sc.s", "sc.cidx")
    scored = (
        code_rows.join(F.broadcast(lut), ["s", "cidx"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def quantized_l2_topk(
    base: DataFrame,
    query_pred,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 15,
) -> DataFrame:
    """Exact top-k under the integer-quantized squared L2 distance — the
    ground truth that isolates PQ's QUANTIZATION error in recall
    measurements (same metric, same integer grid as `pq_adc_topk`, no
    compression). Broadcast queries, one scan of base, window top-k.

    Output: (query_id, neighbor_id, rnk, l2_dist)."""
    from pipegen_spark.operators import embeddings as em

    sub_dim = dim // m
    dist = "(" + " + ".join(
        em.pq_subdist_expr("qv", "bv", s, sub_dim, scale_bits, dl.SPARK)
        for s in range(m)
    ) + ")"
    q = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("bv")
    )
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", F.expr(dist).alias("l2_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("l2_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def ivfpq_topk(
    base: DataFrame,
    query_pred,
    coarse_pred,
    codebook_pred,
    nprobe: int = 2,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 15,
) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §IV): the two quantizers composed —
    a coarse inverted-file quantizer prunes the corpus to `nprobe`
    lists per query, and within the probed lists candidates are ranked
    by ADC over product-quantized RESIDUALS (vector minus its coarse
    centroid), so the fine codebook spends its 3m bits on the
    within-cell displacement instead of the whole space. This is the
    composition FAISS ships as IndexIVFPQ and the standard
    billion-vector search layout.

    Bootstrap sampling as elsewhere: coarse centroids are the
    `coarse_pred` sample rows, the residual codebook is the
    `codebook_pred` rows' OWN residuals w.r.t. their coarse cell (a
    zero-residual codebook would result if the two samples coincided —
    keep them disjoint). Distances: coarse assignment in DOUBLE with
    total (d2, cid) tie-break; all fine/ADC distances are the integer-
    quantized `pq_subdist_expr` sub-distances, so ranking is bit-exact.

    Shape (100 TB): centroids and codebook broadcast (K_c + K rows);
    coarse assignment + residual + PQ encode are ONE map pass over the
    corpus (argmin as a map-side-partial min(struct) agg keyed by id —
    at production scale this runs once at ingest and only the packed
    (id, list_id, pq_code) row — one BIGINT of payload — is stored);
    the per-(query, probed-list) LUT broadcasts (n_q * nprobe * K * m
    integer rows) and candidates meet it through the list_id equi-join:
    a query is never compared outside its probed lists, and the scan
    side of the join carries codes, not vectors.

    Output: (query_id, neighbor_id, adc_dist, rnk), self excluded,
    rnk by (adc_dist asc, neighbor_id) — total order.
    """
    from pipegen_spark.operators import embeddings as em
    from pipegen_spark.operators.text import _barrier

    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing "
            f"{dim % m} coordinates would be silently dropped from "
            "every ADC distance (honest-boundary policy: fail loudly)"
        )
    sub_dim = dim // m
    cents = base.filter(coarse_pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    d2 = F.expr(dl.dist2_double("v", "cv", dim, dl.SPARK))

    def _residuals(frame: DataFrame) -> DataFrame:
        """(id, list_id, rv): nearest coarse cell + residual, built as
        one broadcast-expand + map-side-partial argmin, then one more
        broadcast hit for the centroid values. The residual transform
        is materialized behind a barrier: pq_subdist_expr indexes its
        operands per element, and an inlined transform would replay
        the whole subtraction chain dim times per row.

        r14 (guide §2.4, the r13 nearest_coarse discipline): the argmin
        struct carries the row's vector behind the (d2, cid) prefix —
        cid is unique per centroid so the comparison never reaches v
        and the winner is unchanged — which deletes the corpus-sized
        `frame.join(amin, "id")` re-join (two exchanges + sorts of the
        vector column per _residuals call)."""
        scored = frame.crossJoin(F.broadcast(cents)).select(
            "id", "cid", "v", d2.alias("d2")
        )
        amin = scored.groupBy("id").agg(
            F.min(
                F.struct(F.col("d2"), F.col("cid"), F.col("v"))
            ).alias("mc")
        )
        rv = dl.arr_sub("v", "cv", dim, dl.SPARK)
        return _barrier(
            amin.select(
                "id",
                F.col("mc.cid").alias("list_id"),
                F.col("mc.v").alias("v"),
            )
            .join(
                F.broadcast(cents.withColumnRenamed("cid", "list_id")),
                "list_id",
            )
            .select(
                "id", "list_id", F.expr(rv).alias("rv")
            )
        )

    wcb = Window.orderBy("cbid")
    cb = _barrier(
        _residuals(
            base.filter(codebook_pred).select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("v")
            )
        )
        .withColumnRenamed("id", "cbid")
        .withColumn("cidx", F.row_number().over(wcb).cast("long") - 1)
        .select("cidx", F.col("rv").alias("rcv"))
    )

    res = _residuals(vecs)
    ds = [
        F.expr(
            em.pq_subdist_expr("rv", "rcv", s, sub_dim, scale_bits, dl.SPARK)
        ).alias(f"d{s}")
        for s in range(m)
    ]
    mins = (
        res.crossJoin(F.broadcast(cb))
        .select("id", "list_id", "cidx", *ds)
        .groupBy("id", "list_id")
        .agg(
            *[
                F.min(
                    F.struct(F.col(f"d{s}").alias("d"),
                             F.col("cidx").alias("c"))
                ).alias(f"m{s}")
                for s in range(m)
            ]
        )
    )
    code_rows = mins.select(
        F.col("id").alias("neighbor_id"),
        "list_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"m{s}.c").alias("cidx")
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", "list_id", "sc.s", "sc.cidx")

    # Probes: nprobe nearest lists per query, then the query's residual
    # against EACH probed list's centroid feeds the LUT.
    q = base.filter(query_pred).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    wq = Window.partitionBy("id").orderBy(F.col("d2"), F.col("cid"))
    qr = dl.arr_sub("v", "cv", dim, dl.SPARK)
    probes = _barrier(
        q.crossJoin(F.broadcast(cents))
        .select("id", "cid", "v", "cv", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("id").alias("query_id"),
            F.col("cid").alias("list_id"),
            F.expr(qr).alias("qr"),
        )
    )
    lds = [
        F.expr(
            em.pq_subdist_expr("qr", "rcv", s, sub_dim, scale_bits, dl.SPARK)
        ).alias(f"d{s}")
        for s in range(m)
    ]
    lut = (
        probes.crossJoin(F.broadcast(cb))
        .select("query_id", "list_id", "cidx", *lds)
        .select(
            "query_id",
            "list_id",
            "cidx",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"), F.col(f"d{s}").alias("d")
                        )
                        for s in range(m)
                    ]
                )
            ).alias("sd"),
        )
        .select("query_id", "list_id", F.col("sd.s").alias("s"),
                "cidx", F.col("sd.d").alias("d"))
    )
    scored = (
        code_rows.join(F.broadcast(lut), ["list_id", "s", "cidx"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    wk = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist",
                F.col("rnk").cast("int").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


# --- MMR diversified reranking -----------------------------------------------

MMR_LAMBDA_NUM = 7  # lambda = 0.7 as the rational 7/10 — the relevance
MMR_LAMBDA_DEN = 10  # vs diversity trade-off, same literal on both engines


def mmr_rerank(
    base: DataFrame,
    queries: DataFrame,
    n_candidates: int = 20,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein '98):
    from the query's top-`n_candidates` cosine neighbors, greedily pick
    `k` results maximizing

        mmr(c) = (7*cos(q,c) - 3*max_{s in selected} cos(c,s)) / 10

    — the standard diversity-aware retrieval head (RAG rerankers). The
    greedy argmax is UNROLLED k times over the candidate frame, so the
    whole computation stays declarative and the oracle replays it as a
    CTE chain; ties break on neighbor_id. Scores surface as integer
    millionths of the deterministic fold-based cosines.

    Shape (100 TB): candidate generation is the brute-force scan (swap
    in the IVF/PQ path at scale); everything after operates on
    n_candidates rows — the n^2 pairwise-similarity frame and the k
    unrolled selection steps are all constant-size work, broadcast
    joins only. The driver holds the selection: each step collects its
    one winning row, the next step filters on the selected ids, and the
    output is built from the collected rows (exact doubles).
    """
    # Single-query contract: the candidate frame drops query_id below, so
    # a multi-row `queries` would silently blend every query's candidates
    # into ONE greedy selection. Guard explicitly (the frame is tiny —
    # this count is a broadcast-side action, not a data scan); per-query
    # MMR = call this per query or thread query_id through the unroll.
    n_q = queries.count()
    if n_q != 1:
        raise ValueError(
            f"mmr_rerank expects exactly one query vector, got {n_q}; "
            "call it per query (the greedy unroll is per-query state)"
        )
    cand = brute_force_topk(
        base, queries, k=n_candidates, vec_col=vec_col, id_col=id_col,
        dim=dim,
    ).select("neighbor_id", "cos")
    emb = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
    )
    c = cand.join(F.broadcast(emb), "neighbor_id")
    # Every ordered candidate pair with the first one's relevance (the
    # self-pairs let the first step see every candidate), materialised
    # once: every step reads only this frame.
    a = c.select(
        F.col("neighbor_id").alias("ida"), "cos", F.col("v").alias("va")
    )
    b = c.select(
        F.col("neighbor_id").alias("idb"), F.col("v").alias("vb")
    )
    pair = spill_to_parquet(
        a.crossJoin(F.broadcast(b)).select(
            "ida", "cos", "idb", _cos("va", "vb", dim).alias("sim")
        ),
        label="mmr-pair",
    )
    lam_n, lam_d = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN
    mmr = F.expr(
        f"({lam_n} * cos - {lam_d - lam_n} * coalesce(maxsim, 0.0))"
        f" / {lam_d}.0"
    )
    # The greedy unroll is inherently sequential: one collect per step is
    # its floor. Holding the selection on the driver keeps every step's
    # plan the same size (a lazy unroll doubles it through the anti/semi
    # joins each step; measured 2.4 -> 4.5 s warm at sf0.1), and the
    # selected ids reach the next step as literals. Step 1 scores by
    # relevance alone (mmr = cos); later steps penalise each remaining
    # candidate by its largest similarity to a selected one.
    rows = []
    for step in range(1, k + 1):
        ids = [r["neighbor_id"] for r in rows]
        pen = pair.filter(~F.col("ida").isin(ids))
        if rows:
            pen = pen.filter(F.col("idb").isin(ids))
        nxt = (
            pen.groupBy(F.col("ida").alias("neighbor_id"), "cos")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                "neighbor_id",
                "cos",
                (mmr if rows else F.col("cos")).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), "neighbor_id")
            .limit(1)
            .select(
                F.lit(step).cast("long").alias("rank"),
                "neighbor_id",
                "cos",
                "mmr",
            )
        )
        rows += nxt.collect()
    # The output is built from the held rows as literals (a one-row JVM
    # scan, doubles bit for bit); with no candidates `nxt` is empty.
    lits = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(r, nxt.schema)])
        for r in rows
    ]
    one = c.sparkSession.range(1, numPartitions=1)
    sel = one.select(F.inline(F.array(*lits))) if rows else nxt
    micro = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"
    return sel.select(
        "rank",
        "neighbor_id",
        F.expr(micro.format(x="cos")).alias("cos_micro"),
        F.expr(micro.format(x="mmr")).alias("mmr_micro"),
    ).orderBy("rank")
