"""Embedding preprocessing operators: L2 normalization, int8 quantization,
and fixed-iteration k-means clustering.

These are the vector-side complements of the text curation family (ref
parity: the reference's pipeline treats embeddings as first-class columns;
SURVEY.md §2B-B29 [EXT]). All numeric paths follow the repo's determinism
contract (functions/dialect.py): fixed-association double chains, no
transcendentals except IEEE-exact sqrt, and — for k-means — integer-scaled
centroid sums, because a double SUM across partitions is addition-order-
dependent and would break the bit-exact oracle gate.

Scale notes (100 TB):
- normalize / quantize are map-only single passes — no shuffle at all.
- k-means shuffles once per iteration on (cluster, dim) for the centroid
  reduction (a partial-aggregated sum of longs), and assignment is a
  broadcast of K tiny centroid rows — the base table is never shuffled.
- the int64 scaled sums hold ~9e9 unit-scale vectors per cluster before
  overflow; beyond that, swap the LONG for DECIMAL(38,0) (still exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators.spill import spill_to_parquet

# Fixed-point scale for exact centroid means: floor(x*SCALE + 0.5) as LONG.
# Integer sums are associative, so the mean is partitioning-independent.
MEAN_SCALE = "1000000000.0"  # 1e9 — ~9 significant digits of the mean


def _unit_barrier(df: DataFrame) -> DataFrame:
    """Generate-node optimization barrier (see operators/text.py:_barrier):
    a plain projection gets CollapseProject-inlined into every downstream
    use; a one-element explode does not. Map-only, values unchanged."""
    return df.select(
        "*", F.explode(F.array(F.lit(1))).alias("_one")
    ).drop("_one")


def l2_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """(id, nrm, unit): L2 norm and the unit-normalized vector.

    The norm (a 64-term codegen'd multiply-add chain + sqrt) is
    materialized behind a barrier FIRST — otherwise the per-element divide
    lambda re-inlines the whole chain per element (O(dim^2)/row).
    Zero vectors normalize to all-zeros rather than NaN.
    """
    # Fold form, not the explicit chain: measured faster on this workload
    # (see training_data.py EMB_DIM note) and bit-identical by construction.
    dim_e = dim if dim is not None else dl.size("v", dl.SPARK)
    nrm = F.expr(f"sqrt({dl.norm2_double('v', dim_e, dl.SPARK)})")
    staged = _unit_barrier(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            nrm.alias("nrm"),
        )
    )
    unit = dl.transform(
        "v",
        "x -> CASE WHEN nrm = 0.0 THEN 0.0"
        " ELSE CAST(x AS DOUBLE) / nrm END",
        dl.SPARK,
    )
    return staged.select(
        F.col("id").alias(id_col), "nrm", F.expr(unit).alias("unit")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, maxabs, qvec): symmetric per-vector int8 quantization.

    q_i = floor(x_i * 127 / maxabs + 0.5)  (half-up; floor is IEEE-exact,
    unlike engine CAST-to-int rounding, which truncates on Spark and
    rounds on DuckDB). maxabs == 0 quantizes to all zeros. Map-only.
    """
    maxabs = dl.arr_max(
        dl.transform("v", "x -> abs(CAST(x AS DOUBLE))", dl.SPARK), dl.SPARK
    )
    staged = _unit_barrier(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.expr(maxabs).alias("maxabs"),
        )
    )
    q = dl.transform(
        "v",
        "x -> CASE WHEN maxabs = 0.0 THEN 0 ELSE"
        " CAST(floor(((CAST(x AS DOUBLE) * 127.0) / maxabs) + 0.5) AS INT)"
        " END",
        dl.SPARK,
    )
    return staged.select(
        F.col("id").alias(id_col), "maxabs", F.expr(q).alias("qvec")
    )


def mean_expr(s: str, n: str) -> str:
    """Exact-input centroid mean: scaled-long sum back to double. The text
    is shared verbatim with the DuckDB oracle (same IEEE result)."""
    return f"((CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) / {MEAN_SCALE})"


def scaled_long_expr(x: str) -> str:
    """floor(x*SCALE + 0.5) as LONG — exact, associative, overflow-safe to
    ~9e9 unit-scale rows per group (see module docstring)."""
    return f"CAST(floor((CAST({x} AS DOUBLE) * {MEAN_SCALE}) + 0.5) AS BIGINT)"


def _assign(vecs: DataFrame, cents: DataFrame, dim) -> DataFrame:
    """argmin_cid dist2(v, cv) with total (dist2, cid) tie-break; centroids
    are broadcast (K rows) — the base table never shuffles.

    r13 optimization (guide §2.3/§2.4): the argmin is a min(struct(d2,
    cid, v)) aggregate instead of the previous row_number window. The
    window shape shuffled and SORTED the n·K expansion on (id, d2, cid);
    the min-struct partial-aggregates map-side — every id's K candidate
    rows sit in ONE input partition after the broadcast expansion, so
    the exchange carries one row per id and the downstream merge is
    trivial. cid is unique per centroid, so the (d2, cid) prefix always
    decides the comparison before v is reached: the selected row is
    byte-identical to the window form's rn=1 row (same total order)."""
    dim_e = dim if dim is not None else dl.size("v", dl.SPARK)
    d2 = F.expr(dl.dist2_double("v", "cv", dim_e, dl.SPARK))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("id", "v", "cid", d2.alias("d2"))
        .groupBy("id")
        .agg(F.min(F.struct("d2", "cid", "v")).alias("m"))
        .select(
            "id",
            F.col("m.v").alias("v"),
            F.col("m.cid").alias("cluster_id"),
            F.col("m.d2").alias("d2"),
        )
    )


def kmeans_fixed(
    base: DataFrame,
    init_pred,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means with a FIXED iteration count and deterministic
    seeding (`init_pred` selects the initial centroid rows out of `base`).

    Per iteration: broadcast-assign every vector to its nearest centroid,
    then recompute centroids as per-dimension means via posexplode →
    sum-of-scaled-longs → rebuild array ordered by dimension. Integer sums
    make the mean independent of partitioning AND expressible in ANSI SQL,
    so the whole algorithm (unrolled) has an exact DuckDB oracle — the
    usual double-mean Lloyd step is summation-order-dependent and is not.
    Clusters keep their seed row's id as a stable label; a cluster that
    loses all members simply drops out (both engines agree).

    Output: (id_col, cluster_id, d2) — final assignment + squared distance.
    """
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = base.filter(init_pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = _assign(vecs, cents, dim)
    for _ in range(iters - 1):
        cents = _lloyd_update(assigned)
        assigned = _assign(vecs, cents, dim)
    return assigned.select(F.col("id").alias(id_col), "cluster_id", "d2")


def _lloyd_update(assigned: DataFrame) -> DataFrame:
    """One Lloyd centroid recompute over an assignment frame: per-
    dimension means via posexplode → sum-of-scaled-longs → rebuild array
    ordered by dimension (the partition-order-independent exact mean the
    module docstring describes). Returns (cid, cv).

    r13 note: an "unrolled" variant (one hash aggregate with dim
    scaled-long sum columns, no posexplode) was measured SLOWER at
    sf0.1 across every assign pairing (e.g. 1.28 s → 1.91 s for the
    2-iteration chain) — the 64-column expression tree costs more in
    driver plan/codegen time than the posexplode costs in execution,
    and the d-keyed posexplode aggregate is already map-side partial
    and corpus-size-independent in its output. Kept the posexplode."""
    sums = (
        assigned.select(
            "cluster_id", F.posexplode("v").alias("pos", "x")
        )
        .groupBy("cluster_id", "pos")
        .agg(
            F.sum(F.expr(scaled_long_expr("x"))).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return (
        sums.select(
            F.col("cluster_id").alias("cid"),
            "pos",
            F.expr(mean_expr("s", "n")).alias("m"),
        )
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))),"
                " p -> p.m)"
            ).alias("cv")
        )
    )


def kmeans_centroids(
    base: DataFrame,
    init_pred,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """The TRAINED centroid frame (cid, cv) that `kmeans_fixed`'s final
    assignment runs against — the seed rows Lloyd-updated `iters - 1`
    times with the same integer-scaled exact means (bit-identical to
    the unrolled DuckDB CTE chain's last c{i} frame). This is the
    quantizer-training output FAISS materializes before building an
    IndexIVF (Jegou et al. 2011 §IV): feed it to `semantic_dedup_ivf`
    as `fine_centroids` for the trained-quantizer composition, where
    Lloyd-balanced centroids equalize inverted-list sizes and so pin
    the per-list pair volume the dedup pass pays."""
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = base.filter(init_pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    for _ in range(iters - 1):
        cents = _lloyd_update(_assign(vecs, cents, dim))
    return cents


def _prune_within_clusters(
    assigned: DataFrame, threshold: float, id_col: str, dim: int | None
) -> DataFrame:
    """SemDeDup's pair pass over an (id, cluster_id, v) assignment: each
    vector counts the lower-id vectors of its cluster at cosine >=
    `threshold`. Output (id_col, cluster_id, n_sem_dups,
    is_semantic_dup)."""
    # The assignment feeds two consumers (the pair pass + the final
    # output); spilling it runs the iterative k-means chain once.
    # The L2 norm is hoisted HERE, per vector, not computed per pair:
    # (a) O(n) norm chains instead of O(pairs), and (b) the full cosine —
    # dot + two norms, 3*dim unrolled element_at terms — overflows Janino's
    # 64 KB method limit inside the join's codegen'd consume function,
    # silently dropping the whole stage to interpreted mode. dot alone
    # fits. sqrt(norm2_a)*sqrt(norm2_b) is the same IEEE computation either
    # side of the join, so results are bit-identical to the inline form.
    dim_expr = dim if dim is not None else dl.size("v", dl.SPARK)
    nrm = f"sqrt({dl.norm2_double('v', dim_expr, dl.SPARK)})"
    a = spill_to_parquet(
        assigned.select("id", "cluster_id", "v").withColumn("nrm", F.expr(nrm)),
        label="semdedup",
    )
    left = a.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "cluster_id",
    )
    right = a.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "cluster_id",
    )
    pair_dim = dim if dim is not None else dl.size("va", dl.SPARK)
    cos = f"({dl.dot_double('va', 'vb', pair_dim, dl.SPARK)}) / (na * nb)"
    dups = (
        left.join(right, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"({cos}) >= {threshold}"))
        .groupBy(F.col("id_b").alias("id"))
        .agg(F.count("*").alias("n_sem_dups"))
    )
    n = F.coalesce(F.col("n_sem_dups"), F.lit(0)).cast("long")
    return a.join(dups, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster_id",
        n.alias("n_sem_dups"),
        (n > 0).alias("is_semantic_dup"),
    )


def semantic_dedup(
    base: DataFrame,
    init_pred,
    threshold: float,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding corpus, then
    prune semantic duplicates WITHIN each cluster — a vector is a
    semantic dup if a lower-id vector in the same cluster has cosine
    similarity >= `threshold` (keep-first, mirroring exact_dedup).

    Shape (100 TB): the pairwise cosine never goes all-pairs — candidates
    meet through an equi-join on cluster_id, so the quadratic term is
    bounded by the largest cluster. That bound is exactly what SemDeDup's
    k buys: size k ~ corpus_size / target_cluster_size so each cluster's
    pair block fits one task (same discipline as the enforced block guard
    in operators/dedup.py embedding near-dup). Assignment itself is
    broadcast-centroid, map-side.

    Output per vector: (id_col, cluster_id, n_sem_dups, is_semantic_dup)
    where n_sem_dups counts the lower-id in-cluster vectors above
    threshold.
    """
    # r13 optimization (guide §2.4): the final _assign already carries
    # each vector (min-struct form), so the previous corpus-sized
    # vecs⋈assigned re-join is gone. (A BLAS-prefilter rewrite of the
    # pair pass via embedding_dup_pairs was measured 2x SLOWER at sf0.1
    # — its extra stages dominate at bench scale — and was dropped; see
    # OPTIMIZATION_r13.md.)
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = base.filter(init_pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = _assign(vecs, cents, dim)
    for _ in range(iters - 1):
        cents = _lloyd_update(assigned)
        assigned = _assign(vecs, cents, dim)
    return _prune_within_clusters(assigned, threshold, id_col, dim)


def semantic_dedup_ivf(
    base: DataFrame,
    coarse_pred,
    fine_pred,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    fine_centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup with IVF TWO-LEVEL centroid assignment — the documented
    next rung of `semantic_dedup`'s scaling ladder: when the derived
    cluster count k itself gets large (k = n/target, so ~4e8 clusters
    at 1e11 vectors), the flat broadcast assignment's O(n·k) distance
    work dominates. Here every vector pays O(c) coarse distances plus
    the distances to the fine centroids INSIDE its coarse cell
    (expected k/c) — O(n·(c + k/c)), minimized at c = Θ(√k); FAISS's
    IndexIVF quantizer structure applied to the dedup clustering
    (Jegou et al. 2011 §IV; probe-1: a vector whose true nearest fine
    centroid lives in a neighboring coarse cell is assigned within its
    own cell — the standard IVF approximation, fine for dedup
    bucketing where any consistent partition of similar vectors
    works).

    Fine "centroids" are the `fine_pred` sample rows used directly,
    OR — the trained-quantizer composition — pass `fine_centroids`
    (columns fid, fv; `kmeans_centroids` produces exactly this) and
    `fine_pred` is ignored: IVF on a Lloyd-trained quantizer, FAISS's
    actual IndexIVF structure, whose balanced lists pin per-list pair
    volume. Determinism: both argmins are total-ordered (d2, cid)
    MIN-structs; the within-cluster pair pass is byte-for-byte
    `semantic_dedup`'s.

    Shape (100 TB): coarse centroids (c rows) and the
    fine-centroid→cell map (k rows) broadcast; the in-cell fine
    assignment is a broadcast hash join on cell_id expanding each
    vector to its cell's fine candidates (expected k/c per vector,
    map-side bounded) followed by a map-side-partial MIN-struct
    aggregate keyed by id; the pair join shuffles once on the fine
    cluster id. No all-pairs anywhere.

    Output per vector: (id_col, cluster_id, n_sem_dups,
    is_semantic_dup) — same contract as `semantic_dedup`."""
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    coarse = base.filter(coarse_pred).select(
        F.col(id_col).alias("ccid"), F.col(vec_col).alias("ccv")
    )
    if fine_centroids is not None:
        fine = fine_centroids.select("fid", "fv")
    else:
        fine = base.filter(fine_pred).select(
            F.col(id_col).alias("fid"), F.col(vec_col).alias("fv")
        )
    dim_e = dim if dim is not None else dl.size("v", dl.SPARK)

    def nearest_coarse(
        df: DataFrame, vcol: str, keep: list, carry_v: bool = False
    ) -> DataFrame:
        """r13: with carry_v the argmin struct carries the row's vector
        behind the (d2, ccid) prefix — ccid is unique per centroid, so
        the comparison never reaches v and the winner is unchanged;
        the corpus-sized re-join that previously re-attached v to the
        cell assignment disappears (guide §2.4)."""
        d2 = F.expr(
            dl.dist2_double(vcol, "ccv", dim_e, dl.SPARK)
        ).alias("d2")
        fields = [F.col("d2"), F.col("ccid")] + (
            [F.col(vcol)] if carry_v else []
        )
        # keep must not repeat vcol or the groupBy(*keep) below turns
        # ambiguous (r13 ADVICE); every current caller passes id-only.
        assert vcol not in keep, "keep list must exclude vcol"
        out = (
            df.crossJoin(F.broadcast(coarse))
            .select(*keep, vcol, "ccid", d2)
            .groupBy(*keep)
            .agg(F.min(F.struct(*fields)).alias("m"))
        )
        cols = [*keep, F.col("m.ccid").alias("cell")] + (
            [F.col(f"m.{vcol}").alias(vcol)] if carry_v else []
        )
        return out.select(*cols)
    # fine centroid -> coarse cell (k rows, broadcastable)
    fine_cells = nearest_coarse(
        fine.select(F.col("fid").alias("id"), F.col("fv").alias("v")),
        "v",
        ["id"],
    ).select(F.col("id").alias("fid"), "cell")
    fine_in_cell = F.broadcast(
        fine.join(fine_cells, "fid").select("fid", "fv", "cell")
    )
    vec_cells = nearest_coarse(vecs, "v", ["id"], carry_v=True)
    d2f = F.expr(dl.dist2_double("v", "fv", dim_e, dl.SPARK)).alias("d2")
    matched = (
        vec_cells.join(fine_in_cell, "cell")
        .select("id", "fid", d2f)
        .groupBy("id")
        .agg(F.min(F.struct(F.col("d2"), F.col("fid"))).alias("m"))
        .select("id", F.col("m.fid").alias("fine_id"))
    )
    # A coarse cell can hold zero fine centroids (tiny samples);
    # vectors there keep -(cell+1) as their cluster label — negative,
    # so it can never collide with a fine centroid's vec_id even when
    # the two sample predicates overlap at large derived k.
    assigned = (
        vec_cells.select("id", "cell", "v")
        .join(matched, "id", "left")
        .select(
            "id",
            F.coalesce(
                "fine_id", -(F.col("cell") + F.lit(1))
            ).cast("long").alias("cluster_id"),
            "v",
        )
    )
    return _prune_within_clusters(assigned, threshold, id_col, dim)


def pq_subdist_expr(
    a: str, b: str, sub: int, sub_dim: int, scale_bits: int, d: str
) -> str:
    """Integer-exact squared distance over subspace `sub` (0-based):
    coordinates quantize to floor(x*2^scale_bits + 0.5) BIGINT, the
    distance is a sum of squared integer differences — associative and
    bit-identical on both engines. sub_dim=8 at scale_bits=15 keeps each
    term < 2^32 and the sum < 2^36."""
    s = 1 << scale_bits

    def q(arr: str, j: int) -> str:
        return (
            f"CAST(floor(CAST({dl.elem(arr, str(j), d)} AS DOUBLE)"
            f" * {s}.0 + 0.5) AS BIGINT)"
        )

    terms = []
    for j in range(sub * sub_dim + 1, (sub + 1) * sub_dim + 1):
        diff = f"({q(a, j)} - {q(b, j)})"
        terms.append(f"({diff} * {diff})")
    return "(" + " + ".join(terms) + ")"


def pq_encode(
    base: DataFrame,
    codebook_pred,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 15,
) -> DataFrame:
    """(codebook size K must be <= 8: indices pack 3 bits per subspace.)

    Product-quantization encode: split each vector into `m` subspaces,
    assign each sub-vector to its nearest codeword, and pack the `m`
    codeword indices into one BIGINT code — the compression step that
    makes a 100 TB vector corpus storable/searchable (a 64-dim float
    vector becomes one 3m-bit integer at K=8).

    Codebook rows are deterministic sample vectors out of `base`
    (`codebook_pred`), the same bootstrap as IVF's centroids
    (similarity.py ivf_topk): Lloyd-trained codebooks are `kmeans_fixed`'s
    job and can be fed in by materializing its output. Codeword index =
    rank of the codeword row's id (stable across engines).

    Shape (100 TB): codewords broadcast (K rows); each vector meets all K
    in-partition and the per-subspace argmin is a `min(struct(dist, idx))`
    hash aggregate — it partial-aggregates map-side, so the single shuffle
    carries one tiny row per vector, never the n*K expansion (contrast the
    window-based argmin in ivf_topk, which is per-query work there).
    Distances are integer-exact (see `pq_subdist_expr`), so the code and
    reconstruction error are oracle-bit-exact.

    Output: (id_col, pq_code, recon_err) — recon_err is the sum of the m
    squared quantized sub-distances to the chosen codewords (the encode
    residual, scaled by 2^(2*scale_bits)).
    """
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing "
            f"{dim % m} coordinates would be silently dropped from "
            "every sub-distance (honest-boundary policy: fail loudly)"
        )
    sub_dim = dim // m
    wc = Window.orderBy("cid")
    cents = (
        base.filter(codebook_pred)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cidx", F.row_number().over(wc).cast("long") - 1)
    )
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ds = [
        F.expr(
            pq_subdist_expr("v", "cv", s, sub_dim, scale_bits, dl.SPARK)
        ).alias(f"d{s}")
        for s in range(m)
    ]
    scored = vecs.crossJoin(F.broadcast(cents)).select("id", "cidx", *ds)
    mins = scored.groupBy("id").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cidx").alias("c"))).alias(f"m{s}")
            for s in range(m)
        ]
    )
    code = None
    err = None
    for s in range(m):
        c = F.col(f"m{s}.c") * F.lit(1 << (3 * s)).cast("long")
        code = c if code is None else code + c
        e = F.col(f"m{s}.d")
        err = e if err is None else err + e
    return mins.select(
        F.col("id").alias(id_col),
        code.cast("long").alias("pq_code"),
        err.cast("long").alias("recon_err"),
    )


# Fixed-point scale for the Gram accumulation: products of two
# 15-bit-scaled coordinates stay ~2^30 per term, so the int64 cell sum
# holds ~8.6e9 unit-scale vectors before overflow (same envelope as the
# k-means sums; swap LONG for DECIMAL(38,0) beyond that — still exact).
GRAM_SCALE_BITS = 15


def centroid_outliers(
    base: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    ratio_num: int = 3,
    ratio_den: int = 2,
) -> DataFrame:
    """Embedding-quality gate: squared L2 distance of every vector to the
    corpus mean vector, flagged `outlier` when above (ratio_num/ratio_den)
    x the corpus-average distance — the cheap screen for corrupt /
    out-of-distribution embeddings before they poison ANN indexes or
    semantic dedup.

    Determinism discipline (the kmeans_fixed pattern): the mean vector is
    per-dimension scaled-long sums (partition-order independent), the
    per-row distance is the fixed-association double fold, and the
    corpus-average distance is an integer mean over micro-unit distances
    — the outlier comparison cross-multiplies integers, so both engines
    agree bit-for-bit with zero float aggregation across rows.

    Scale: one posexplode agg keyed by dimension (d groups — constant),
    the d-element mean vector and the 1-row distance stats are broadcast,
    the flagging pass is map-only. The base table never shuffles.

    Overflow bound (the dim_stats convention): the cross-multiplied
    comparison `dist2_micro * ratio_den * n2 > ratio_num * s2` is
    int64-exact while `max(dist2_micro) * ratio_den * n2 < 9.2e18` (the
    RHS is the same magnitude: s2 <= n2 * max(dist2_micro)). For an
    l2-normalized corpus dist2 <= 4 so dist2_micro <= 4e6, and at the
    default 3/2 ratio the bound holds to n2 ~ 1.1e12 vectors — beyond
    any single-corpus embedding table. UN-normalized corpora with large
    coordinates (dist2_micro ~1e9) hit the edge near n2 ~ 3e9·ratio_den⁻¹:
    route them through `l2_normalize` first, or swap the flag expression
    to compare against the integer-divided mean
    (`dist2_micro * ratio_den > ratio_num * (s2 DIV n2)` — one quantum
    of floor error at the boundary, no overflow).
    """
    if ratio_num < 1 or ratio_den < 1:
        raise ValueError(
            f"ratio must be positive, got {ratio_num}/{ratio_den}"
        )
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim_e = dim if dim is not None else dl.size("v", dl.SPARK)
    mean_vec = (
        vecs.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.expr(scaled_long_expr("x"))).alias("s"),
            F.count("*").alias("n"),
        )
        .select("pos", F.expr(mean_expr("s", "n")).alias("m"))
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))),"
                " p -> p.m)"
            ).alias("mv")
        )
    )
    d2 = dl.dist2_double("v", "mv", dim_e, dl.SPARK)
    dist = vecs.crossJoin(F.broadcast(mean_vec)).select(
        "id",
        F.expr(
            f"CAST(floor(({d2}) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("dist2_micro"),
    )
    stats = dist.groupBy().agg(
        F.sum("dist2_micro").alias("s2"), F.count("*").alias("n2")
    )
    return (
        dist.crossJoin(F.broadcast(stats))
        .select(
            F.col("id").alias(id_col),
            "dist2_micro",
            (
                F.col("dist2_micro") * F.lit(ratio_den) * F.col("n2")
                > F.lit(ratio_num) * F.col("s2")
            ).alias("outlier"),
        )
        .orderBy(id_col)
    )


def dim_stats(
    base: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dead_var_micro: int = 10,
) -> DataFrame:
    """Per-dimension corpus statistics: count, mean and variance of each
    embedding coordinate (integer micro-units) plus a `dead_dim` flag
    for near-zero-variance dimensions — the standard diagnostic for
    embedding collapse / dead units before ANN indexing or PQ training
    (a dead subspace wastes codebook bits and distorts distances).

    Determinism: coordinates and their squares are summed as scaled
    longs (partition-order independent, the kmeans discipline); mean
    and E[x²]-mean² are then fixed-sequence double expressions over
    those exact integers, floored to micro-units — bit-identical on
    both engines.

    Scale: ONE posexplode aggregation keyed by dimension index (d
    groups, constant state via map-side partial aggregation); output is
    d rows regardless of corpus size. No joins, one shuffle of partial
    sums. The scaled-long sums hold ~9e9 unit-scale coordinates per
    dimension before int64 overflow (the module-level kmeans bound);
    past that, swap the LONG for DECIMAL(38,0) — still exact."""
    mean = f"((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / {MEAN_SCALE})"
    ex2 = f"((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) / {MEAN_SCALE})"
    var = f"({ex2} - ({mean} * {mean}))"
    return (
        base.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.expr(scaled_long_expr("x"))).alias("s1"),
            F.sum(
                F.expr(
                    scaled_long_expr("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")
                )
            ).alias("s2"),
        )
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n",
            F.expr(
                f"CAST(floor(({mean}) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("mean_micro"),
            F.expr(
                f"CAST(floor(({var}) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("var_micro"),
            F.expr(
                f"CAST(floor(({var}) * 1000000.0 + 0.5) AS BIGINT)"
                f" < {dead_var_micro}"
            ).alias("dead_dim"),
        )
        .orderBy("pos")
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = GRAM_SCALE_BITS,
) -> DataFrame:
    """Upper-triangle second-moment (Gram) matrix of an embedding column —
    the accumulation step of PCA/whitening over a training corpus
    (covariance = gram/N minus the mean outer product; the d x d eigen
    solve on the driver is fixed-size work, never data-size work).

    Exactness: coordinates quantize to floor(x * 2^scale_bits + 0.5) as
    LONG per row (one deterministic IEEE multiply+floor on both engines),
    and every cross-partition aggregate is an INTEGER sum — associative,
    partitioning-independent, oracle-bit-exact. Same discipline as the
    k-means centroid sums above.

    Shape (100 TB): one scan; each row explodes to its dim*(dim+1)/2
    upper-triangle terms which partial-aggregate map-side into at most
    2080 (d=64) cells per partition BEFORE the single tiny shuffle —
    shuffle volume is partitions x cells, independent of corpus size.
    Output: (dim_i, dim_j, gram, n_vectors) with gram scaled by
    2^(2*scale_bits).
    """
    s = 1 << scale_bits
    q = (
        f"transform({vec_col}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {s}.0 + 0.5) AS BIGINT))"
    )
    ex = (
        df.select(F.expr(q).alias("q"))
        .select("q", F.explode(F.expr(f"sequence(1, {dim})")).alias("i"))
        .select(
            "i",
            F.explode(F.expr(f"sequence(i, {dim})")).alias("j"),
            F.expr("element_at(q, i)").alias("qi"),
            "q",
        )
        .select("i", "j", (F.col("qi") * F.expr("element_at(q, j)")).alias("v"))
    )
    return (
        ex.groupBy("i", "j")
        .agg(
            F.sum("v").cast("bigint").alias("gram"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            "gram",
            "n_vectors",
        )
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = 8,
) -> tuple[DataFrame, "object"]:
    """PCA projection of an embedding corpus to `k` components.

    Returns (projected DataFrame with (id, proj array<double>), numpy
    (eigenvalues desc, eigenvectors [k x dim])).

    Distribution contract: the DATA-SIZE work is two exact integer
    aggregations — per-dim scaled sums (mean) and the `gram_matrix`
    upper triangle — both map-side partial-aggregated to fixed-size
    results; only d + d(d+1)/2 scalars ever reach the driver, where the
    d x d symmetric eigen solve is O(d^3) FIXED-size work (numpy eigh).
    The projection back over the corpus is a broadcast of k tiny
    eigenvector literals into a codegen multiply-add chain — map-only,
    no Python in the row path. Eigenvector sign is fixed (largest-|c|
    component made positive) so the output is deterministic.

    Not oracle-expressible (eigen solves aren't SQL) — covered by unit
    tests against numpy's full PCA instead; NOT part of `queries()`,
    which stays 100% oracle-checked.
    """
    import numpy as np

    s = 1 << GRAM_SCALE_BITS
    sums = df.select(
        F.explode(F.expr(f"sequence(1, {dim})")).alias("i"),
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {s}.0"
            " + 0.5) AS BIGINT))"
        ).alias("q"),
    ).select("i", F.expr("element_at(q, i)").alias("v"))
    mrows = (
        sums.groupBy("i")
        .agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
        .collect()
    )
    n = mrows[0]["n"]
    mu = np.zeros(dim)
    for r in mrows:
        mu[r["i"] - 1] = r["sv"] / s / n
    grows = gram_matrix(df, vec_col, dim).collect()
    G = np.zeros((dim, dim))
    for r in grows:
        v = r["gram"] / (s * s)
        G[r["dim_i"] - 1, r["dim_j"] - 1] = v
        G[r["dim_j"] - 1, r["dim_i"] - 1] = v
    cov = G / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    evals, evecs = evals[order], evecs[:, order]  # [dim, k]
    # Deterministic sign: largest-|component| coordinate positive.
    for c in range(k):
        j = int(np.abs(evecs[:, c]).argmax())
        if evecs[j, c] < 0:
            evecs[:, c] = -evecs[:, c]
    comps = []
    for c in range(k):
        terms = " + ".join(
            f"((CAST(element_at({vec_col}, {i + 1}) AS DOUBLE) - "
            f"CAST({mu[i]!r} AS DOUBLE)) * CAST({evecs[i, c]!r} AS DOUBLE))"
            for i in range(dim)
        )
        comps.append(f"({terms})")
    proj = df.select(
        F.col(id_col).alias("id"),
        F.expr("array(" + ", ".join(comps) + ")").alias("proj"),
    )
    return proj, (evals, evecs.T)


# --- cluster-balanced sampling (round-7) --------------------------------------

CBAL_CAP = 40  # target docs kept per cluster
CBAL_SALT = ":cbal"  # hash salt: independent of the split/sample gates


def cluster_balanced_sample(
    base: DataFrame,
    init_pred,
    cap: int = CBAL_CAP,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced corpus selection: k-means the embeddings
    (`kmeans_fixed` — deterministic, oracle-exact), then downsample each
    cluster to ~`cap` members so over-represented semantic regions stop
    dominating the training mix (the flattened-cluster selection pattern
    of SemDeDup-style pipelines; complements `temperature_weights`,
    which balances by SOURCE rather than by semantic cluster).

    Per-cluster keep rate = min(1e6, cap·1e6 // n_k) ppm, applied as the
    deterministic hash gate hash60(id || salt) % 1e6 < rate — the
    coordination-free sampler discipline of `sample_gate_expr` (same
    row kept on every run/engine/executor count), salted so the gate is
    independent of the split/sample hashes of the same id. Expected
    kept per cluster = cap (exact-k per cluster would need a per-cluster
    rank — the window-skew trap quality_threshold_gate exists to avoid).

    Scale: the kmeans chain (broadcast centroids, d-keyed mean agg), ONE
    bounded per-cluster count (k rows), broadcast back, map-only gate.
    No per-cluster sort, no corpus-sized shuffle beyond the assignment's
    own.

    Output: (id_col, cluster_id, n_cluster, rate_ppm, keep).
    """
    assign = kmeans_fixed(
        base, init_pred, iters=iters, vec_col=vec_col, id_col=id_col
    ).select(F.col(id_col).alias("id"), "cluster_id")
    counts = assign.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_cluster")
    )
    rate = f"least(1000000, ({cap} * 1000000) DIV n_cluster)"
    gate = (
        dl.hash60(f"(CAST(id AS STRING) || '{CBAL_SALT}')", dl.SPARK)
        + " % 1000000"
    )
    return (
        assign.join(F.broadcast(counts), "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "n_cluster",
            F.expr(rate).cast("long").alias("rate_ppm"),
            F.expr(f"({gate}) < {rate}").alias("keep"),
        )
        .orderBy(id_col)
    )


# --- Johnson-Lindenstrauss sign projection (round-7) --------------------------

JL_OUT_DIM = 8
JL_SALT = "jl"


def jl_signs(in_dim: int, out_dim: int = JL_OUT_DIM) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(i, j) from the parity of
    md5('jl:j:i') — a fixed, engine-independent pseudo-random matrix
    computed at PLAN-BUILD time (pure Python, no SQL hash), so the Spark
    expression and the DuckDB oracle embed the very same literals."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{JL_SALT}:{j}:{i}".encode()).hexdigest(), 16
            )
            & 1
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_sum_expr(vec: str, row: list[int], d: str) -> str:
    """One projection coordinate as a literal-sign left-assoc chain:
    (±x1 ± x2 ± ...) — fixed association, bit-identical across engines,
    plain enough to stay inside whole-stage codegen."""
    terms = []
    for i, s in enumerate(row):
        e = f"CAST({dl.elem(vec, str(i + 1), d)} AS DOUBLE)"
        terms.append(e if s > 0 else f"(- {e})")
    return "(" + " + ".join(terms) + ")"


def jl_project(
    base: DataFrame,
    in_dim: int,
    out_dim: int = JL_OUT_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: d-dim embeddings
    down to `out_dim` coordinates y_j = Σ_i s_ij·x_i / √out_dim with the
    deterministic ±1 matrix of `jl_signs` — the cheap dimensionality
    reduction in front of clustering/LSH/dedup when d is large (pairwise
    distances preserved within (1±ε) whp; the SimHash planes of
    `lsh_bucket` are this projection's 1-bit quantization).

    Output is `out_dim` SCALAR micro-quantized BIGINT columns p0..p{m-1}
    (the gate surface is scalar-only by contract) — downstream operators
    that want an array re-assemble it with array(p0, ...).

    Scale: map-only, zero shuffles, one pass; the chain expressions are
    plain arithmetic inside whole-stage codegen (no interpreted
    higher-order lambdas on the hot path).
    """
    signs = jl_signs(in_dim, out_dim)
    scale = f"sqrt(CAST({out_dim} AS DOUBLE))"
    cols = [
        F.expr(
            f"CAST(floor((({jl_sum_expr('v', row, dl.SPARK)}) / {scale})"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias(f"p{j}")
        for j, row in enumerate(signs)
    ]
    return (
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select(F.col("id").alias(id_col), *cols)
        .orderBy(id_col)
    )


# --- dominant principal direction (round-8) ------------------------------------

POWER_ROUNDS = 4
POWER_SCALE = 1024  # 2^10 renormalization target for the iterate


def top_direction(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    rounds: int = POWER_ROUNDS,
) -> DataFrame:
    """Dominant principal direction of the embedding second-moment
    matrix by POWER ITERATION — the spectral step behind
    "all-but-the-top" embedding postprocessing (Mu & Viswanath 2018:
    removing the top direction(s) de-hubs embedding spaces) and the
    sanity probe for anisotropy. v_{t+1} = G v_t, renormalized each
    round to max|component| = POWER_SCALE by INTEGER division —
    infinity-norm normalization converges to the same dominant
    eigenvector as the L2 form (the iterate differs by a scalar) while
    staying libm-free and engine-exact; G is PSD, so with the all-ones
    start the orientation is stable and deterministic.

    Integer envelope: |G| cells inherit `gram_matrix`'s ~8.6e9-vector
    bound; each matvec term is G[i,k] * v[k] <= |G| * 2^10 summed over
    d=64, safe while |G| < 1.4e14 (~1.3e5 unit-scale vectors at 2^30
    cell scale — the corpus Gram at production scale divides by N
    first, same envelope discipline as centroid_outliers). The
    renormalizer divides by max(m DIV POWER_SCALE, 1) instead of
    multiplying the iterate up, so no intermediate exceeds the matvec
    bound.

    Shape (100 TB): ONE corpus pass (gram_matrix's map-side partial
    2080-cell aggregate); the d x d matrix is lineage-truncated and
    every round is a broadcast d-row join + d-group aggregate — fixed
    size work, independent of corpus size.

    Output: (dim_idx, comp, gnorm) — comp in [-POWER_SCALE,
    POWER_SCALE], gnorm the final pre-normalization max |G v| (the
    dominant-eigenvalue proxy, identical on every row)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    g = gram_matrix(df, vec_col, dim).select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "gram"
    )
    # d*d rows; truncating here keeps the per-round 1-row aggregates
    # from re-executing the corpus Gram pass (the doremi_weights
    # discipline).
    full = spill_to_parquet(
        g.unionByName(
            g.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "gram"
            )
        ),
        label="gram",
    )
    v = full.select(F.col("i").alias("k")).distinct().select(
        "k", F.lit(POWER_SCALE).cast("long").alias("v")
    )
    # r14 (guide §2.4, the doremi_weights discipline): the per-round
    # frame-wide scalar m used to be a 1-row aggregate consumed through
    # crossJoin(broadcast(m)) — one serialized BroadcastExchange JOB per
    # round (and a second per-round broadcast for the final attach). An
    # unpartitioned window MAX over the d-row iterate computes the same
    # value inside the frame, so each round now pays exactly one
    # broadcast (the iterate v itself, d rows, needed by the matvec
    # join); the executed plan dropped 77 -> ~13 BroadcastExchange and
    # the job count collapsed with it. `m` rides along in v and the
    # final round's value is gnorm — identical integers throughout.
    w_all = Window.partitionBy()
    for _ in range(rounds):
        u = (
            full.join(F.broadcast(v), full["j"] == v["k"])
            .groupBy("i")
            .agg(F.sum(F.col("gram") * F.col("v")).cast("long").alias("u"))
        )
        v = u.withColumn(
            "m", F.max(F.abs(F.col("u"))).over(w_all).cast("long")
        ).select(
            F.col("i").alias("k"),
            F.expr(
                f"CAST(u DIV greatest(m DIV {POWER_SCALE},"
                f" CAST(1 AS BIGINT)) AS BIGINT)"
            ).alias("v"),
            "m",
        )
    return v.select(
        F.col("k").alias("dim_idx"),
        F.col("v").alias("comp"),
        F.col("m").alias("gnorm"),
    ).orderBy("dim_idx")
