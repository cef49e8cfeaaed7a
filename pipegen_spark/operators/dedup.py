"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB discipline):
- Signatures (minhash / simhash / fingerprints) are computed *per row* with
  array expressions — map-only, no shuffle, no Python.
- Candidate generation shuffles only (band_key → doc_id) pairs, never
  documents: LSH banding keeps the self-join linear in corpus size instead
  of quadratic.
- Verification joins shingle-set arrays back by doc_id (hash-partitioned
  equi-join) and computes exact Jaccard per candidate pair.
- Exact dedup is a keep-first window over the content hash; at scale the
  hash-partitioned shuffle is the minimum possible data movement (only
  [hash, id] pairs if you project first).

All expressions come from functions/dialect.py so the DuckDB oracle renders
the identical computation (see queries/training_oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators.graph import cc_star_labels

# --- minhash configuration (shared with the oracle) -------------------------
N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
# Deterministic linear-permutation coefficients mod M31.
PERM_A = tuple(2 * p + 1 for p in range(N_PERMS))
PERM_B = tuple((7919 * (p + 1)) % dl.M31 for p in range(N_PERMS))

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


# --- exact dedup -------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep-first exact dedup: content hash + row_number, `is_dup` marks
    every copy after the lowest id. Reference analogue: the generated
    `is_duplicate` flag column (internal/llm/service.go:1064)."""
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", F.md5(F.col(content_col)))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_dup", F.col("rn") > 1)
        .drop("rn")
    )


def prefix_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
) -> DataFrame:
    """Boilerplate/prefix dedup: flag documents sharing the same first-k-
    token fingerprint (the standard cheap pass for template headers and
    mirrored pages before fuzzy dedup). Keep-first semantics like
    exact_dedup; also emits the prefix-group size. Map-only expression +
    one hash-partitioned window on the prefix hash."""
    toks = dl.words(text_col, dl.SPARK)
    prefix = dl.arr_join(dl.slice_(toks, 1, k, dl.SPARK), " ", dl.SPARK)
    w = Window.partitionBy("prefix_hash").orderBy(id_col)
    wn = Window.partitionBy("prefix_hash")
    return (
        df.withColumn("prefix_hash", F.expr(f"md5({prefix})"))
        .withColumn(
            "is_prefix_dup", F.row_number().over(w) > 1
        )
        .withColumn(
            "n_same_prefix", F.count("*").over(wn).cast("long")
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_k: int = 12,
) -> DataFrame:
    """Cross-corpus (incremental) dedup: flag new-batch documents already
    present in an existing reference corpus, exactly (content hash) or by
    first-`prefix_k`-token fingerprint (boilerplate/template match) — the
    standard admission check for a continuously-ingesting pipeline, where
    re-deduplicating the whole corpus per batch is off the table.

    Shape (100 TB): the reference corpus is reduced map-side to DISTINCT
    16-byte hashes before anything shuffles, so the two semi-joins move
    hash sets, not text; each is a plain equi-join that Spark resolves as
    broadcast (small reference) or shuffled hash join (large reference) —
    never a scan of reference text per new document. Returns every new
    row's id + content_hash, ref_exact_dup, ref_prefix_dup.
    """
    toks = dl.words(text_col, dl.SPARK)
    prefix = dl.arr_join(dl.slice_(toks, 1, prefix_k, dl.SPARK), " ", dl.SPARK)

    def _hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col)).alias("content_hash"),
            F.expr(f"md5({prefix})").alias("prefix_hash"),
        )

    new_h = _hashed(new_df)
    ref_exact = (
        _hashed(ref_df).select("content_hash").distinct()
        .withColumn("_ex", F.lit(1))
    )
    ref_prefix = (
        _hashed(ref_df).select("prefix_hash").distinct()
        .withColumn("_pr", F.lit(1))
    )
    return (
        new_h.join(ref_exact, "content_hash", "left")
        .join(ref_prefix, "prefix_hash", "left")
        .select(
            F.col("id").alias(id_col),
            "content_hash",
            F.col("_ex").isNotNull().alias("ref_exact_dup"),
            F.col("_pr").isNotNull().alias("ref_prefix_dup"),
        )
    )


# --- shingling ---------------------------------------------------------------


def shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    extra_cols: tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """k-word shingles in ROW form: (id, [extra...], s), distinct by default.

    The token array is projected ONCE below the posexplode — a Generate is
    an optimization barrier, so CollapseProject cannot re-inline the
    tokenizer into per-element accesses (the measured O(len^2) trap) — and
    shingles are assembled with `element_at(toks, pos+j)` on the exploded
    rows. Everything before the terminal agg is map-only whole-stage
    codegen: no window sort, no shuffle. The previous lead()-window shape
    cost a full shuffle+sort on (id, pos) for the same output.

    `distinct=False` skips the dedup shuffle for consumers whose downstream
    aggregate is already duplicate-insensitive (collect_set, MIN).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        F.expr(dl.words(text_col, dl.SPARK)).alias("_toks"),
    )
    tok = base.select(
        "id", *extra_cols, "_toks",
        F.posexplode("_toks").alias("pos", "wd"),
    )
    if k == 1:
        out = tok.select("id", *extra_cols, F.col("wd").alias("s"))
    else:
        # pos is 0-based; keep rows with a full k-window, THEN index (ANSI
        # element_at raises on out-of-bounds, so the filter must precede).
        parts = [F.col("wd")] + [
            F.element_at("_toks", F.col("pos") + F.lit(j + 1))
            for j in range(1, k)
        ]
        out = (
            tok.filter(F.col("pos") + k <= F.size("_toks"))
            .select("id", *extra_cols, F.concat_ws(" ", *parts).alias("s"))
        )
    return out.distinct() if distinct else out


def shingle_df(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, sh: array<string>) with the sorted distinct k-shingle set per
    doc (docs with no shingles are absent). collect_set dedups, so the row
    feed skips its own distinct — one shuffle total."""
    return (
        shingle_rows(df, text_col, id_col, k, distinct=False)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("s")).alias("sh"))
    )


def _jaccard_col() -> F.Column:
    inter = F.expr(dl.intersect_size("sa", "sb", dl.SPARK))
    union = F.expr(dl.union_size("sa", "sb", dl.SPARK))
    return (inter.cast("double") / union.cast("double")).alias("jac")


def _containment_col() -> F.Column:
    """Broder containment |A∩B| / min(|A|,|B|): detects SUBSET duplication
    (one doc embedded in a larger one) that symmetric Jaccard dilutes —
    a 100-shingle doc fully contained in a 1000-shingle doc has jac 0.1
    but containment 1.0. One int division per pair — engine-exact."""
    inter = F.expr(dl.intersect_size("sa", "sb", dl.SPARK))
    mn = F.least(
        F.expr(dl.size("sa", dl.SPARK)), F.expr(dl.size("sb", dl.SPARK))
    )
    return (inter.cast("double") / mn.cast("double")).alias("containment")


# --- minhash + LSH -----------------------------------------------------------


def _minhash_aggs() -> list[F.Column]:
    """The 16 minhash MIN aggregates over a per-row `h` = hash_m31(shingle).

    MIN is duplicate-insensitive, so these run directly over the (possibly
    non-distinct) shingle row feed; empty groups never occur (docs with no
    shingles emit no rows), the coalesce sentinel is belt-and-braces for
    explode_outer feeds. Map-side partial aggregation makes each MIN a
    running register per doc — no extra shuffle beyond the groupBy."""
    return [
        F.coalesce(
            F.min((F.lit(PERM_A[p]) * F.col("h") + F.lit(PERM_B[p])) % dl.M31),
            F.lit(dl.M31),
        )
        .cast("long")
        .alias(f"mh{p}")
        for p in range(N_PERMS)
    ]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Append mh0..mhN minhash columns to a (id, sh) shingle-set frame.

    Semantically identical to the per-row array fold the oracle renders
    (min over (a*h+b) mod M31; empty shingle set → M31 sentinel), but
    expressed as explode → 16 conditional MINs so the whole pipeline stays
    inside whole-stage codegen — Catalyst's higher-order array lambdas are
    interpreted and ~10x slower at corpus scale. One shuffle on doc id.
    (The fused path in minhash_lsh_pairs computes the same MINs inside the
    shingle aggregation itself; this standalone form serves pre-built
    shingle-set frames.)
    """
    ex = sh.select(
        "id", F.explode_outer("sh").alias("s")
    ).select("id", F.expr(dl.hash_m31("s", dl.SPARK)).alias("h"))
    sigs = ex.groupBy("id").agg(*_minhash_aggs())
    return sh.join(sigs, "id")


def _band_key(b: int, d: str) -> str:
    """md5 over the band's signature slice (comma-joined)."""
    parts = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    if d == dl.SPARK:
        joined = "concat_ws(',', " + ", ".join(
            f"CAST({p} AS STRING)" for p in parts
        ) + ")"
    else:
        joined = " || ',' || ".join(f"CAST({p} AS VARCHAR)" for p in parts)
    return f"md5({joined})"


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    threshold: float = 0.8,
    collapse_identical: bool = True,
    measure: str = "jaccard",
) -> DataFrame:
    """Near-duplicate pairs via minhash banding + exact verification.

    Returns (doc_a, doc_b, jac) with doc_a < doc_b and jac >= threshold.
    With measure="containment" the verified column/filter is Broder
    containment |A∩B|/min(|A|,|B|) instead (column `containment`) —
    subset-duplication detection over the same LSH candidates. Candidate
    RECALL is still Jaccard-band-driven either way: a tiny doc buried in
    a huge one may not band-collide; for guaranteed containment recall,
    band on the smaller side's shingles (documented trade-off).

    With `collapse_identical` (default), documents with IDENTICAL shingle
    sets are first collapsed to their min-id representative (exact-set
    dedup), and LSH runs over distinct sets only — the standard two-stage
    pipeline. This bounds LSH buckets: without it, a corpus with heavy
    exact duplication puts whole duplicate classes into one bucket and the
    candidate join goes quadratic (measured: 11.8M candidate pairs from
    5000 docs on the synthetic corpus). Band keys depend only on the
    shingle set, so the set-level candidate predicate is exactly the
    doc-level one.

    Shuffle profile: one groupBy(id) computes shingle set AND all 16
    minhash registers together (tokenize → explode → hash-agg, all
    codegen); explode to N_BANDS rows/set of (band, key, id); join on
    (band, key); verify joins sh arrays by id. Linear in corpus size.
    """
    rows = shingle_rows(df, text_col, id_col, k, distinct=False).select(
        "id", "s", F.expr(dl.hash_m31("s", dl.SPARK)).alias("h")
    )
    sh = rows.groupBy("id").agg(
        F.sort_array(F.collect_set("s")).alias("sh"), *_minhash_aggs()
    )
    if collapse_identical:
        # Signatures are a pure function of the shingle set, so computing
        # them pre-collapse is safe: identical sets carry identical mh*.
        skey = F.md5(F.array_join("sh", ","))
        sh = (
            sh.groupBy(skey.alias("skey"))
            .agg(
                F.min("id").alias("id"),
                F.first("sh").alias("sh"),
                *[F.first(f"mh{p}").alias(f"mh{p}") for p in range(N_PERMS)],
            )
            .select("id", "sh", *[f"mh{p}" for p in range(N_PERMS)])
        )
    sig = sh
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(_band_key(b, dl.SPARK)).alias("bkey"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("ida"), F.col("sh").alias("sa"))
    sb = sh.select(F.col("id").alias("idb"), F.col("sh").alias("sb"))
    return (
        cand.join(sa, "ida")
        .join(sb, "idb")
        .select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            _containment_col() if measure == "containment" else _jaccard_col(),
        )
        .filter(
            F.col(
                "containment" if measure == "containment" else "jac"
            )
            >= threshold
        )
        .orderBy("doc_a", "doc_b")
    )


# --- duplicate clustering (connected components) -----------------------------


def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 12,
) -> DataFrame:
    """Group near-duplicate PAIRS into clusters: every node gets
    cluster_id = min node id of its connected component (singletons map to
    themselves), plus the component size.

    The component labels come from alternating large-star/small-star
    contraction over the edge set only (operators/graph.cc_star_labels):
    O(log n) rounds on any topology, and a RuntimeError rather than
    unconverged labels when `max_rounds` is not enough. The full node set
    joins back in once at the end.
    """
    labels = cc_star_labels(pairs, "doc_a", "doc_b", max_rounds)
    return _finish_clusters(nodes, labels, id_col)


def _finish_clusters(
    nodes: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """Shared cluster finisher: join the (id, lbl) edge-node labels back
    onto the full node set (singletons label themselves) and attach the
    component size.

    Component size as a count-over-window: ONE shuffle on lbl, and the
    corpus⋈labels join runs once — the previous groupBy+join-back shape
    planned that join twice (once under the agg, once as the join left
    side). Near-dup components are small, so no window-partition skew;
    singletons are their own 1-row partitions.
    """
    full = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("lbl"), F.col("id").cast("long")).alias("lbl"),
        )
    )
    wsz = Window.partitionBy("lbl")
    return full.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        F.count("*").over(wsz).cast("long").alias("cluster_size"),
    )


def keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Canonical-representative selection: of each near-dup cluster keep
    the highest-scoring document (id as the deterministic tiebreak) — the
    decision step that turns cluster labels into a drop list.

    One window over cluster_id: clusters are small by construction
    (near-dup groups), so no partition skew; singletons keep themselves.
    The score must be computed identically on both engines for the
    ranking to agree (quality_score is — see operators/text.py).
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return clusters.join(scores, id_col).select(
        id_col,
        "cluster_id",
        "cluster_size",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


# --- simhash -----------------------------------------------------------------


def simhash_expr(text_col: str, d: str) -> str:
    """60-bit simhash of the token multiset as one arithmetic expression.

    bit_j = 1 iff sum over tokens of (2*bit_j(hash60(token)) - 1) > 0.
    Rendered as a sum of shifted CASE terms — heavy codegen but map-only.
    """
    w = dl.words(text_col, d)
    hashed = dl.transform(w, f"t -> {dl.hash60('t', d)}", d)
    terms = []
    for j in range(SIMHASH_BITS):
        bitsum = dl.fold(
            hashed,
            "CAST(0 AS BIGINT)",
            f"(acc,x) -> acc + (({dl.shr('x', str(j), d)} & 1) * 2 - 1)",
            d,
        )
        terms.append(
            f"(CASE WHEN ({bitsum}) > 0 THEN {dl.shl('CAST(1 AS BIGINT)', j, d)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) via explode + 60 conditional SUMs (codegen path).

    Bit-for-bit identical to `simhash_expr` (which the oracle uses): each
    bit j is sign(sum over token multiset of (2*bit_j(hash60(t)) - 1));
    docs with no tokens get simhash 0 (empty fold == sum of nothing).
    """
    w = dl.words(text_col, dl.SPARK)
    ex = df.select(
        F.col(id_col).alias("id"), F.explode_outer(F.expr(w)).alias("t")
    ).select("id", F.expr(dl.hash60("t", dl.SPARK)).alias("h"))
    bit_sums = [
        F.sum(
            F.when(
                F.col("h").isNotNull(),
                (F.shiftright("h", j) % 2) * 2 - 1,
            ).otherwise(0)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = ex.groupBy("id").agg(*bit_sums)
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("id", simhash.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, candidates from
    exact match on any 15-bit band (classic simhash blocking: any pair
    within hamming < #bands must agree on >= 1 band)."""
    sig = with_simhash(df, text_col, id_col)
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"({dl.shr('simhash', str(i * SIMHASH_BAND_BITS), dl.SPARK)}"
                            f" & {(1 << SIMHASH_BAND_BITS) - 1})"
                        ).alias("bkey"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# --- n-gram Jaccard (blocked all-pairs) -------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    n: int = 2,
    threshold: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs inside a blocking key.

    The block key bounds the quadratic term; for unblocked corpora use
    `minhash_lsh_pairs` (linear) instead. Block join shuffles on block_col.
    """
    # |A∩B| via shingle rows + equi-join on (block, shingle) + pair count:
    # identical integers to array_intersect on the distinct shingle arrays,
    # but hash-join + hash-agg (codegen) instead of interpreted array ops,
    # and only pairs sharing >= 1 shingle are ever materialized — which is
    # exactly the jac > 0 support set.
    # r14 (guide §2.4): the per-doc shingle-set size used to be a
    # separate groupBy branch joined back onto the pair counts — its
    # subtree differed from the pair join's (different inferred
    # not-null constraints and shuffle keys), so the tokenize+explode
    # pass ran TWICE and the result paid two id-keyed joins at the end.
    # Carrying the size through a window over the (doc, block)
    # partition (the setjoin prefix discipline) keeps everything in ONE
    # subtree: one tokenize pass, both self-join branches identical
    # (ReusedExchange), and na/nb ride the joined rows into the pair
    # aggregate (constant per group — MAX picks the value).
    ex = shingle_rows(
        df, text_col, id_col, n, extra_cols=(block_col,)
    ).withColumnRenamed(block_col, "blk")
    ex = ex.withColumn(
        "n", F.count("*").over(Window.partitionBy("id", "blk"))
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(
            F.count("*").alias("inter"),
            F.max(F.col("a.n")).alias("na"),
            F.max(F.col("b.n")).alias("nb"),
        )
    )
    return (
        inter.select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def setjoin_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """EXACT corpus-global set-similarity self-join via prefix filtering
    (the AllPairs/PPJoin family; Vernica et al., SIGMOD'10 gives the
    MapReduce formulation this mirrors). Finds ALL pairs with shingle
    Jaccard >= t_num/t_den — no LSH false-negative band gap, no blocking
    key — while never materializing the quadratic pair space.

    How the quadratic is avoided (100 TB shape):
    - Every doc orders its shingles by ascending GLOBAL frequency (ties:
      shingle hash, then value — a total order both engines replay) and
      keeps only its PREFIX: sz - ceil(t*sz) + 1 rarest shingles. Two
      sets can reach Jaccard t only if their prefixes share a shingle,
      so the candidate join runs over prefix rows only — rare tokens by
      construction, which is what bounds the join fan-out (the frequent
      head shingles that would explode a plain shingle-join never enter).
    - A length filter (t*|b| <= |a|, cross-multiplied integers) prunes
      size-incompatible pairs inside the join condition.
    - Survivors verify EXACT Jaccard on the full sorted shingle arrays,
      and the threshold test is integer cross-multiplication
      (t_den*inter >= t_num*union) — no float in any decision.
    Shuffle profile: shingle distinct + global-frequency agg (hash aggs),
    one per-doc window sort for the prefix, equi-join on prefix shingle,
    array verify joins by id. All codegen; linear in corpus + candidates.
    Run exact_dedup first at scale: identical sets all share prefixes.

    Returns (doc_a, doc_b, jac_micro) with jac in integer millionths —
    the gate-stable surface (see dialect.idiv).
    """
    rows = shingle_rows(df, text_col, id_col, n)
    freq = rows.groupBy("s").agg(F.count("*").cast("long").alias("cnt"))
    ranked = rows.join(freq, "s").select(
        "id", "s", "cnt", F.expr(dl.hash_m31("s", dl.SPARK)).alias("h")
    )
    worder = Window.partitionBy("id").orderBy("cnt", "h", "s")
    wsz = Window.partitionBy("id")
    ceil_t_sz = dl.idiv(f"{t_num} * sz + {t_den - 1}", str(t_den), dl.SPARK)
    pref = (
        ranked.select(
            "id",
            "s",
            F.row_number().over(worder).alias("rn"),
            F.count("*").over(wsz).cast("long").alias("sz"),
        )
        .filter(F.col("rn") <= F.col("sz") - F.expr(ceil_t_sz) + 1)
    )
    a = pref.select(
        F.col("id").alias("ida"), "s", F.col("sz").alias("na")
    )
    b = pref.select(
        F.col("id").alias("idb"),
        F.col("s").alias("sb_key"),
        F.col("sz").alias("nb"),
    )
    cand = (
        a.join(
            b,
            (F.col("s") == F.col("sb_key"))
            & (F.col("ida") < F.col("idb"))
            & (
                F.lit(t_den) * F.least("na", "nb")
                >= F.lit(t_num) * F.greatest("na", "nb")
            ),
        )
        .select("ida", "idb", "na", "nb")
        .distinct()
    )
    # r14 probe of the "second tokenize pass" candidate (r13 VERDICT #4):
    # deriving the verify arrays from `rows` instead of this shingle_df
    # call produces a physical plan IDENTICAL modulo expression ids
    # (plans/r14/dedup_setjoin_{before,after}.txt) —
    # RemoveRedundantAggregates strips the distinct below collect_set
    # and ReuseExchange already dedupes the tokenize subtree, so the
    # candidate was a phantom. Kept as-is; the explicit form documents
    # the intent (verify on full sorted shingle sets).
    sh = shingle_df(df, text_col, id_col, n)
    sa = sh.select(F.col("id").alias("ida"), F.col("sh").alias("sa"))
    sb = sh.select(F.col("id").alias("idb"), F.col("sh").alias("sb"))
    inter = F.expr(dl.intersect_size("sa", "sb", dl.SPARK)).cast("long")
    return (
        cand.join(sa, "ida")
        .join(sb, "idb")
        .select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            inter.alias("i"),
            (F.col("na") + F.col("nb") - inter).alias("u"),
        )
        .filter(F.lit(t_den) * F.col("i") >= F.lit(t_num) * F.col("u"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(dl.idiv("1000000 * i", "u", dl.SPARK)).alias("jac_micro"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- embedding-cosine near-dup ----------------------------------------------


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.3,
    dim: int | None = None,
    prefilter: bool = True,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) within a block.

    Two-stage: an Arrow-batched numpy prefilter does one BLAS matmul per
    block and emits candidate pairs at (threshold - 1e-9); the exact
    sequential-fold cosine (dialect.dot_double — bit-identical across
    engines) is then recomputed for candidates only, and the final filter
    applies the true threshold. The 1e-9 margin dwarfs the ~1e-15 relative
    difference between BLAS and sequential-fold summation, so no true pair
    can be lost — the prefilter is an optimization, never the semantics.
    Measured at sf0.1: ~200k interpreted 64-dim folds → ~1.5k, 3.6s → sub-1s.

    Block-size guard (the 100 TB discipline): the prefilter materializes a
    whole block in one task's pandas group, so a hot block key would OOM a
    single executor. A cheap per-block count (map-side partial agg,
    broadcast back) routes blocks larger than `max_block_rows` to the
    distributed pure-SQL all-pairs join instead — quadratic work but
    spread across tasks, never one giant group. Results are identical
    (both paths end in the same exact-fold cosine + threshold filter).
    For unblocked corpora use the LSH bucketing in operators/similarity.py.
    `prefilter=False` forces the pure-SQL path for every block.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("v"),
    )
    dot = F.expr(
        dl.dot_double("va", "vb", dim or dl.size("va", dl.SPARK), dl.SPARK)
    )
    na = F.expr(
        f"sqrt({dl.norm2_double('va', dim or dl.size('va', dl.SPARK), dl.SPARK)})"
    )
    nb = F.expr(
        f"sqrt({dl.norm2_double('vb', dim or dl.size('vb', dl.SPARK), dl.SPARK)})"
    )

    def _sql_pairs(rows: DataFrame) -> DataFrame:
        """Distributed all-pairs candidates: (ida, idb, va, vb)."""
        a = rows.select(
            "blk", F.col("id").alias("ida"), F.col("v").alias("va")
        )
        b = rows.select(
            "blk", F.col("id").alias("idb"), F.col("v").alias("vb")
        )
        return a.join(b, "blk").filter(F.col("ida") < F.col("idb")).drop(
            "blk"
        )

    if prefilter:
        id_type = base.schema["id"].dataType.simpleString()
        margin = threshold - 1e-9

        def _cands(pdf):
            import numpy as np
            import pandas as pd

            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["id"].to_numpy()
            nrm = np.sqrt((V * V).sum(axis=1))
            C = (V @ V.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = C[iu, ju] >= margin
            a, b = ids[iu[keep]], ids[ju[keep]]
            return pd.DataFrame(
                {"ida": np.minimum(a, b), "idb": np.maximum(a, b)}
            )

        counts = base.groupBy("blk").agg(F.count("*").alias("_bn"))
        tagged = base.join(F.broadcast(counts), "blk")
        small = tagged.filter(F.col("_bn") <= max_block_rows).drop("_bn")
        big = tagged.filter(F.col("_bn") > max_block_rows).drop("_bn")

        cand = small.groupBy("blk").applyInPandas(
            _cands, schema=f"ida {id_type}, idb {id_type}"
        )
        va = base.select(F.col("id").alias("ida"), F.col("v").alias("va"))
        vb = base.select(F.col("id").alias("idb"), F.col("v").alias("vb"))
        pairs = cand.join(va, "ida").join(vb, "idb").select(
            "ida", "idb", "va", "vb"
        )
        pairs = pairs.unionByName(_sql_pairs(big))
    else:
        pairs = _sql_pairs(base)
    return (
        pairs.select(
            F.col("ida").alias("vec_a"),
            F.col("idb").alias("vec_b"),
            (dot / (na * nb)).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


# --- duplicate-span statistics (approximate substring dedup) ----------------

SPAN_N = 4  # words per span


def span_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SPAN_N,
) -> DataFrame:
    """Per-document duplicated-span statistics — the measurement half of
    exact substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): every n-word span is
    fingerprinted, and a span counts as *duplicated* when it occurs in
    >= 2 distinct documents. The output is the boilerplate signal used to
    drop or trim documents dominated by corpus-wide repeated runs
    (headers, license blocks, navigation chrome).

    Reference parity: extends the fingerprint/dedup family
    (internal/pipeline/dedup semantics) from whole-document to span
    granularity.

    Shape (100 TB): shingle occurrence rows (map-only explode) -> ONE
    explicit repartition on span-hash -> groupBy (span-hash, doc) and
    the distinct-doc COUNT(*) window both run shuffle-free on that
    partitioning -> groupBy doc. TWO shuffles total, no join-back.
    (Grouping by (h, id) first would partition on the pair, forcing a
    second span-volume shuffle for the per-hash window; pre-partitioning
    on h alone satisfies both and halves the bytes exchanged — within-doc
    repeats are too rare for the lost map-side combine to matter.) Spans
    travel as 60-bit fingerprints, never strings; collisions are
    symmetric on the oracle side (same md5-prefix hash on both engines).

    Docs with fewer than n words have no spans and are absent (same on
    the oracle side).
    """
    occ = shingle_rows(df, text_col, id_col, n, distinct=False)
    per = (
        occ.select("id", F.expr(dl.hash60("s", dl.SPARK)).alias("h"))
        .repartition("h")
        .groupBy("h", "id")
        .agg(F.count("*").alias("c"))
    )
    tagged = per.select(
        "id",
        "c",
        (F.count("*").over(Window.partitionBy("h")) >= 2).alias("dup"),
    )
    return tagged.groupBy("id").agg(
        F.sum("c").alias("n_spans"),
        F.sum(F.when(F.col("dup"), F.col("c")).otherwise(0)).alias(
            "n_dup_spans"
        ),
        F.count("*").alias("n_unique_spans"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_unique"),
    ).select(
        F.col("id").alias(id_col),
        "n_spans",
        "n_dup_spans",
        "n_unique_spans",
        "n_dup_unique",
        (
            F.col("n_dup_spans").cast("double")
            / F.col("n_spans").cast("double")
        ).alias("dup_ratio"),
    )


def span_dedup_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SPAN_N,
) -> DataFrame:
    """Exact substring DEDUPLICATION — the removal half of Lee et al.
    (span_dup_stats is the measurement half): every n-word span is
    fingerprinted; for each span value that occurs more than once in the
    corpus, the single globally-first occurrence (minimum (doc_id, pos),
    encoded as one BIGINT key) is canonical and every other occurrence is
    removed — a token is dropped when any non-canonical duplicated span
    covers it. Output per document: token counts before/after and the
    reconstructed deduplicated text (whitespace-normalized, like every
    `words()`-based operator).

    Determinism: the canonical choice is a pure function of (doc_id, pos)
    order, the fingerprints are the shared 60-bit md5 hash, and the output
    surface is integers + strings — nothing engine-sensitive.

    Shape (100 TB): span occurrences explode map-only (spans travel as
    60-bit fingerprints); ONE explicit repartition on span-hash feeds both
    per-hash windows (occurrence count + canonical key) shuffle-free;
    dropped starts aggregate per doc (second shuffle, keyed on doc);
    reconstruction is a doc-keyed join + per-token array lambda. The
    per-doc lambda is O(tokens x dropped-starts) — bounded because
    documents are bounded (curate_chunk is the long-document path).
    """
    w_expr = dl.words(text_col, dl.SPARK)
    toks = df.select(F.col(id_col).alias("id"), F.expr(w_expr).alias("toks"))
    span_str = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, pos + {j})" for j in range(n)
    ) + ")"
    occ = (
        toks.filter(F.expr(f"size(toks) >= {n}"))
        .select(
            "id",
            "toks",
            F.explode(
                F.expr(f"sequence(1, size(toks) - {n - 1})")
            ).alias("pos"),
        )
        .select(
            "id", "pos", F.expr(dl.hash60(span_str, dl.SPARK)).alias("h")
        )
    )
    key = F.expr("id * 4294967296 + pos")  # (doc_id, pos) as one BIGINT
    wh = Window.partitionBy("h")
    tagged = occ.repartition("h").select(
        "id",
        "pos",
        F.count("*").over(wh).alias("cnt"),
        F.min(key).over(wh).alias("mk"),
        key.alias("k"),
    )
    ds = (
        tagged.filter((F.col("cnt") >= 2) & (F.col("k") != F.col("mk")))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ds"))
    )
    kept_expr = (
        "filter(transform("
        "CASE WHEN size(toks) >= 1 THEN sequence(1, size(toks)) "
        "ELSE cast(array() as array<int>) END, "
        f"p -> CASE WHEN size(filter(ds, s -> s <= p AND p <= s + {n - 1}))"
        " = 0 THEN element_at(toks, p) END), x -> x IS NOT NULL)"
    )
    return (
        toks.join(ds, "id", "left")
        .select(
            "id",
            "toks",
            F.expr("coalesce(ds, cast(array() as array<int>))").alias("ds"),
        )
        .select("id", "toks", F.expr(kept_expr).alias("kept"))
        .select(
            F.col("id").alias(id_col),
            F.expr("cast(size(toks) as bigint)").alias("n_tokens"),
            F.expr("cast(size(kept) as bigint)").alias("n_kept"),
            F.expr("array_join(kept, ' ')").alias("dedup_text"),
        )
    )


# --- Bloom-filter admission check --------------------------------------------

# 1024 bits / 32 words, 3 salted hash probes. Deliberately small for the
# test corpus so the false-positive path is exercised (fill ratio ~50%
# at ~750 set bits -> FP ~14%, i.e. tens of FP rows among 250 probes);
# at scale size m ≈ -n*ln(p)/ln(2)^2 bits and keep k = round(m/n * ln 2).
BLOOM_BITS = 1024
BLOOM_K = 3
BLOOM_A = (2_654_435_761, 40_503, 2_246_822_519)
BLOOM_B = (97, 1_013, 65_027)


def bloom_positions(h: str, d: str) -> list[str]:
    """The BLOOM_K deterministic bit positions of a hash-value expression."""
    return [
        f"((({a} * ({h}) + {b}) % {dl.M31}) % {BLOOM_BITS})"
        for a, b in zip(BLOOM_A, BLOOM_B)
    ]


def bloom_admission(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_k: int = 12,
) -> DataFrame:
    """Bloom-filter pre-check for incremental dedup: does a new document's
    prefix fingerprint LOOK like one the reference corpus has seen?

    The at-scale admission pattern: the reference corpus folds into a
    fixed BLOOM_BITS-bit filter (here 32 32-bit words via bit_or — a
    sum-mergeable aggregate that partial-aggregates map-side, exactly
    like the CMS grid), the filter BROADCASTS, and each new row probes
    BLOOM_K bits map-side. A negative is definitive; a positive routes
    the row to the exact join (`incremental_dedup`). The output puts the
    filter's false-positive behavior under the oracle gate:
    (id, bloom_hit, exact_dup, false_positive) — `bloom_hit` is
    guaranteed true wherever `exact_dup` is true (no false negatives),
    and `false_positive` rows are the deterministic hash-collision cost
    of the fixed filter size.
    """
    toks = dl.words(text_col, dl.SPARK)
    prefix = dl.arr_join(
        dl.slice_(toks, 1, prefix_k, dl.SPARK), " ", dl.SPARK
    )
    h = dl.hash_m31(prefix, dl.SPARK)

    def _keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"), F.expr(h).alias("_h")
        )

    positions = bloom_positions("_h", dl.SPARK)
    # Build: reference hashes -> k bit positions -> 32 bit_or'd
    # 32-bit words (32, not 64: a BIGINT 1<<63 overflows DuckDB's checked
    # shift, and 0..31 shifts are safe-positive on both engines).
    bits = _keyed(ref_df).select(
        F.explode(
            F.array(*[F.expr(p).cast("long") for p in positions])
        ).alias("pos")
    )
    words = bits.groupBy(
        F.expr("pos DIV 32").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
        .alias("mask")
    )
    # Probe: each new row checks its k bits against the broadcast words.
    probe = _keyed(new_df).select(
        "id",
        "_h",
        F.explode(
            F.array(*[F.expr(p).cast("long") for p in positions])
        ).alias("pos"),
    )
    hits = (
        probe.join(
            F.broadcast(words),
            F.expr("pos DIV 32") == F.col("word"),
            "left",
        )
        .select(
            "id",
            "_h",
            F.expr(
                "CASE WHEN mask IS NULL THEN 0 "
                "ELSE shiftright(mask, CAST(pos % 32 AS INT)) & 1 END"
            ).alias("bit"),
        )
        .groupBy("id", "_h")
        .agg(F.min("bit").alias("_all_set"))
    )
    # Exact ground truth: distinct reference fingerprints, semi-join.
    ref_hashes = _keyed(ref_df).select("_h").distinct().withColumn(
        "_in_ref", F.lit(1)
    )
    out = hits.join(F.broadcast(ref_hashes), "_h", "left")
    bloom_hit = F.col("_all_set") == 1
    exact_dup = F.col("_in_ref").isNotNull()
    return out.select(
        F.col("id").alias(id_col),
        bloom_hit.alias("bloom_hit"),
        exact_dup.alias("exact_dup"),
        (bloom_hit & ~exact_dup).alias("false_positive"),
    )


# --- tf-idf weighted cosine pair join (round-7) -------------------------------

TFIDF_COS_K = 3  # shingle width of the feature space
TFIDF_COS_DF_CAP = 3  # rare-feature df cap for candidate generation
TFIDF_COS_IDF_CAP_MILLI = 100_000  # sublinear idf clip (100x, milli-units)
TFIDF_COS_THRESHOLD_MICRO = 300_000  # emit pairs with cosine >= 0.30


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = TFIDF_COS_K,
    df_cap: int = TFIDF_COS_DF_CAP,
    idf_cap_milli: int = TFIDF_COS_IDF_CAP_MILLI,
    threshold_micro: int = TFIDF_COS_THRESHOLD_MICRO,
) -> DataFrame:
    """WEIGHTED lexical near-dup join: cosine over tf-idf shingle vectors
    — the IR-weighted sibling of `ngram_jaccard_pairs` (which treats all
    shingles equally) and `setjoin_jaccard_pairs` (set semantics). Pairs
    dominated by boilerplate shingles score low because high-df features
    carry clipped idf; pairs sharing RARE content score high — exactly
    the signal Jaccard dilutes on template-heavy corpora.

    Candidate generation is the inverted-index rare-feature join: only
    documents sharing at least one shingle with df <= `df_cap` ever
    form a pair, so the pair space is Σ_rare df² — bounded by
    df_cap²·|rare vocab|, never |docs|² (same discipline as the LSH
    band join; a near-dup pair by construction shares rare shingles).
    The numerator then runs over ALL shared features of the candidates
    via two hash equi-joins — integer products, order-insensitive.

    Integer discipline: idf_milli = min(1000·N/df, idf_cap_milli) by
    exact integer division; w = tf·idf_milli (BIGINT). num and the
    norms are exact BIGINT sums; the only doubles are the final
    sqrt/divide on three already-exact scalars, written identically in
    both dialects (int64→double conversion and sqrt are correctly
    rounded, so the floor()ed micro surface is bit-identical).
    Overflow envelope: w <= tf·1e5, so num <= shared·tf²·1e10 — safe
    under 2^63 for tf·√shared to ~3e4; clip idf_cap_milli down first
    at corpus scales beyond that.

    Shape (100 TB): two hash-agg shuffles (tf, df), one broadcast
    1-row N, the rare-feature self-join (bounded fan-out), two
    id-keyed equi-joins for the numerator, one id-keyed norm join.
    No window sorts, no Python, no all-pairs anywhere.
    """
    sh = shingle_rows(df, text_col, id_col, k, distinct=False)
    tf = sh.groupBy("id", "s").agg(F.count("*").cast("long").alias("c"))
    dfreq = tf.groupBy("s").agg(F.count("*").cast("long").alias("dfq"))
    ndocs = df.agg(F.count("*").cast("long").alias("n_docs"))
    w = (
        tf.join(dfreq, "s")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "id",
            "s",
            "dfq",
            (
                F.col("c")
                * F.least(
                    F.expr(dl.idiv("1000 * n_docs", "dfq", dl.SPARK)),
                    F.lit(idf_cap_milli).cast("long"),
                )
            ).cast("long").alias("w"),
        )
    )
    # r14 (guide §2.4, the ngram_jaccard discipline): the norms used to
    # be a separate groupBy branch joined back onto the scored pairs
    # twice at the end; its subtree differed from the numerator
    # branches', so the tokenize+tf chain re-ran for it. A window over
    # the id partition computes the identical BIGINT Σw² inside the
    # weighted frame itself — the norm rides wa/wb into the pair
    # aggregate (constant per group; MAX picks it) and both end joins
    # disappear.
    w = w.withColumn(
        "nrm",
        F.sum(F.col("w") * F.col("w"))
        .over(Window.partitionBy("id"))
        .cast("long"),
    )
    rare = w.filter(F.col("dfq") <= df_cap).select("id", "s")
    cand = (
        rare.alias("ra")
        .join(
            rare.alias("rb"),
            (F.col("ra.s") == F.col("rb.s"))
            & (F.col("ra.id") < F.col("rb.id")),
        )
        .select(
            F.col("ra.id").alias("ida"), F.col("rb.id").alias("idb")
        )
        .distinct()
    )
    wa = w.select(
        F.col("id").alias("ida"), F.col("s").alias("sa"),
        F.col("w").alias("va"), F.col("nrm").alias("_na"),
    )
    wb = w.select(
        F.col("id").alias("wb_id"), F.col("s").alias("sb"),
        F.col("w").alias("vb"), F.col("nrm").alias("_nb"),
    )
    num = (
        cand.join(wa, "ida")
        .join(
            wb,
            (F.col("idb") == F.col("wb_id")) & (F.col("sa") == F.col("sb")),
        )
        .groupBy("ida", "idb")
        .agg(
            F.sum(F.col("va") * F.col("vb")).cast("long").alias("num"),
            F.count("*").cast("long").alias("shared"),
            F.max("_na").alias("na"),
            F.max("_nb").alias("nb"),
        )
    )
    cos = (
        "CAST(floor(1000000.0 * CAST(num AS DOUBLE) / "
        "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) AS BIGINT)"
    )
    return (
        num.select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            "shared",
            "num",
            F.expr(cos).alias("cos_micro"),
        )
        .filter(F.col("cos_micro") >= threshold_micro)
        .orderBy("doc_a", "doc_b")
    )
