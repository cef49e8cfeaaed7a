"""Training-data operator queries (the [EXT] north-star surface).

Bindings of the operator library (operators/dedup.py, similarity.py,
text.py) onto the driver's `documents` / `embeddings` tables. Thresholds
here are tuned to the synthetic testdata distributions (31-word vocab →
high unigram Jaccard; random embeddings → cosine <= ~0.4) and shared with
the oracle module so both sides stay in lock-step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipegen_spark.catalog import table
from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators import curation as cu
from pipegen_spark.operators import dedup as dd
from pipegen_spark.operators import embeddings as em
from pipegen_spark.operators import multimodal as mm
from pipegen_spark.operators import similarity as sim
from pipegen_spark.operators import sketches as sk
from pipegen_spark.operators import text as tx

# --- shared parameters (imported by training_oracle.py) ---------------------
MINHASH_K = 2  # bigram shingles: unigram sets over the 31-word test vocab
#                are near-identical corpus-wide, which floods every LSH
#                bucket; bigrams leave only true near-dups above threshold
MINHASH_THRESHOLD = 0.8
LPA_ROUNDS = 4  # fixed synchronous label-propagation rounds (dedup_lpa)
CONTAINMENT_THRESHOLD = 0.9
HYBRID_QUERY_VEC = 0
RRF_K = 60
HYBRID_TOPK = 20
RARITY_MAX_FREQ = 2
PMI_MIN_COUNT = 5  # collocation mining: prune the hapax bigram tail
PMI_TOPK = 50
LM_RARE_MICRO = 10_000  # bigram-LM: transitions under 1% flag as rare
SIMHASH_MAX_HAMMING = 8
NGRAM_N = 3  # trigram shingles: sparse enough that the candidate join
NGRAM_THRESHOLD = 0.02  # stays near-linear even with the tiny test vocab
SETJOIN_N = 3  # prefix-filter join: trigram sets, threshold as a rational
# Jaccard >= 4/5, integer cross-multiplied. The threshold IS the prefix
# size: p = sz - ceil(t*sz) + 1, so t=4/5 keeps ~20% of each doc's
# shingles as prefix vs ~50% at t=1/2 — on this dense synthetic corpus
# that cut the candidate join ~25x (15.7 s -> ~2 s warm at sf0.1) and
# matches MINHASH_THRESHOLD, making the exact join the verification
# complement of the LSH path.
SETJOIN_NUM, SETJOIN_DEN = 4, 5
EMB_DUP_THRESHOLD = 0.3
# Measured: explicit 64-term dot chains are SLOWER than the interpreted
# sequential fold on this workload (4.9s vs 3.2s warm at sf0.1) — the fold
# runs a tight loop while the chain becomes a deep ANSI-checked expression
# tree. Both sides therefore use the fold shape; dialect keeps the chain
# builder for wide-row cases where codegen wins.
EMB_DIM = 64  # testdata embedding dimension (available to chain builders)
TOPK_BRUTE = 10
TOPK_LSH = 5
TOPK_IVF = 5
IVF_NPROBE = 2
N_QUERY_VECS = 5  # query vectors: vec_id < 5
RANGE_COS_THRESHOLD = 0.2  # radius search: ~140 hits at sf0.01 (max ~0.4)
PLANE_LO, PLANE_HI = 100, 107  # plane vectors: vec_id in [100, 107]
KNN_PLANE_LO, KNN_PLANE_HI = 100, 103  # kNN graph: 4 planes -> 16 buckets
# Size-parameterized LSH plane count (round-9: fixed b measured x7.28
# wall at 10x data — bench_history/scale_sf1.json — because expected
# bucket size is n/2^b; one extra plane per corpus doubling keeps it
# pinned). b = min(BASE + ceil(log2(ceil(n / KNN_BASE_N))), MAX), an
# integer-exact formula both engines compute from COUNT(*) — at the
# declared base size it reduces to the historical 4 planes, so gate
# rows stay comparable. MAX=12 uses plane vectors vec_id 100..111
# (plain corpus rows; the reserve ends well before the centroid block
# at 200). Beyond 2^8 x base the count clamps — past that, re-declare
# KNN_BASE_N for the deployment.
KNN_BASE_N = 500  # declared base corpus size (sf0.01 embeddings count)
KNN_PLANES_BASE = 4
KNN_PLANES_MAX = 12
KNN_GRAPH_K = 3


def knn_plane_count(n: int) -> int:
    """ceil-log2 plane sizing: min(BASE + ceil(log2(ceil(n/N0))), MAX).
    (q-1).bit_length() == ceil(log2(q)) for q >= 1, so this is pure
    integer arithmetic — the oracle mirrors it with a CASE ladder."""
    q = (n + KNN_BASE_N - 1) // KNN_BASE_N
    return min(KNN_PLANES_BASE + (q - 1).bit_length(), KNN_PLANES_MAX)
# Recall measurement uses a coarser index (2 planes -> 4 buckets): with 8
# planes over random near-orthogonal vectors recall@5 is uniformly 0,
# which checks nothing; 4 wide buckets give a 0.2-0.8 spread to verify.
RECALL_PLANE_LO, RECALL_PLANE_HI = 100, 101
CENTROID_LO, CENTROID_HI = 200, 215  # IVF centroids: vec_id in [200, 215]
PQ_M = 8  # product-quantization subspaces (64 dims -> 8x 8-dim)
PQ_CENT_LO, PQ_CENT_HI = 200, 207  # PQ codebook: 8 sample vectors (3-bit)
IVFPQ_CB_LO, IVFPQ_CB_HI = 216, 223  # IVF-PQ residual codebook sample
# (disjoint from the coarse centroids [200, 215]: a codebook row that IS
# a coarse centroid would contribute a zero residual codeword)
PAIR_LIMIT = 500  # deterministic cap on pair outputs (ordered first)
# Curation-family parameters (shared with the oracle):
CONTAM_N = 8  # 8-grams: only genuinely duplicated passages collide
CONTAM_THRESHOLD = 0.5
CONTAM_BENCH_MOD = 53  # benchmark set = doc_id % 53 == 0 (deterministic)
SAMPLE_RATES_BPS = {"en": 5000, "es": 2500, "de": 1250, "fr": 625}
SAMPLE_DEFAULT_BPS = 1000
PACK_BUDGET = 2048  # tokens per packed training sequence
TFIDF_TERMS = ("spark", "table", "fast", "merge")  # fixed retrieval query
TFIDF_TOPK = 100
KMEANS_K = 8  # k-means seeds: vec_id < 8 (deterministic)
KMEANS_ITERS = 2
SEMDEDUP_TARGET_CLUSTER = 250  # auto-k SemDeDup: expected cluster size
PREFIX_K = 12  # prefix-dedup fingerprint length (tokens)
VOCAB_TOPK = 50  # corpus vocabulary report size
CHUNK_SIZE = 200  # chars per document chunk
CHUNK_OVERLAP = 50  # chars shared between consecutive chunks
# Gopher-rule thresholds tuned to the synthetic corpus (see curate_gopher
# docstring); shared with the oracle.
GOPHER_TUNE = {"min_words": 30, "min_required_stops": 1}
# Incremental dedup: the "new batch" = the second ten synthetic sources.
NEW_BATCH_PATTERN = "^src1[0-9]$"
CMS_TOPK = 50  # count-min heavy-hitter report size
WSAMPLE_K = 100  # weighted priority-sample size
# DSIR target distribution: the English subset stands in for the
# in-domain corpus (218/500 docs at sf0.01 — both keep outcomes covered).
DSIR_TARGET_LANG = "en"


# --- deduplication -----------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        dd.exact_dedup(docs, "text", "doc_id")
        .select("doc_id", "content_hash", "is_dup")
        .orderBy("doc_id")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    ).limit(PAIR_LIMIT)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: minhash pairs → connected components (star
    contraction, operators/graph.cc_star_labels); every doc labeled with
    its component's min doc_id + component size."""
    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    )
    return dd.dup_clusters(docs, pairs, "doc_id").orderBy("doc_id")


# Same query under a second registry key: the key sits in the 50-entry
# gate window (queries/registry.py GATE_ROLLING), whose order is pinned.
dedup_cc_star = dedup_clusters


def dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + degree per node of the near-dup pair graph —
    cluster-quality diagnostic: tight duplicate cliques are
    triangle-rich, transitive false-positive chains are triangle-free.
    Same pair chain as dedup_minhash_lsh."""
    from pipegen_spark.operators import graph as gr

    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    )
    return gr.triangle_counts(pairs)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning table in ONE pass: every LSH candidate
    pair scored once, histogrammed into 1/20-wide Jaccard buckets with a
    top-down cumulative — "how many pairs would each threshold accept"
    without re-running the pipeline per candidate threshold. Exact-set
    duplicates are collapsed before banding (as in the production
    chain), so the sweep covers the fuzzy region below 1.0.

    Buckets are floor(jac·20): jac is the same IEEE division on both
    engines, so bucketing is engine-identical even at representation
    boundaries (a rational inter·20 DIV union occasionally differs by
    one at exact-multiple boundaries — deterministically, on BOTH
    sides, documented rather than epsilon-patched: this is a tuning
    histogram, not a dedup verdict).

    Scale: identical cost to dedup_minhash_lsh (same chain, threshold 0
    keeps all candidates) + a ≤21-row histogram; the cumulative window
    runs on that single tiny partition."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=0.0
    )
    hist = (
        pairs.select(
            F.expr("CAST(floor(jac * 20.0) AS BIGINT)").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.select(
        "bucket",
        (F.col("bucket") * 50000).cast("long").alias("jac_lo_ppm"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    ).orderBy("bucket")


def dedup_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via global-frequency prefix
    filtering (AllPairs/PPJoin family): every pair with trigram-set
    Jaccard >= 4/5, no LSH band gap, threshold decided by integer
    cross-multiplication. Complements dedup_minhash_lsh (approximate,
    linear) and dedup_ngram_jaccard (exact within a blocking key)."""
    docs = table(spark, sf_dir, "documents")
    return dd.setjoin_jaccard_pairs(
        docs, "text", "doc_id", n=SETJOIN_N, t_num=SETJOIN_NUM,
        t_den=SETJOIN_DEN,
    ).limit(PAIR_LIMIT)


def dedup_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup pair graph via synchronous
    label propagation (4 fixed rounds, deterministic tie-breaks —
    operators/graph.label_propagation_fixed). The diagnostic sibling of
    dedup_clusters: connected components weld everything reachable, so
    one false-positive edge merges two duplicate families; LPA converges
    to dense neighborhoods and keeps bridged families apart. Same pair
    chain as dedup_minhash_lsh; docs off the pair graph label
    themselves (community of one)."""
    from pipegen_spark.operators import graph as gr

    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    )
    labels = gr.label_propagation_fixed(pairs, rounds=LPA_ROUNDS)
    return (
        dd._finish_clusters(docs, labels, "doc_id")
        .select(
            "doc_id",
            F.col("cluster_id").alias("community"),
            F.col("cluster_size").alias("community_size"),
        )
        .orderBy("doc_id")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dd.simhash_pairs(
        docs, "text", "doc_id", max_hamming=SIMHASH_MAX_HAMMING
    ).limit(PAIR_LIMIT)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", n=NGRAM_N, threshold=NGRAM_THRESHOLD
    ).limit(PAIR_LIMIT)


def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted lexical near-dup join: cosine over tf-idf shingle
    vectors, candidates from the rare-feature inverted index (df-capped
    fan-out — never all-pairs). The idf clip downweights boilerplate
    shingles that dilute plain Jaccard."""
    docs = table(spark, sf_dir, "documents")
    return dd.tfidf_cosine_pairs(docs, "text", "doc_id").limit(PAIR_LIMIT)


def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/prefix dedup: same first-PREFIX_K-token fingerprint →
    keep-first flag + prefix-group size."""
    docs = table(spark, sf_dir, "documents")
    return (
        dd.prefix_dup(docs, "text", "doc_id", k=PREFIX_K)
        .select("doc_id", "prefix_hash", "is_prefix_dup", "n_same_prefix")
        .orderBy("doc_id")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline's decision step: minhash pairs → connected
    components → keep the highest-quality doc per cluster."""
    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    )
    clusters = dd.dup_clusters(docs, pairs, "doc_id")
    scores = tx.with_quality(docs.select("doc_id", "text"), "text").select(
        "doc_id", "quality_score"
    )
    return dd.keep_best(clusters, scores).orderBy("doc_id")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return dd.embedding_dup_pairs(
        emb, "embedding", "vec_id", "label",
        threshold=EMB_DUP_THRESHOLD,
    ).limit(PAIR_LIMIT)


# --- similarity search -------------------------------------------------------


def simsearch_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return sim.brute_force_topk(emb, queries, k=TOPK_BRUTE)


def simsearch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine radius search (threshold tuned to the random-embedding
    testdata, where cross-pair cosine tops out near 0.4)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return sim.range_search(
        emb, queries, threshold=RANGE_COS_THRESHOLD, dim=EMB_DIM
    )


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance diagnostic (dead-dimension screen) in
    integer micro-units."""
    emb = table(spark, sf_dir, "embeddings")
    return em.dim_stats(emb)


def simsearch_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed all-corpus kNN graph (k=3; pairs meet only through the
    bucket equi-join). Plane count b = knn_plane_count(n) scales with
    the corpus (round-9: one extra plane per doubling past KNN_BASE_N
    keeps the expected bucket size, hence pair volume per row,
    constant); at base size it is the historical 4 planes / 16
    buckets. n is one bounded scalar collect."""
    emb = table(spark, sf_dir, "embeddings")
    b = knn_plane_count(emb.count())
    return sim.knn_graph(
        emb,
        F.col("vec_id").between(KNN_PLANE_LO, KNN_PLANE_LO + b - 1),
        k=KNN_GRAPH_K,
        dim=EMB_DIM,
    )


def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (ANN-mined cross-label top-1
    per anchor, LSH-bucketed — the DPR/SimCSE negative-selection step;
    see operators/similarity.hard_negatives for the 100 TB shape).
    Plane count scales with corpus size exactly as in
    simsearch_knn_graph (shared knn_plane_count sizing)."""
    emb = table(spark, sf_dir, "embeddings")
    b = knn_plane_count(emb.count())
    return sim.hard_negatives(
        emb,
        F.col("vec_id").between(KNN_PLANE_LO, KNN_PLANE_LO + b - 1),
        dim=EMB_DIM,
    )


def simsearch_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining: each English document's best
    non-English alignment candidate by the ratio-margin criterion
    (cosine normalized by both endpoints' top-k neighborhood means —
    the LASER/CCMatrix selection rule; see
    operators/similarity.bitext_margin for the integer-exact margin
    and the 100 TB bucket shape). Embeddings join documents 1:1 on
    vec_id = doc_id; lang supplies the source/target split. Plane
    count scales with corpus size (shared knn_plane_count sizing)."""
    emb = table(spark, sf_dir, "embeddings")
    groups = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        (F.col("lang") == "en").alias("is_src"),
    )
    b = knn_plane_count(emb.count())
    return sim.bitext_margin(
        emb,
        groups,
        F.col("vec_id").between(KNN_PLANE_LO, KNN_PLANE_LO + b - 1),
        dim=EMB_DIM,
    )


def curate_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile gate (keep the top 60% of each
    source by the shared quality score) — gated on the PRODUCTION plan
    (round-10 re-point, r9 VERDICT What's-wrong #1, same move as the r9
    `dedup_semantic` re-point): `quality_threshold_gate`, the bounded
    (source, score_micro) histogram + broadcast cutoff. No per-source
    window sort of the full relation anywhere, so a mega-source (one CC
    dump ~90% of a real corpus) costs nothing at 100 TB; the skewed
    docs-per-source dimension only ever appears pre-aggregated. The
    exact per-doc-rank form this key carried through r9 survives as
    `ref_quality_percentile_rank` ([test-scale], equivalence-pinned in
    tests/test_curation.py); the former `curate_quality_threshold` key
    is retired as redundant — it was this exact query."""
    docs = table(spark, sf_dir, "documents")
    return cu.quality_threshold_gate(docs)


def ref_quality_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[test-scale] The exact per-doc window-rank percentile gate —
    kept OUT of the corpus (the `ref_` prefix is not collected) as a
    labeled test surface: `row_number().over(partitionBy(source))`
    sends every row of one source to ONE task, the r6-verdict
    scale-killer shape. tests/test_curation.py pins its keep decisions
    equal to `curate_quality_percentile`'s production plan at test
    scale (identical on this micro-quantized score)."""
    docs = table(spark, sf_dir, "documents")
    return cu.quality_percentile_gate(docs)


def curate_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: per source, top-half docs
    by quality paired against bottom-half by intra-extreme rank, strict
    margins only (see operators/curation.preference_pairs)."""
    docs = table(spark, sf_dir, "documents")
    return cu.preference_pairs(docs)


def curate_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length histogram in log2 buckets (doc count +
    token mass + bucket bounds) — the packing/batching planner input."""
    docs = table(spark, sf_dir, "documents")
    return cu.length_histogram(docs)


def curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval leakage audit over the deterministic 90/5/5 split:
    per val/test doc, the ppm of its 3-gram fingerprints that occur
    anywhere in the train split — the pipeline's own-decontamination
    check (held-out sets must actually hold out)."""
    docs = table(spark, sf_dir, "documents")
    return cu.split_leakage(docs)


def text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: top-3 stopword-delimited phrases per doc
    by summed deg/freq token scores (integer micro-units)."""
    docs = table(spark, sf_dir, "documents")
    return tx.rake_keywords(docs)


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary health report: token mass, distinct types,
    type-token ratio and hapax share (Heaps-law diagnostics)."""
    docs = table(spark, sf_dir, "documents")
    return tx.vocab_growth(docs)


def curate_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate share (C4/RefinedWeb template removal
    signal): per-doc count/fraction of 3-token windows that occur in >= 5
    distinct documents corpus-wide — catches repeated headers/footers
    that within-doc repetition and pairwise near-dup both miss."""
    docs = table(spark, sf_dir, "documents")
    return cu.boilerplate_stats(docs)


# (curate_quality_threshold retired in r10: curate_quality_percentile is
# now gated on the identical quality_threshold_gate plan — one key per
# query, the dedup_semantic/dedup_semantic_auto retirement precedent.)


def embed_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus selection: k-means assignment (same seeds
    and iterations as embed_kmeans), per-cluster keep rate
    min(1, cap/n_k) applied as a deterministic salted hash gate — the
    semantic-region analogue of source-temperature rebalancing."""
    emb = table(spark, sf_dir, "embeddings")
    return em.cluster_balanced_sample(
        emb, F.col("vec_id") < KMEANS_K, iters=KMEANS_ITERS
    )


def embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection to 8 micro-quantized scalar
    coordinates — the cheap dimensionality reduction ahead of
    clustering/LSH at large d."""
    emb = table(spark, sf_dir, "embeddings")
    return em.jl_project(emb, in_dim=EMB_DIM)


def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier gate over the embeddings table (integer
    micro-unit distances; flag at 3/2 x the corpus-average distance)."""
    emb = table(spark, sf_dir, "embeddings")
    return em.centroid_outliers(emb, dim=EMB_DIM)


def simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return sim.lsh_bucket_topk(
        emb,
        F.col("vec_id") < N_QUERY_VECS,
        F.col("vec_id").between(PLANE_LO, PLANE_HI),
        k=TOPK_LSH,
    )


def simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb,
        F.col("vec_id") < N_QUERY_VECS,
        F.col("vec_id").between(CENTROID_LO, CENTROID_HI),
        nprobe=IVF_NPROBE,
        k=TOPK_IVF,
    )


# --- embedding preprocessing -------------------------------------------------


def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate surface is one row per vector: (vec_id, nrm, unit_md5) with
    the unit vector folded to an in-engine md5 over its micro-quantized
    elements (floor(x*1e6) — IEEE-identical across engines, the codec
    queries' md5-derived-oracle pattern). Earlier rounds exploded all
    dim elements to scalar rows (the driver's pandas canonicalizer
    cannot hash list values); that checked elements at full double
    precision but made result COLLECTION the dominant cost — 64x the
    rows, measured 3.6 s warm at sf0.1 vs ~0.5 s of actual engine work.
    The fold keeps per-element sensitivity (any element off by >=1e-6
    flips the digest) at one row per vector. Map-only, no shuffle, no
    orderBy (gate canon sorts rows itself)."""
    vecs = table(spark, sf_dir, "embeddings")
    out = em.l2_normalize(vecs, "embedding", "vec_id")
    digest = (
        "md5(" + dl.arr_join(
            dl.transform(
                "unit",
                "x -> CAST(CAST(floor(x * 1000000.0) AS BIGINT) AS STRING)",
                dl.SPARK,
            ),
            ",",
            dl.SPARK,
        ) + ")"
    )
    return out.select("vec_id", "nrm", F.expr(digest).alias("unit_md5"))


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vector: (vec_id, maxabs, q_md5) — int8 codes folded
    to an in-engine md5 (integers, so no quantization step needed; see
    embed_normalize for the exploded-surface history)."""
    vecs = table(spark, sf_dir, "embeddings")
    out = em.quantize_int8(vecs, "embedding", "vec_id")
    digest = (
        "md5(" + dl.arr_join(
            dl.transform(
                "qvec", "x -> CAST(x AS STRING)", dl.SPARK
            ),
            ",",
            dl.SPARK,
        ) + ")"
    )
    return out.select("vec_id", "maxabs", F.expr(digest).alias("q_md5"))


def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's k-means: final assignment + squared dist."""
    vecs = table(spark, sf_dir, "embeddings")
    return em.kmeans_fixed(
        vecs,
        F.col("vec_id") < KMEANS_K,
        iters=KMEANS_ITERS,
        vec_col="embedding",
        id_col="vec_id",
    ).orderBy("vec_id")


# --- text analysis -----------------------------------------------------------


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        tx.with_token_stats(docs.select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        tx.with_quality(docs.select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        tx.with_langid(docs.select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")
    )


def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        tx.with_sentiment(docs.select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")
    )


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by TF-IDF against the fixed query-term set."""
    docs = table(spark, sf_dir, "documents")
    return (
        tx.tfidf_scores(docs, TFIDF_TERMS, "text", "doc_id")
        .orderBy(F.col("tfidf").desc(), "doc_id")
        .limit(TFIDF_TOPK)
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by Okapi BM25 against the fixed query-term set."""
    docs = table(spark, sf_dir, "documents")
    return (
        tx.bm25_scores(docs, TFIDF_TERMS, "text", "doc_id")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(TFIDF_TOPK)
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.fingerprint("text").alias("fp")
    ).orderBy("doc_id")


# --- corpus curation ----------------------------------------------------------


def curate_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing 8-grams with
    the (deterministic) benchmark slice doc_id % 53 == 0."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    cand = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return (
        cu.contamination_check(
            cand, bench, "text", "doc_id",
            n=CONTAM_N, threshold=CONTAM_THRESHOLD,
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def curate_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        cu.with_repetition(docs.select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")
    )


def curate_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: per-pattern hit counts + md5 of the redacted
    text (the synthetic corpus is PII-free, so counts verify as zeros and
    the md5 verifies the transform is a no-op where nothing matches;
    tests/test_curation.py proves detection on crafted PII)."""
    docs = table(spark, sf_dir, "documents")
    out = cu.with_redaction(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id",
        *[f"n_{name}" for name in cu.PII_PATTERNS],
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


def curate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        cu.stratified_sample(
            docs, "doc_id", "lang", SAMPLE_RATES_BPS, SAMPLE_DEFAULT_BPS
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        cu.pack_sequences(
            docs, "text", "doc_id", budget=PACK_BUDGET,
            part_cols=("lang", "source"),
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


# --- multimodal plumbing (binary column stats) -------------------------------


def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling: encode text as a blob, report byte
    stats — the decode path itself is `operators/multimodal.py` (stubbed
    per environment; plumbing unit-tested)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT)").alias(
            "n_bytes"
        ),
        F.expr("md5(encode(text, 'UTF-8'))").alias("blob_md5"),
    ).orderBy("doc_id")


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow `mapInPandas` decode path itself, under the oracle gate:
    documents become a media table (content = UTF-8 blob), and
    `operators/multimodal.extract_features` runs the deterministic fake
    decoder over real Arrow batches. `fake_decode` is sha256-based, so
    DuckDB mirrors it exactly (sha256 + hex-field arithmetic) — the one
    [EXT] family whose hot path is Python gets the same hard signal as
    the JVM-side operators."""
    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr("encode(text, 'UTF-8')").alias("content"),
    )
    return mm.extract_features(media).orderBy("media_id")


def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode under the driver gate, now HARD-oracle-checked
    (round-7): each document becomes a genuine color-type-2 PNG (8x6
    RGB, pixels = the document text's md5 digest tiled across the
    144-byte buffer = exactly 9 digest copies — fully deterministic),
    then `operators/multimodal.extract_features` decodes it with the
    REAL codec (`codecs.auto_decode` → magic-byte dispatch →
    `png_decode`: chunk framing, CRC checks, zlib inflate, filter
    reconstruction) inside Arrow-batched `mapInPandas`.

    The gated surface is (doc_id, feat_dim, feat_norm): feat_norm is the
    squared L2 of the 8-bin pixel histogram, a value-sensitive function
    of EVERY decoded byte, and — because the pixels are 9 tiled md5
    copies — DuckDB can compute the expected value from `md5(text)`
    alone (81 × Σ per-bin-count² over the 16 digest bytes), no PNG code
    needed. Any codec bug (filter reconstruction, inflate, CRC, chunk
    order) changes feat_norm and fails the hash gate. Payload-level
    n_bytes/content_sha (zlib-dependent, not SQL-expressible) stay
    covered by tests/test_codecs.py.

    Both hops are map-only: payload bytes cross the Arrow boundary once
    per hop, no shuffle, linear in executors at scale."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    n_px = 8 * 6 * 3

    def encode(batches):
        import hashlib

        from pipegen_spark.operators.codecs import png_encode

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                seed = hashlib.md5((t or "").encode("utf-8")).digest()
                px = (seed * (n_px // len(seed) + 1))[:n_px]
                payloads.append(png_encode(8, 6, px, 3))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, "media_id long, content binary"
    )
    from pipegen_spark.operators.codecs import auto_decode

    return (
        mm.extract_features(media, decoder=auto_decode)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("feat_dim").cast("long").alias("feat_dim"),
            F.col("feat_norm").cast("long").alias("feat_norm"),
        )
        .orderBy("doc_id")
    )


def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio sibling of `multimodal_png_features` (hard-oracle-checked
    since round-7, same construction): each document becomes a genuine
    16-bit PCM RIFF/WAVE payload (64 samples = the text's md5 digest
    tiled to 128 bytes = exactly 8 digest copies, read as little-endian
    int16), and `extract_features` decodes it through
    `codecs.auto_decode`'s RIFF magic-byte dispatch → `wav_features`
    (stdlib `wave` parse + amplitude-octave histogram). The gated
    surface is (doc_id, feat_dim, feat_norm); the expected feat_norm is
    64 × Σ per-bucket-count² over the digest's 8 int16 samples, which
    DuckDB computes from `md5(text)` hex alone. Map-only, one Arrow hop
    per stage, no shuffle."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    n_samples = 64

    def encode(batches):
        import hashlib
        import struct as st

        from pipegen_spark.operators.codecs import wav_encode

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                seed = hashlib.md5((t or "").encode("utf-8")).digest()
                raw = (seed * (2 * n_samples // len(seed) + 1))[
                    : 2 * n_samples
                ]
                samples = [s for (s,) in st.iter_unpack("<h", raw)]
                payloads.append(wav_encode(samples, sample_rate=8_000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, "media_id long, content binary"
    )
    from pipegen_spark.operators.codecs import auto_decode

    return (
        mm.extract_features(media, decoder=auto_decode)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("feat_dim").cast("long").alias("feat_dim"),
            F.col("feat_norm").cast("long").alias("feat_norm"),
        )
        .orderBy("doc_id")
    )


def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF sibling of `multimodal_png_features` (round-11, same
    hard-oracle construction): each document becomes a genuine GIF89a —
    16x9 pixels over an 8-entry grayscale palette where entry i is
    (32i+1, 32i+1, 32i+1), indices = the text's md5 digest bytes mod 8
    tiled to 144 = exactly 9 digest copies — and `extract_features`
    decodes it through `codecs.auto_decode`'s GIF magic dispatch →
    `gif_decode` (logical screen, color table, sub-block framing, REAL
    LZW decompression with dictionary growth, which the tiled-digest
    repetition exercises hard). Palette entry i contributes its 3 RGB
    bytes to histogram bin i exactly ((32i+1) >> 5 = i), so feat_norm
    = Σ(27·d_b)² = 729 × Σ d_b² where d_b counts digest bytes ≡ b mod
    8 — computable in DuckDB from `md5(text)` hex alone, no GIF code.
    Any bug in the encoder's LZW emission or the decoder's dictionary
    walk perturbs pixels and fails the value hash. Map-only, one Arrow
    hop per stage, no shuffle."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    gw, gh = 16, 9
    palette = bytes(
        v for i in range(8) for v in (32 * i + 1,) * 3
    )

    def encode(batches):
        import hashlib

        from pipegen_spark.operators.codecs import gif_encode

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                seed = hashlib.md5((t or "").encode("utf-8")).digest()
                idx = bytes(b % 8 for b in seed) * (gw * gh // 16)
                payloads.append(gif_encode(gw, gh, palette, idx))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, "media_id long, content binary"
    )
    from pipegen_spark.operators.codecs import auto_decode

    return (
        mm.extract_features(media, decoder=auto_decode)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("feat_dim").cast("long").alias("feat_dim"),
            F.col("feat_norm").cast("long").alias("feat_norm"),
        )
        .orderBy("doc_id")
    )


def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame extraction under the hard-oracle gate
    (round-12, r11 VERDICT task 5): each document becomes a genuine
    4-frame GIF89a animation — 16x9 screen, the 8-entry grayscale
    palette of `multimodal_gif_features`, frame j's indices =
    md5(text || ':' || j) bytes mod 8 tiled to 144, every frame
    full-screen with transparent index 7 and disposal 1 (keep) — built
    by `codecs.gif_encode_animated` (one Graphic Control Extension per
    frame) and decoded by `codecs.gif_frames`, the round-12 compositing
    surface: transparent pixels leave the canvas untouched, so frame
    j's visible palette index at position p is the LAST non-7 index
    among frames <= j (background entry 0 if none ever drew there).
    Palette entry v contributes 3 bytes of value 32v+1 to histogram
    bin v ((32v+1) >> 5 = v; the (1,1,1) background lands in bin 0),
    so frame_norm = 9 x Σ_b count_b² — which DuckDB reconstructs from
    md5 hex alone with a running MAX window over the frame axis, no
    GIF code. Any bug in GCE parsing, transparency skip, LZW, or
    disposal handling perturbs some frame's histogram and fails the
    value hash. The scene-cut flag (`is_cut`) is the keyframe rule
    multimodal_frame_sample/mjpeg established, applied to COMPOSITED
    pixels: a frame is a cut when its visible histogram differs from
    the previous frame's — with transparency, a frame whose visible
    pixels all repeat the prior canvas is NOT a cut, which only the
    real compositing chain can know. One Arrow stage (encode + decode
    + histogram where the pixels are); the only shuffle is the
    per-doc LAG window."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    gw, gh, n_frames = 16, 9, 4
    palette = bytes(v for i in range(8) for v in (32 * i + 1,) * 3)

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.operators.codecs import (
            gif_encode_animated,
            gif_frames,
        )

        for pdf in batches:
            ids, fidx, norms = [], [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                frames = []
                for j in range(n_frames):
                    seed = hashlib.md5(
                        f"{t or ''}:{j}".encode("utf-8")
                    ).digest()
                    frames.append(
                        bytes(b % 8 for b in seed) * (gw * gh // 16)
                    )
                payload = gif_encode_animated(
                    gw, gh, palette, frames, transparent_idx=7
                )
                _, _, rgb_frames = gif_frames(payload)
                for j, rgb in enumerate(rgb_frames):
                    feats = [0] * 8
                    for b in rgb:
                        feats[b >> 5] += 1
                    ids.append(did)
                    fidx.append(j)
                    norms.append(sum(f * f for f in feats))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "frame_norm": norms}
            )

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    par = spark.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)  # CPU-heavy pure-Python codec: use every core
        .mapInPandas(
            roundtrip, "doc_id long, frame_idx long, frame_norm long"
        )
        .withColumn("prev_norm", F.lag("frame_norm").over(w))
        .select(
            "doc_id",
            "frame_idx",
            "frame_norm",
            (
                F.col("prev_norm").isNull()
                | (F.col("frame_norm") != F.col("prev_norm"))
            )
            .cast("long")
            .alias("is_cut"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def multimodal_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC sibling of `multimodal_wav_features` (round-12, same
    hard-oracle construction): each document's md5 digest is tiled to
    128 bytes = 64 little-endian int16 samples — the SAME sample
    surface as the WAV query — but the payload is a genuine FLAC
    stream built by the from-scratch encoder (`operators/flac.py`:
    STREAMINFO + MD5, per-subframe CONSTANT/FIXED-with-Rice/VERBATIM
    choice, CRC-8 header + CRC-16 footer), and `extract_features`
    decodes it through `codecs.auto_decode`'s fLaC magic dispatch →
    the full frame decoder (sync/CRC parse, subframe reconstruction,
    Rice residuals, STREAMINFO MD5 verify). Any bug anywhere in that
    chain — predictor inversion, Rice zigzag, bit packing, CRC —
    perturbs samples or raises, failing the value hash. The oracle is
    the WAV query's: DuckDB computes the amplitude-octave histogram
    from `md5(text)` hex alone, container-independent by construction.
    Map-only, one Arrow hop per stage, no shuffle."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    n_samples = 64

    def encode(batches):
        import hashlib
        import struct as st

        from pipegen_spark.operators.flac import flac_encode

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                seed = hashlib.md5((t or "").encode("utf-8")).digest()
                raw = (seed * (2 * n_samples // len(seed) + 1))[
                    : 2 * n_samples
                ]
                samples = [s for (s,) in st.iter_unpack("<h", raw)]
                payloads.append(flac_encode(samples, sample_rate=8_000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": payloads}
            )

    par = spark.sparkContext.defaultParallelism
    media = (
        docs.select("doc_id", "text")
        .repartition(par)  # CPU-heavy pure-Python codec: use every core
        .mapInPandas(encode, "media_id long, content binary")
    )
    from pipegen_spark.operators.codecs import auto_decode

    return (
        mm.extract_features(media, decoder=auto_decode)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("feat_dim").cast("long").alias("feat_dim"),
            F.col("feat_norm").cast("long").alias("feat_norm"),
        )
        .orderBy("doc_id")
    )


WAV_ENERGY_BLOCKS = 16  # md5 blocks per payload (8 int16 samples each)
WAV_ENERGY_WIN = 16  # frame-energy window, in samples


def _wav_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Arrow stage behind the wav-family queries: per doc, the
    md5-block PCM buffer -> real RIFF `wav_encode` -> real
    `codecs.wav_samples` decode, returning (doc_id, samples). ONLY the
    container/codec work SQL cannot express lives here; all frame /
    resample arithmetic stays JVM-side downstream."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    n_blocks = WAV_ENERGY_BLOCKS

    def roundtrip(batches):
        import hashlib
        import struct as st

        from pipegen_spark.operators.codecs import wav_encode, wav_samples

        for pdf in batches:
            ids, arrs = [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                raw = b"".join(
                    hashlib.md5(
                        ((t or "") + f":{j}").encode("utf-8")
                    ).digest()
                    for j in range(n_blocks)
                )
                samples = [s for (s,) in st.iter_unpack("<h", raw)]
                payload = wav_encode(samples, sample_rate=8_000)
                ids.append(did)
                arrs.append(wav_samples(payload))
            yield pd.DataFrame({"doc_id": ids, "samples": arrs})

    return docs.select("doc_id", "text").mapInPandas(
        roundtrip, "doc_id long, samples array<long>"
    )


def _wav_energy_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared decode→frame-energy pipeline behind multimodal_wav_energy
    and multimodal_vad_segments: real WAV encode+decode in one Arrow
    stage, then JVM-side posexplode + per-(doc, window) Σ s² energy."""
    decoded = _wav_decoded(spark, sf_dir)
    return (
        decoded.select("doc_id", F.posexplode("samples").alias("pos", "s"))
        .select(
            "doc_id",
            F.expr(
                dl.idiv("pos", str(WAV_ENERGY_WIN), dl.SPARK)
            ).alias("win"),
            "s",
        )
        .groupBy("doc_id", "win")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("energy"),
        )
    )


def multimodal_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed frame energy over REAL audio decode — the segmentation /
    VAD primitive (energy per fixed frame is the first stage of any
    voice-activity or silence-trim pass). Each document becomes a
    128-sample 16-bit PCM WAV whose block j (8 samples) is
    md5(text || ':' || j) read as little-endian int16 — unlike the
    tiled `multimodal_wav_features` payload, every 16-sample window has
    DIFFERENT content, so the per-window surface is value-sensitive to
    sample order, not just the multiset.

    Spark-first split: the Arrow `mapInPandas` stage does ONLY what SQL
    cannot — RIFF container encode + real `codecs.wav_samples` decode —
    and returns the sample ARRAY; the frame arithmetic (posexplode,
    win = pos DIV 16, Σ s² per window) runs JVM-side in whole-stage
    codegen. DuckDB reconstructs the expected integer energies from
    md5() hex alone — a hard hash gate over every decoded sample
    (energy: s² ≤ 2^30, 16 per window → < 2^35, BIGINT-safe).

    Shape: both Arrow hops map-only; one (doc_id, win) hash aggregate
    (128 rows/doc before partial aggregation). Linear in executors."""
    return _wav_energy_frames(spark, sf_dir).orderBy("doc_id", "win")


#: ViT-style patch grid over the decoded image: 16x16 RGB image (48
#: md5 blocks), 8x8 patches -> a 2x2 grid.
PATCH_IMG_W, PATCH_IMG_H, PATCH_P = 16, 16, 8


def multimodal_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction over the REAL PNG codec — the
    vision-transformer preprocessing primitive (image -> fixed patch
    grid -> per-patch statistics) run end to end through genuine
    encode/decode: each document becomes a 16x16 RGB PNG whose byte b
    is md5(text || ':' || b DIV 16)[b % 16] (every block different, so
    patch statistics are position-sensitive), encoded and decoded with
    the real codec (chunk framing, CRC, zlib, filter reconstruction)
    in one Arrow stage that returns the pixel array; patch geometry
    (pixel -> (patch row, patch col), channel split) and per-(doc,
    patch, channel) Σs / Σs² run JVM-side.

    PNG is lossless, so DuckDB reconstructs every decoded byte
    analytically from md5() hex and computes identical integer patch
    statistics — a hard value oracle over the whole codec path AND the
    patch bookkeeping (an off-by-one in filter reconstruction or the
    patch grid moves bytes across patch boundaries and flips sums).

    Shape: map-only Arrow hop, one (doc, patch, channel) hash
    aggregate. Linear in executors."""
    import pandas as pd

    w0, h0, pp = PATCH_IMG_W, PATCH_IMG_H, PATCH_P
    n_bytes = w0 * h0 * 3
    n_blocks = n_bytes // 16

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.operators.codecs import png_decode, png_encode

        for pdf in batches:
            ids, arrs = [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                raw = b"".join(
                    hashlib.md5(
                        ((t or "") + f":{j}").encode("utf-8")
                    ).digest()
                    for j in range(n_blocks)
                )
                _, _, _, out = png_decode(png_encode(w0, h0, raw, 3))
                ids.append(did)
                arrs.append(list(out))
            yield pd.DataFrame({"doc_id": ids, "px": arrs})

    decoded = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(roundtrip, "doc_id long, px array<long>")
    )
    grid_w = w0 // pp
    return (
        decoded.select(
            "doc_id", F.posexplode("px").alias("b", "s")
        )
        .select(
            "doc_id",
            F.expr(
                f"((b DIV 3) DIV {w0} DIV {pp}) * {grid_w}"
                f" + ((b DIV 3) % {w0}) DIV {pp}"
            ).cast("long").alias("patch_id"),
            F.expr("b % 3").cast("long").alias("channel"),
            "s",
        )
        .groupBy("doc_id", "patch_id", "channel")
        .agg(
            F.count("*").cast("long").alias("n_px"),
            F.sum("s").cast("long").alias("s_sum"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("s_sq"),
        )
        .orderBy("doc_id", "patch_id", "channel")
    )


#: Rational resample ratio: out_rate = in_rate * RESAMPLE_P / RESAMPLE_Q
#: (8 kHz -> 5.333 kHz at 2/3 — a genuine fractional ratio, so both the
#: pass-through (frac = 0) and interpolated (frac > 0) paths occur).
RESAMPLE_P, RESAMPLE_Q = 2, 3


def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear audio resampling over REAL WAV decode — the sample-rate
    normalization pass every audio training pipeline runs before
    feature extraction. Output sample t sits at exact source position
    t*Q/P: idx = (t*Q) DIV P, frac = (t*Q) % P, and the interpolation
    is computed on the +32768-shifted UNSIGNED samples as
    (a*(P-frac) + b*frac) DIV P — every term non-negative, so the
    division is the plain Euclidean one and no floor-vs-truncation
    question even arises (both engines truncate toward zero on signed
    integers — verified (-7)//2 = -3 in DuckDB — but keeping the
    operands non-negative makes the invariant obvious rather than
    semantics-dependent).

    Spark-first split: the shared `_wav_decoded` Arrow stage does only
    the RIFF encode + real codec decode; the resampler itself is
    JVM-side — posexplode + lead(s) for the neighbor sample, an output
    index frame joined back on (doc, idx) — and the gate surface is
    one row per doc: output count, Σ v² energy, and an in-engine md5
    over the ORDERED resampled values (the embed_normalize fold
    pattern — element-exact without exploded-row collection). DuckDB
    reconstructs every resampled value analytically from md5() hex.

    Shape: map-only Arrow hop, one pos-keyed window + one (doc, idx)
    equi-join + one per-doc hash agg. Linear in executors."""
    from pyspark.sql.window import Window

    n_in = WAV_ENERGY_BLOCKS * 8
    p_, q_ = RESAMPLE_P, RESAMPLE_Q
    n_out = (p_ * (n_in - 1) - 1) // q_ + 1
    decoded = _wav_decoded(spark, sf_dir)
    sam = decoded.select(
        "doc_id", F.posexplode("samples").alias("pos", "s")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = sam.select(
        "doc_id", "pos", (F.col("s") + 32768).alias("a")
    ).withColumn("b", F.lead("a").over(w))
    idx_frame = decoded.select(
        "doc_id", F.explode(F.expr(f"sequence(0, {n_out - 1})")).alias("t")
    ).select(
        "doc_id",
        "t",
        F.expr(dl.idiv(f"t * {q_}", str(p_), dl.SPARK)).alias("pos"),
        F.expr(f"(t * {q_}) % {p_}").alias("frac"),
    )
    out = idx_frame.join(led, ["doc_id", "pos"]).select(
        "doc_id",
        "t",
        (
            F.expr(
                dl.idiv(
                    f"a * ({p_} - frac) + coalesce(b, a) * frac",
                    str(p_),
                    dl.SPARK,
                )
            )
            - 32768
        ).cast("long").alias("v"),
    )
    return (
        out.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_out"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("energy"),
            F.expr(
                "md5(array_join(transform(array_sort(collect_list("
                "struct(t, v))), x -> CAST(x.v AS STRING)), ','))"
            ).alias("resamp_md5"),
        )
        .orderBy("doc_id")
    )


#: Activity threshold for VAD segmentation: the EXPECTED frame energy of
#: 16 uniform int16 samples is 16·E[s²] ≈ 16·(2^32/12) ≈ 5.73e9; a
#: slightly-lower cutoff splits md5-noise frames roughly 55/45 so both
#: states (and multi-frame islands of each) occur in every corpus.
VAD_THRESHOLD = 5_500_000_000


def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over REAL audio decode — the second
    stage of the VAD pipeline whose first stage (windowed frame energy)
    is `multimodal_wav_energy`: frames with energy ≥ VAD_THRESHOLD are
    "active", and contiguous active frames merge into segments via
    gaps-and-islands (win − row_number() per doc is constant within a
    run). The surface is one row per segment: start/end window, width,
    and total energy — exactly what a silence-trim or speech-extract
    pass consumes.

    Spark-first split: the Arrow stage is the same real
    RIFF-encode + `codecs.wav_samples`-decode hop shared with
    `multimodal_wav_energy` (`_wav_energy_frames`); thresholding, the
    per-doc LAG-free island id, and the segment aggregate all run
    JVM-side. DuckDB reconstructs every expected segment from md5()
    hex alone — the same hard hash gate, now value-sensitive to the
    island bookkeeping too.

    Shape (100 TB): the only added shuffle beyond the frame aggregate
    is the per-doc window sort, keyed by doc_id (high-cardinality, no
    skew) over ≤ 8 frames/doc, then a (doc_id, island) hash aggregate.
    Linear in executors; segment count bounded by frames/doc."""
    from pyspark.sql.window import Window

    frames = _wav_energy_frames(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("win")
    active = frames.where(F.col("energy") >= F.lit(VAD_THRESHOLD))
    islands = active.withColumn(
        "isl", F.col("win") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("win").cast("long").alias("seg_start"),
            F.max("win").cast("long").alias("seg_end"),
            F.count("*").cast("long").alias("n_wins"),
            F.sum("energy").cast("long").alias("seg_energy"),
        )
        .select(
            "doc_id", "seg_start", "seg_end", "n_wins", "seg_energy"
        )
        .orderBy("doc_id", "seg_start")
    )


def multimodal_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup BLOCKING over the REAL WAV decode — the
    energy-delta sign signature (the core idea of
    chromaprint/shazam-class audio fingerprints, reduced to the energy
    feature this pipeline already extracts): bit i of the fingerprint
    is [energy(frame i+1) > energy(frame i)], robust to gain changes
    because only the energy ORDER matters. Payloads sharing a
    fingerprint are the candidates a downstream content-hash verify
    resolves — the same blocking pattern multimodal_phash applies to
    images, completing per-modality dedup (text: simhash/minhash;
    image: phash; audio: this).

    Spark-first split: frame energies come from the shared
    `_wav_energy_frames` Arrow decode; the LAG comparison, bit packing
    and fingerprint aggregate run JVM-side. DuckDB reconstructs every
    fingerprint from md5() hex alone — hard hash gate.

    Shape (100 TB): one per-doc window (keyed by doc_id, bounded
    frames/doc), one fingerprint aggregate, one fingerprint-partition
    window for the dup stats. Linear in executors."""
    from pyspark.sql.window import Window as W

    frames = _wav_energy_frames(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("win")
    fp = (
        frames.withColumn("prev", F.lag("energy").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "doc_id",
            F.when(
                F.col("energy") > F.col("prev"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(win - 1 AS INT))"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit").cast("long").alias("audio_fp"))
    )
    wf = W.partitionBy("audio_fp").orderBy("doc_id")
    wn = W.partitionBy("audio_fp")
    return fp.select(
        "doc_id",
        "audio_fp",
        F.count("*").over(wn).cast("long").alias("n_same_fp"),
        (F.row_number().over(wf) > 1).alias("is_fp_dup"),
    ).orderBy("doc_id")


FRAME_EVERY_MS = 500  # frame-sampling stride


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling + keyframe selection PLUMBING — the §2B-B29
    multimodal op the brief lists as "frame-sample". Each document
    stands in for a video (media_id = doc_id, deterministic duration
    1000 + (n_chars % 10)·500 ms); `operators/multimodal.frame_sample`
    explodes it into frame timestamps at a 500 ms stride (pure JVM-side
    `sequence()` explode — no Python anywhere), each frame gets a
    deterministic md5-derived 60-bit signature (the stand-in for a
    decoded-frame perceptual hash; real decode is the documented
    PIL/ffmpeg swap point in operators/multimodal.py), and a
    keyframe/scene-cut flag compares each signature to the previous
    frame's via one per-media LAG window.

    Shape (100 TB): explode is map-only and linear in output frames;
    the only shuffle is the per-media window sort, keyed by media_id
    (naturally high-cardinality — no skew), and frames-per-media is
    bounded by duration/stride. Surface all-scalar for the gate."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(1000) + (F.col("n_chars") % 10) * 500)
        .cast("long")
        .alias("meta_duration_ms"),
    )
    frames = mm.frame_sample(
        media, every_ms=FRAME_EVERY_MS, id_col="media_id"
    )
    sig = dl.hash60(
        "concat(cast(media_id AS string), ':',"
        " cast(frame_ts_ms AS string))",
        dl.SPARK,
    )
    w = Window.partitionBy("media_id").orderBy("frame_ts_ms")
    return (
        frames.withColumn("frame_sig", F.expr(sig))
        .withColumn("prev_sig", F.lag("frame_sig").over(w))
        .select(
            "media_id",
            "frame_ts_ms",
            "frame_sig",
            (
                F.col("prev_sig").isNull()
                | ((F.col("frame_sig") % 10) < (F.col("prev_sig") % 10))
            ).alias("is_keyframe"),
        )
        .orderBy("media_id", "frame_ts_ms")
    )


JPEG_ERR_TOL = 8  # 2x the measured worst reconstruction error (4) on
# md5-noise pixels at quant=1 — DCT+color rounding only, no quant loss

MJPEG_FPS = 4  # -> us_per_frame 250000, frame_ts stride 250 ms


def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode boundary (round 9 — closes the last multimodal
    stand-in): each document becomes a genuine Motion-JPEG VIDEO — 2 +
    (n_chars % 3) frames, frame f an 8x8 RGB picture tiled from
    md5(text || ':' || f), each encoded to a real baseline JPEG and
    muxed into a spec-shaped AVI 1.0 container
    (`codecs.avi_mjpeg_encode`: RIFF/hdrl/avih/strl/movi/idx1 with real
    size fields). The SAME bytes are then demuxed back through
    `codecs.avi_mjpeg_decode` (RIFF walk with hard bounds checks,
    header cross-validation) and every frame picture decodes through
    the from-scratch `codecs.jpeg_decode` — so the video path is as
    honest as the PNG/WAV/JPEG ones (ffmpeg remains the documented
    production swap-in at the same call site).

    Per-frame gated claims: `container_ok` (demux returns the exact
    8x8 geometry, the exact us_per_frame for MJPEG_FPS, the header
    frame count matches, and the demuxed frame bytes are BIT-IDENTICAL
    to what was muxed — any framing/size-field/alignment bug breaks
    it) and `decode_ok` (the frame's JPEG decode reconstructs the
    original 8x8 buffer within JPEG_ERR_TOL — the same lossy-codec
    property oracle as the other jpeg queries). The analytic half of
    the surface is hard-valued: frame_ts_ms from the container stride,
    the md5-derived 60-bit frame signature, and the per-media LAG
    scene-cut flag (the keyframe rule multimodal_frame_sample
    established) are all SQL-reconstructable, so the oracle hashes
    real values, not just all-true booleans. Map-only Arrow stage,
    repartitioned ahead of the CPU-heavy codec work; the only shuffle
    is the per-media LAG window keyed by media_id."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def mux_demux(batches):
        import hashlib

        from pipegen_spark.operators.codecs import (
            avi_mjpeg_decode,
            avi_mjpeg_encode,
            jpeg_decode,
            jpeg_encode,
        )

        for pdf in batches:
            ids, idxs, cok, dok = [], [], [], []
            for did, t, nc in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                n_frames = 2 + int(nc) % 3
                origs, jpgs = [], []
                for f in range(n_frames):
                    seed = hashlib.md5(
                        f"{t or ''}:{f}".encode("utf-8")
                    ).digest()
                    px = (seed * 12)[: 8 * 8 * 3]
                    origs.append(px)
                    jpgs.append(jpeg_encode(8, 8, px, 3))
                avi = avi_mjpeg_encode(jpgs, 8, 8, fps=MJPEG_FPS)
                w, h, uspf, out = avi_mjpeg_decode(avi)
                c_ok = (
                    (w, h, uspf) == (8, 8, 1_000_000 // MJPEG_FPS)
                    and out == jpgs
                )
                for f in range(n_frames):
                    dw, dh, dc, dpx = jpeg_decode(out[f])
                    ids.append(did)
                    idxs.append(f)
                    cok.append(c_ok)
                    dok.append(
                        (dw, dh, dc) == (8, 8, 3)
                        and max(
                            abs(a - b)
                            for a, b in zip(origs[f], dpx)
                        ) <= JPEG_ERR_TOL
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "container_ok": cok,
                    "decode_ok": dok,
                }
            )

    from pyspark.sql.window import Window

    par = spark.sparkContext.defaultParallelism
    frames = (
        docs.select("doc_id", "text", "n_chars")
        .repartition(par)
        .mapInPandas(
            mux_demux,
            "media_id long, frame_idx int, container_ok boolean, "
            "decode_ok boolean",
        )
    )
    sig = dl.hash60(
        "concat(cast(media_id AS string), ':',"
        " cast(frame_idx AS string))",
        dl.SPARK,
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    return (
        frames.withColumn(
            "frame_ts_ms",
            (F.col("frame_idx") * (1000 // MJPEG_FPS)).cast("long"),
        )
        .withColumn("frame_sig", F.expr(sig))
        .withColumn("prev_sig", F.lag("frame_sig").over(w))
        .select(
            "media_id",
            "frame_idx",
            "frame_ts_ms",
            "frame_sig",
            (
                F.col("prev_sig").isNull()
                | ((F.col("frame_sig") % 10) < (F.col("prev_sig") % 10))
            ).alias("is_scene_cut"),
            "container_ok",
            "decode_ok",
        )
        .orderBy("media_id", "frame_idx")
    )


def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec under the driver gate (round-7 stretch):
    each document's md5 digest is tiled into an 8x8 RGB buffer, encoded
    to a genuine baseline-sequential JPEG (SOF0, 4:4:4, computed
    canonical Huffman tables, quant=1), decoded back through
    `codecs.jpeg_decode` (marker parse, Huffman, dequantize, IDCT,
    YCbCr->RGB), and compared pixel-for-pixel against the ORIGINAL
    buffer inside one Arrow `mapInPandas` stage.

    JPEG is lossy, so the decoded bytes are not SQL-derivable — the
    hard oracle is a PROPERTY instead: n_px must be 192 and the max
    absolute reconstruction error must be within JPEG_ERR_TOL (at
    quant=1 the only loss is color-convert + DCT rounding, measured
    worst 4 on digest noise — the adversarial case for a DCT). Any bug
    anywhere in the marker framing, Huffman tables, bit stuffing,
    zigzag, DCT or color path blows the tolerance and flips decode_ok,
    failing the value hash. Map-only, one Arrow hop, no shuffle."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.operators.codecs import (
            jpeg_decode_batch,
            jpeg_encode,
            jpeg_stores_batch,
        )

        for pdf in batches:
            # Planes+FDCT (encode) and IDCT+color (decode) run once over
            # the whole pandas batch; a doc's bytes do not depend on its
            # batch (tests/test_codecs.py). Entropy coding stays per-doc
            # (sequential by nature).
            ids = list(pdf["doc_id"])
            pxs = [
                (hashlib.md5((t or "").encode("utf-8")).digest() * 12)[
                    : 8 * 8 * 3
                ]
                for t in pdf["text"]
            ]
            stores = jpeg_stores_batch(8, 8, pxs, 3)
            encs = [
                jpeg_encode(8, 8, px, 3, _stores=st)
                for px, st in zip(pxs, stores)
            ]
            outs = [d[3] for d in jpeg_decode_batch(encs)]
            n_px = [len(out) for out in outs]
            ok = [
                len(out) == len(px)
                and max(abs(a - b) for a, b in zip(px, out))
                <= JPEG_ERR_TOL
                for px, out in zip(pxs, outs)
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "n_px": n_px, "decode_ok": ok}
            )

    # The codec stage is CPU-heavy Python (pure-Python Huffman coding);
    # a single-row-group parquet file would otherwise feed it through ONE
    # task. Round-robin the narrow (id, text) projection across the
    # executors first — measured 17.9 s -> ~1 s at sf0.1 on local[32];
    # at cluster scale this is the standard spread for any
    # compute-dominated Arrow stage whose input layout is coarse.
    par = spark.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(roundtrip, "doc_id long, n_px long, decode_ok boolean")
        .orderBy("doc_id")
    )


def multimodal_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE-JPEG codec under the driver gate (closes the round-7
    verdict's one remaining codec boundary): each document's md5 digest
    is tiled into an 8x8 RGB buffer and encoded twice — baseline
    sequential (SOF0) and progressive (SOF2 via
    `codecs.jpeg_encode_progressive`: interleaved DC first scan at
    Al=1, per-component spectral-selection AC bands with EOB-run
    coding, AC refinement with buffered correction bits, raw-bit DC
    refinement) — then both are decoded through the one multi-scan
    `codecs.jpeg_decode`.

    The gated claims, per document: `sof2_ok` (the progressive file
    really is an SOF2 multi-scan stream), `equal_baseline` (progressive
    decode is BIT-IDENTICAL to the baseline decode — both scripts carry
    the same quantized coefficients, so any defect in EOB-run,
    refinement-bit, or band bookkeeping breaks exact equality), and
    `decode_ok` (reconstruction within the measured DCT-rounding
    tolerance of the original buffer). JPEG is lossy so decoded bytes
    are not SQL-derivable; like multimodal_jpeg_roundtrip the oracle is
    the PROPERTY that every row comes back all-true. Map-only, one
    Arrow hop, repartitioned ahead of the CPU-heavy codec stage."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.operators.codecs import (
            jpeg_decode_batch,
            jpeg_encode,
            jpeg_encode_progressive,
            jpeg_stores_batch,
        )

        for pdf in batches:
            # Codec pixel phases run once over the pandas batch; one
            # stores tuple feeds both writers. A doc's bytes do not
            # depend on its batch (tests/test_codecs.py).
            ids = list(pdf["doc_id"])
            pxs = [
                (hashlib.md5((t or "").encode("utf-8")).digest() * 12)[
                    : 8 * 8 * 3
                ]
                for t in pdf["text"]
            ]
            stores = jpeg_stores_batch(8, 8, pxs, 3)
            bases = [
                jpeg_encode(8, 8, px, 3, _stores=st)
                for px, st in zip(pxs, stores)
            ]
            progs = [
                jpeg_encode_progressive(8, 8, px, 3, _stores=st)
                for px, st in zip(pxs, stores)
            ]
            n = len(ids)
            decs = jpeg_decode_batch(bases + progs)
            sof2, eqb, ok = [], [], []
            for i in range(n):
                prog = progs[i]
                base_px = decs[i][3]
                prog_px = decs[n + i][3]
                sof2.append(
                    b"\xff\xc2" in prog and b"\xff\xc0" not in prog
                )
                eqb.append(prog_px == base_px)
                ok.append(
                    len(prog_px) == len(pxs[i])
                    and max(
                        abs(a - b) for a, b in zip(pxs[i], prog_px)
                    ) <= JPEG_ERR_TOL
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sof2_ok": sof2,
                    "equal_baseline": eqb,
                    "decode_ok": ok,
                }
            )

    par = spark.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(
            roundtrip,
            "doc_id long, sof2_ok boolean, equal_baseline boolean, "
            "decode_ok boolean",
        )
        .orderBy("doc_id")
    )


def multimodal_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled JPEG under the driver gate — the layout
    the overwhelming majority of real-world camera JPEGs use: each
    document's md5 digest is tiled into a 7x13 RGB buffer (deliberately
    NOT MCU-aligned: the 16x16 MCU pads the Y block grid to 2x2 while
    the used grid is 1x2, so the interleaved DC walk and the un-padded
    AC grids genuinely diverge — and the codec stage stays ~36
    pure-Python block transforms per doc, the same budget band as the
    other gated codec queries) and encoded twice — baseline sequential
    (`jpeg_encode(subsampling="420")`: 6-block MCUs, box-averaged
    half-resolution chroma) and progressive
    (`jpeg_encode_progressive(..., restart_interval=2,
    subsampling="420")`: explicit per-component block orders, RSTn
    every 2 MCUs) — then decoded through the one multi-scan
    `codecs.jpeg_decode` (sampling-factor geometry, chroma upsampled by
    replication).

    Gated claims, per document: `hv_ok` (both files really record
    Y at 2x2 / chroma at 1x1 in their SOF), `geom_ok` (decode returns
    the exact 17x13x3 geometry from subsampled planes), `equal_baseline`
    (the progressive 4:2:0 decode is BIT-IDENTICAL to the baseline
    4:2:0 decode — same quantized coefficients through a completely
    different scan script, so any defect in the MCU walk, padded-vs-used
    grid bookkeeping, or subsampled restart handling breaks exact
    equality), and `flat_ok` (a per-doc FLAT 8x8 color image — digest
    bytes 0..2 — roundtrips at 4:2:0 within +-1: box-averaging a constant is
    exact, so only DCT rounding remains; this pins the chroma VALUE
    path, not just geometry). Lossy codec => property oracle, like the
    other two jpeg queries. Map-only, one Arrow hop, repartitioned
    ahead of the CPU-heavy codec stage."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.operators.codecs import (
            jpeg_decode_batch,
            jpeg_encode,
            jpeg_encode_progressive,
            jpeg_stores_batch,
        )

        w0, h0 = 7, 13
        for pdf in batches:
            # Codec pixel phases: planes+FDCT+quantize run as ONE numpy
            # batch across the pandas batch (and one stores tuple feeds
            # BOTH writers — they quantize identically), the decode-side
            # dequant+IDCT+color likewise; only the inherently
            # sequential entropy coding stays per-doc. A doc's bytes do
            # not depend on its batch (tests/test_codecs.py).
            ids = list(pdf["doc_id"])
            seeds = [
                hashlib.md5((t or "").encode("utf-8")).digest()
                for t in pdf["text"]
            ]
            pxs = [(s * 18)[: w0 * h0 * 3] for s in seeds]
            fpxs = [bytes(s[:3]) * (8 * 8) for s in seeds]
            stores = jpeg_stores_batch(w0, h0, pxs, 3, 1, "420")
            fstores = jpeg_stores_batch(8, 8, fpxs, 3, 1, "420")
            bases = [
                jpeg_encode(w0, h0, px, 3, subsampling="420", _stores=st)
                for px, st in zip(pxs, stores)
            ]
            progs = [
                jpeg_encode_progressive(
                    w0, h0, px, 3, restart_interval=2,
                    subsampling="420", _stores=st,
                )
                for px, st in zip(pxs, stores)
            ]
            fencs = [
                jpeg_encode(8, 8, fpx, 3, subsampling="420", _stores=st)
                for fpx, st in zip(fpxs, fstores)
            ]
            n = len(ids)
            decs = jpeg_decode_batch(bases + progs + fencs)
            hv, geom, eqb, flat = [], [], [], []
            for i in range(n):
                base, prog = bases[i], progs[i]
                sof0, sof2 = base.find(b"\xff\xc0"), prog.find(b"\xff\xc2")
                bw, bh, bc, bpx = decs[i]
                ppx = decs[n + i][3]
                fdec = decs[2 * n + i][3]
                hv.append(
                    sof0 > 0 and sof2 > 0
                    and base[sof0 + 11] == 0x22
                    and base[sof0 + 14] == 0x11
                    and prog[sof2 + 11] == 0x22
                    and b"\xff\xc0" not in prog
                )
                geom.append((bw, bh, bc) == (w0, h0, 3))
                eqb.append(ppx == bpx)
                flat.append(
                    max(abs(a - b) for a, b in zip(fpxs[i], fdec)) <= 1
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "hv_ok": hv,
                    "geom_ok": geom,
                    "equal_baseline": eqb,
                    "flat_ok": flat,
                }
            )

    par = spark.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(
            roundtrip,
            "doc_id long, hv_ok boolean, geom_ok boolean, "
            "equal_baseline boolean, flat_ok boolean",
        )
        .orderBy("doc_id")
    )


def text_chardiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact character-diversity screen (Simpson collision index
    in ppm + distinct chars): catches degenerate repeated-char text and
    base64/hash blobs without the libm-log2 portability trap."""
    docs = table(spark, sf_dir, "documents")
    return tx.char_diversity(docs)


def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-VOCAB_TOPK tokens by term frequency with
    document frequency — stopword/vocab input for tokenizer decisions."""
    docs = table(spark, sf_dir, "documents")
    return tx.vocab_topk(docs, "text", "doc_id", k=VOCAB_TOPK).select(
        "token",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
    )


def curate_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (RAG/context-window prep): each
    document exploded into 200-char chunks with 50-char overlap; chunks
    reported by start offset, length, and content hash."""
    docs = table(spark, sf_dir, "documents")
    chunks = cu.chunk_documents(
        docs, "text", "doc_id", size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )
    return chunks.select(
        F.col("id").alias("doc_id"),
        "chunk_id",
        "chunk_start",
        F.expr("CAST(length(chunk) AS BIGINT)").alias("n_chunk_chars"),
        F.md5("chunk").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization pass (pre-dedup): normalized length, hash,
    and a head sample per document."""
    docs = table(spark, sf_dir, "documents")
    out = tx.with_normalized(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id",
        "n_norm_chars",
        F.md5("norm_text").alias("norm_md5"),
        F.expr("substr(norm_text, 1, 40)").alias("norm_head"),
    ).orderBy("doc_id")


def curate_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report per (lang, source) stream: docs, tokens, and
    token share of the corpus — sampling-weight input for multi-source
    training mixes."""
    docs = table(spark, sf_dir, "documents")
    return (
        cu.mixture_stats(docs, "text", ("lang", "source"))
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "token_share",
        )
        .orderBy("lang", "source")
    )


def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per document: count, checksum,
    min/max of the selected 40-bit k-gram hashes."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.winnow_fingerprints(docs).orderBy("doc_id")


def simsearch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@k of the LSH bucket probe against
    the exact brute-force top-k, per query vector. The standard way to
    tune bucket width vs accuracy before scaling the index out; both
    sides compute both rankings, so the metric itself is oracle-checked.
    """
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    brute = sim.brute_force_topk(emb, queries, k=TOPK_LSH).select(
        "query_id", "neighbor_id"
    )
    lsh = sim.lsh_bucket_topk(
        emb,
        F.col("vec_id") < N_QUERY_VECS,
        F.col("vec_id").between(RECALL_PLANE_LO, RECALL_PLANE_HI),
        k=TOPK_LSH,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = brute.join(lsh, ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span (approximate substring dedup) statistics per
    document: span occurrences, cross-document-duplicated occurrences,
    and the boilerplate dup_ratio."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.span_dup_stats(docs).orderBy("doc_id")


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (Lee et al.): every non-canonical
    occurrence of a corpus-duplicated span is removed from the text; the
    globally-first (min doc_id, pos) occurrence survives. The removal
    half of dedup_span_stats."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.span_dedup_text(docs).orderBy("doc_id")


def embed_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction by integer power iteration over the
    exact Gram matrix — the "all-but-the-top" spectral probe (see
    operators/embeddings.top_direction; on this near-isotropic
    synthetic corpus the iterate honestly shows the weak dominance a
    flat spectrum implies — the gated claim is bit-exactness of the
    defined iteration, with convergence rate a property of the
    eigen-gap, not the operator)."""
    vecs = table(spark, sf_dir, "embeddings")
    return em.top_direction(vecs, "embedding", EMB_DIM)


def embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact upper-triangle Gram (second-moment) matrix of the
    embedding corpus — the distributed accumulation half of PCA/whitening
    (the d x d eigen solve is fixed-size driver work)."""
    emb = table(spark, sf_dir, "embeddings").select("embedding")
    return em.gram_matrix(emb, dim=EMB_DIM).orderBy("dim_i", "dim_j")


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplication pairs: Broder containment |A∩B|/min(|A|,|B|)
    over the LSH candidate set (detects a document embedded inside a
    larger one, which symmetric Jaccard dilutes)."""
    docs = table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K,
        threshold=CONTAINMENT_THRESHOLD, measure="containment",
    ).limit(PAIR_LIMIT)


def simsearch_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with dense cosine
    ranking by reciprocal rank fusion (RRF, k=60) — the standard
    lexical+vector fusion of modern retrieval stacks, over the aligned
    documents/embeddings corpora (doc_id == vec_id).

    Ranks here are corpus-global row_numbers (exact, oracle-checkable;
    the unpartitioned window is the documented small-corpus path). At
    100 TB fuse per-side top-N lists instead: an absent rank contributes
    < 1/(k+N), so bounded lists give the same top-k for any sensible N —
    then each side is a distributed top-N and the fusion joins two tiny
    frames."""
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = tx.bm25_scores(docs, TFIDF_TERMS).select("doc_id", "bm25")
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    dense = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.expr(
            dl.cosine_double("embedding", "qv", EMB_DIM, dl.SPARK)
        ).alias("cos"),
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("bigint")
        .alias("r_lex"),
    )
    denser = dense.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cos").desc(), "doc_id"))
        .cast("bigint")
        .alias("r_dense"),
    )
    fused = lexr.join(denser, "doc_id").select(
        "doc_id",
        "r_lex",
        "r_dense",
        F.expr(sim.rrf_expr(RRF_K)).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(HYBRID_TOPK)


def curate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget rebalance decisions: sample the corpus down to half
    its tokens, uniform across (lang, source) streams, with
    deterministic per-doc hash-Bernoulli keep/drop."""
    docs = table(spark, sf_dir, "documents")
    return cu.mixture_sample(docs).orderBy("doc_id")


def curate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5 by salted id
    hash): per-doc labels plus the doc's stream key, so downstream
    mixture decisions can be made per split."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return cu.with_split(docs).orderBy("doc_id")


def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes over the embedding corpus: 8 subspaces
    x 8 sample-bootstrapped codewords -> one 24-bit BIGINT code per
    vector plus the integer-exact reconstruction residual."""
    vecs = table(spark, sf_dir, "embeddings")
    pred = (F.col("vec_id") >= PQ_CENT_LO) & (F.col("vec_id") <= PQ_CENT_HI)
    return em.pq_encode(vecs, pred, m=PQ_M, dim=EMB_DIM).orderBy("vec_id")


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings, then flag
    within-cluster semantic duplicates at cosine >= EMB_DUP_THRESHOLD,
    keep-first by vec_id. k derives from the corpus size —
    k = max(KMEANS_K, ceil(n / SEMDEDUP_TARGET_CLUSTER)) — NOT a fixed
    literal (round-9 re-point; this key carried the fixed-k form
    through r8, landed as `dedup_semantic_auto` in r8's gate, and is
    now the one gated surface).

    Why (measured, bench_history/scale_sf1.json): with fixed k the
    clusters grow linearly with the corpus, so the within-cluster pair
    join grows QUADRATICALLY — on a 10x corpus the fixed-k form's wall
    went x14.95 while every other measured operator stayed sub-linear.
    Size-proportional k (the discipline the SemDeDup paper itself uses:
    cluster count scales with dataset size) pins the EXPECTED cluster
    size at SEMDEDUP_TARGET_CLUSTER, making total pair volume linear in
    n. The corpus count is one scalar collect (documented bounded-
    collect site #5, SCALE.md); at this testdata scale the derived k
    equals KMEANS_K, so the results also match the historical fixed-k
    rows through an independently-derived oracle predicate. The fixed-k
    form remains available as `ref_dedup_semantic_fixedk` (test-scale
    surface, exercised in tests only — never deploy on a growing
    corpus).

    Next bottleneck on the ladder (documented, not yet needed): the
    broadcast-centroid assignment is O(n·k) = O(n²/target), which
    stays cheap through ~1e8 vectors and then wants the IVF two-level
    assignment (coarse sqrt(k) probe, then exact within the probed
    cell) — the same structure `similarity.ivf_topk` already
    implements."""
    vecs = table(spark, sf_dir, "embeddings")
    n = vecs.count()  # bounded collect: ONE scalar (see docstring)
    k = max(
        KMEANS_K,
        (n + SEMDEDUP_TARGET_CLUSTER - 1) // SEMDEDUP_TARGET_CLUSTER,
    )
    return em.semantic_dedup(
        vecs,
        F.col("vec_id") < k,
        threshold=EMB_DUP_THRESHOLD,
        iters=KMEANS_ITERS,
        vec_col="embedding",
        id_col="vec_id",
        dim=EMB_DIM,
    ).orderBy("vec_id")


def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup via IVF TWO-LEVEL assignment — the implemented next
    rung of dedup_semantic's documented scaling ladder (see
    operators/embeddings.semantic_dedup_ivf): coarse cells from the
    CENTROID sample block, fine centroids from the size-derived-k
    sample (same k rule as dedup_semantic), within-cell fine argmin,
    then the identical within-cluster keep-first pruning. At this
    test scale c (16) exceeds k, which deliberately exercises the
    empty-cell fallback path; at production scale k >> c and the
    assignment cost drops from O(n·k) to O(n·(c + k/c))."""
    vecs = table(spark, sf_dir, "embeddings")
    n = vecs.count()  # bounded collect: ONE scalar (auto-k precedent)
    k = max(
        KMEANS_K,
        (n + SEMDEDUP_TARGET_CLUSTER - 1) // SEMDEDUP_TARGET_CLUSTER,
    )
    return em.semantic_dedup_ivf(
        vecs,
        F.col("vec_id").between(CENTROID_LO, CENTROID_HI),
        F.col("vec_id") < k,
        threshold=EMB_DUP_THRESHOLD,
        vec_col="embedding",
        id_col="vec_id",
        dim=EMB_DIM,
    ).orderBy("vec_id")


def dedup_semantic_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup IVF with a TRAINED fine quantizer (r9 VERDICT next #4 —
    the production-balance path `semantic_dedup_ivf`'s docstring names):
    the fine centroids are `kmeans_centroids`' Lloyd-updated means
    (KMEANS_ITERS iterations over the size-derived-k seed sample — the
    exact frame dedup_semantic's own assignment runs against) instead
    of the raw sample rows. This is FAISS's actual IndexIVF recipe:
    train the quantizer, then build lists on it — trained centroids
    equalize list sizes, which pins the per-list pair volume the dedup
    pass pays (a raw-sample quantizer inherits the sample's local
    density as list skew). Deterministic end to end: the Lloyd means
    are integer-scaled exact sums, so the oracle unrolls the identical
    rounds as CTEs and the assignment argmins stay total-ordered."""
    vecs = table(spark, sf_dir, "embeddings")
    n = vecs.count()  # bounded collect: ONE scalar (auto-k precedent)
    k = max(
        KMEANS_K,
        (n + SEMDEDUP_TARGET_CLUSTER - 1) // SEMDEDUP_TARGET_CLUSTER,
    )
    cents = em.kmeans_centroids(
        vecs,
        F.col("vec_id") < k,
        iters=KMEANS_ITERS,
        vec_col="embedding",
        id_col="vec_id",
        dim=EMB_DIM,
    )
    return em.semantic_dedup_ivf(
        vecs,
        F.col("vec_id").between(CENTROID_LO, CENTROID_HI),
        None,
        threshold=EMB_DUP_THRESHOLD,
        vec_col="embedding",
        id_col="vec_id",
        dim=EMB_DIM,
        fine_centroids=cents.select(
            F.col("cid").alias("fid"), F.col("cv").alias("fv")
        ),
    ).orderBy("vec_id")


def ref_dedup_semantic_fixedk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[test-scale] The fixed-k SemDeDup form `dedup_semantic` carried
    through round 8 — kept OUT of the corpus (the `ref_` prefix is not
    collected by the registry) as a labeled test surface: with k fixed,
    cluster size grows linearly with the corpus and the within-cluster
    pair join goes quadratic (measured x14.95 wall at 10x,
    bench_history/scale_sf1.json). tests/test_operators.py pins its
    equivalence to `dedup_semantic` at test scale, where the derived k
    equals KMEANS_K."""
    vecs = table(spark, sf_dir, "embeddings")
    return em.semantic_dedup(
        vecs,
        F.col("vec_id") < KMEANS_K,
        threshold=EMB_DUP_THRESHOLD,
        iters=KMEANS_ITERS,
        vec_col="embedding",
        id_col="vec_id",
        dim=EMB_DIM,
    ).orderBy("vec_id")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup: sources src10-src19 arrive as the
    new batch and are checked against the existing corpus (src0-src9) by
    content hash and prefix fingerprint. The corpus has no exact
    cross-source copies (ref_exact_dup verifies all-false; the exact path
    is proven on crafted data in tests/test_dedup_incremental.py) and ~10
    prefix-boilerplate matches."""
    docs = table(spark, sf_dir, "documents")
    is_new = F.expr(dl.rlike("source", NEW_BATCH_PATTERN, dl.SPARK))
    return dd.incremental_dedup(
        docs.filter(is_new), docs.filter(~is_new), prefix_k=PREFIX_K
    ).orderBy("doc_id")


def curate_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic quality rules (Rae et al. 2021, Appendix A1): the
    word-count / mean-word-length / symbol / bullet / ellipsis /
    alpha-word / required-stopword filters as per-doc signals + the
    compound keep decision. Two thresholds are tuned to the synthetic
    corpus (GOPHER_TUNE: its 31-word vocabulary contains only one of the
    published required stopwords, and docs run 10-99 words) so the gate
    exercises BOTH keep outcomes; the operator defaults stay published."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        cu.with_gopher(docs, "text", **GOPHER_TUNE)
        .drop("text")
        .orderBy("doc_id")
    )


def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information — corpus phrase /
    multi-word-expression mining. Log-free micro-unit lift (see
    operators/text.py collocations) keeps the surface hash-exact."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.collocations(
        docs, min_count=PMI_MIN_COUNT, topk=PMI_TOPK
    )


def text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM fluency proxy (KenLM-filter shape, log-free):
    corpus conditional transition probabilities summarized per document
    as micro-unit sum/min plus a rare-transition count."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.lm_bigram_scores(docs, rare_micro=LM_RARE_MICRO).orderBy(
        "doc_id"
    )


#: CCNet bucket thresholds in milli-bits-per-bigram, set INSIDE the
#: synthetic corpus's observed spread (sf0.01 mean_bits_milli spans
#: 4727-5287) so the head/middle/tail split is exercised — on a real
#: corpus these are the knobs the Wenzek et al. pipeline fits per
#: language from Wikipedia percentiles.
CCNET_HEAD_MILLI = 4890
CCNET_TAIL_MILLI = 4940


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: mean -log2 p(w2|w1) per document
    under the corpus bigram LM, computed with a TRUE fixed-point log2
    (integer shift-and-square, bit-exact across engines — see
    operators/text.log2_fp_py) and bucketed head/middle/tail. The
    log-domain sibling of text_lm_bigram's raw-probability proxy."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.perplexity_scores(
        docs, head_milli=CCNET_HEAD_MILLI, tail_milli=CCNET_TAIL_MILLI
    ).orderBy("doc_id")


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution in TRUE bits
    (fixed-point log2) + the normalized form — the information-
    theoretic repetitiveness signal (low entropy = templated/looping
    text; Gopher-family quality input). See operators/text.
    entropy_scores for the distinct-value log-table shape."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.entropy_scores(docs).orderBy("doc_id")


def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of token occurrences with corpus frequency <=
    RARITY_MAX_FREQ — the corpus-relative gibberish/boilerplate signal
    complementing the doc-local quality score."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.rarity_scores(docs, max_freq=RARITY_MAX_FREQ).orderBy("doc_id")


def curate_rep_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1 repetition character-mass metrics: top-2-gram char
    fraction + duplicate-5-gram char fraction (Rae et al. 2021; the
    Dolma/RedPajama-v2 quality-signal family), integer ppm surfaces."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return cu.rep_ngram_stats(docs).orderBy("doc_id")


def curate_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier (Joulin et al. 2016) —
    the third filter family beside heuristic rules (curate_gopher) and
    importance weights (curate_dsir): per-doc mean of hashed
    unigram+bigram bucket weights in integer micro-units, with the keep
    label decided on cross-multiplied integers."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return cu.classifier_scores(docs).orderBy("doc_id")


def curate_ensemble(
    spark: SparkSession, sf_dir: str, percentile_gate=None
) -> DataFrame:
    """The three quality-filter families composed into one verdict, the
    way a production curation pipeline actually gates a document: Gopher
    heuristic rules AND the linear classifier AND the per-source
    percentile calibration must all agree to keep. Each signal is the
    exact same operator (and oracle fragment) as its standalone query,
    so the ensemble is pure composition — three doc_id equi-joins over
    map-only/windowed signal frames; at scale they co-partition on the
    id and the only shuffle beyond the signals' own is the join key.

    `percentile_gate` accepts either per-source calibration form
    (default since r10: the histogram-cutoff `quality_threshold_gate`,
    the production plan — the composition a 100 TB pipeline actually
    runs, no per-source rank sort anywhere; pass
    `cu.quality_percentile_gate` for the exact-rank [test-scale] form —
    both emit the same (doc_id, ..., keep) contract). The former
    `curate_ensemble_threshold` key is retired as redundant: it was
    exactly this composition."""
    gate_fn = percentile_gate or cu.quality_threshold_gate
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    g = cu.with_gopher(docs, "text", **GOPHER_TUNE).select(
        "doc_id", "gopher_keep"
    )
    c = cu.classifier_scores(docs).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    p = gate_fn(table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("keep").alias("pct_keep")
    )
    return (
        g.join(c, "doc_id")
        .join(p, "doc_id")
        .select(
            "doc_id",
            "gopher_keep",
            "clf_keep",
            "pct_keep",
            (
                F.col("gopher_keep") & F.col("clf_keep") & F.col("pct_keep")
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# (curate_ensemble_threshold retired in r10: curate_ensemble now
# composes quality_threshold_gate by default — the two keys had become
# the same query.)


def curate_near_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplicate rate — the dataset-card corpus-health
    metric: fraction (integer ppm) of documents that are exact-set dups
    of another doc OR whose shingle-set representative participates in a
    MinHash-LSH near-dup pair. Composed from the same shingle/LSH chain
    as dedup_minhash_lsh, so the two queries can never disagree about
    what a near-dup is.

    Shingle-less docs (fewer than MINHASH_K tokens, so shingle_rows emits
    no rows) are by definition NEVER near-dup but ALWAYS counted in
    n_docs: the doc→flag join is a LEFT join with coalesce(flag, false).
    The oracle applies the identical rule (round-7 ADVICE fix: the inner
    join silently dropped short docs, while the oracle grouped all of
    them under one empty-shingle key and flagged unrelated docs as
    mutual near-dups).

    Scale: the doc→representative map is one window over the shingle-set
    key (same shuffle the collapse stage already does); the pair-id join
    is a plain equi-join on rep — NOT hint-broadcast, because on a
    heavily duplicated corpus the near-dup rep set approaches n rows
    (AQE still broadcasts it when it is actually small); the rollup is
    one groupBy(source)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=MINHASH_K, threshold=MINHASH_THRESHOLD
    )
    dup_reps = (
        pairs.select(F.col("doc_a").alias("rep"))
        .unionByName(pairs.select(F.col("doc_b").alias("rep")))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    sh = (
        dd.shingle_rows(docs, "text", "doc_id", MINHASH_K, distinct=False)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("s")).alias("sh"))
    )
    wk = Window.partitionBy("skey")
    mapped = sh.withColumn(
        "skey", F.md5(F.array_join("sh", ","))
    ).select(
        "id",
        F.min("id").over(wk).alias("rep"),
        F.count("*").over(wk).cast("long").alias("grp"),
    )
    flagged = mapped.join(dup_reps, "rep", "left").select(
        "id",
        ((F.col("grp") > 1) | F.col("_hit").isNotNull()).alias(
            "is_near_dup"
        ),
    )
    return (
        docs.select(F.col("doc_id").alias("id"), "source")
        .join(flagged, "id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.coalesce(F.col("is_near_dup"), F.lit(False)), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_near_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_near_dup",
            F.expr(
                dl.idiv("n_near_dup * 1000000", "n_docs", dl.SPARK)
            ).cast("long").alias("near_dup_ppm"),
        )
        .orderBy("source")
    )


def curate_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bucket statistics of the English (target) subset vs the whole pool,
    integer micro-unit likelihood ratios, per-doc mean score, and the
    above-corpus-mean keep decision."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return cu.dsir_scores(
        docs, target=F.col("lang") == DSIR_TARGET_LANG
    ).orderBy("doc_id")


def text_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: top-CMS_TOPK tokens by sketch
    estimate, with the exact count and the (always >= 0) overcount next
    to it — the bounded-state frequency-estimation path for
    unbounded-vocabulary corpora."""
    docs = table(spark, sf_dir, "documents").select("text")
    return sk.cms_heavy_hitters(docs, "text", topk=CMS_TOPK)


def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: bottom-
    WSAMPLE_K docs by the integer priority key (salted id hash DIV
    n_chars), so longer documents are proportionally likelier — the
    size-biased counterpart to the rate-gated stratified sample."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return cu.weighted_sample(docs, "n_chars", k=WSAMPLE_K).orderBy(
        "priority", "doc_id"
    )


def simsearch_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the coarse inverted file composed with ADC over
    product-quantized RESIDUALS (FAISS IndexIVFPQ, the standard
    billion-vector layout): queries probe IVF_NPROBE lists, candidates
    rank by integer LUT sums over 3-bit residual codes (see
    operators/similarity.ivfpq_topk for the one-ingest-pass encode and
    broadcast-LUT scale shape)."""
    vecs = table(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk(
        vecs,
        F.col("vec_id") < N_QUERY_VECS,
        F.col("vec_id").between(CENTROID_LO, CENTROID_HI),
        F.col("vec_id").between(IVFPQ_CB_LO, IVFPQ_CB_HI),
        nprobe=IVF_NPROBE,
        k=TOPK_IVF,
        m=PQ_M,
        dim=EMB_DIM,
    )


def simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (Jegou et al. 2011): the compressed-
    corpus ANN path — one BIGINT code per vector on the scan side, a
    broadcast per-query integer distance LUT, top-TOPK_IVF per query."""
    vecs = table(spark, sf_dir, "embeddings")
    return sim.pq_adc_topk(
        vecs,
        F.col("vec_id").between(PQ_CENT_LO, PQ_CENT_HI),
        F.col("vec_id") < N_QUERY_VECS,
        k=TOPK_IVF,
        m=PQ_M,
        dim=EMB_DIM,
    )


def simsearch_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality measurement: recall@k of the ADC code ranking against
    the exact top-k under the SAME integer-quantized L2 metric — the
    isolation of pure quantization error (metric mismatch excluded), per
    query vector. All-integer, so the metric itself is hash-exact."""
    vecs = table(spark, sf_dir, "embeddings")
    exact = sim.quantized_l2_topk(
        vecs, F.col("vec_id") < N_QUERY_VECS, k=TOPK_IVF, m=PQ_M,
        dim=EMB_DIM,
    ).select("query_id", "neighbor_id")
    adc = sim.pq_adc_topk(
        vecs,
        F.col("vec_id").between(PQ_CENT_LO, PQ_CENT_HI),
        F.col("vec_id") < N_QUERY_VECS,
        k=TOPK_IVF,
        m=PQ_M,
        dim=EMB_DIM,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = exact.join(adc, ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability grade in integer micro-units (vowel-
    group syllable proxy) — the classic doc-complexity quality signal,
    map-only."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.with_readability(docs).drop("text").orderBy("doc_id")


def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admission pre-check for the incremental batch: the
    reference corpus (src0-src9) folds into a broadcast BLOOM_BITS-bit
    (1024) filter;
    new-batch prefix fingerprints probe it map-side. False positives are
    part of the checked surface (no false negatives, by construction)."""
    docs = table(spark, sf_dir, "documents")
    is_new = F.expr(dl.rlike("source", NEW_BATCH_PATTERN, dl.SPARK))
    return dd.bloom_admission(
        docs.filter(is_new), docs.filter(~is_new), prefix_k=PREFIX_K
    ).orderBy("doc_id")


def curate_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: salted-hash key +
    size-balanced shard per doc — the standard pre-training pass, with
    no RNG state (reproducible across engines and retries)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return cu.with_shuffle_order(docs).orderBy("shuffle_key", "doc_id")


def curate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution shift: total-variation distance between the
    English and non-English slices' token distributions over a 256-cell
    hashed vocabulary grid — bounded-state monitoring for "did the new
    crawl drift?". All-integer surfaces (cross-multiplied drift
    numerators, pre-scaled ppm denominator)."""
    docs = table(spark, sf_dir, "documents")
    return cu.corpus_drift(docs, F.col("lang") == "en", "text")


def curate_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus token distribution in
    TRUE bits (fixed-point log2) — the principled domain-drift number
    next to curate_drift's total-variation grid; see
    operators/text.kl_drift_scores for the distinct-value log-table
    shape and the BIGINT envelope."""
    docs = table(spark, sf_dir, "documents").select("source", "text")
    return tx.kl_drift_scores(docs)


def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity profile per language (n = 1..3): the
    repetitiveness/boilerplate signal — low distinct-2/3 flags template
    content even when the unigram mix looks healthy. All-integer ppm
    surfaces; two map-side-partial shuffles, no COUNT(DISTINCT) Expand."""
    docs = table(spark, sf_dir, "documents")
    return tx.ngram_diversity(docs, "text", "lang")


def curate_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: deterministic hash-gated ~15% token
    masking with numbered sentinels; emits the (input, target) denoising
    pair per document. One per-doc window sort + one reassembly agg."""
    docs = table(spark, sf_dir, "documents")
    return cu.span_mask(docs, "text", "doc_id")


def curate_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (PSM order): two hash-derived split
    points per document, map-only rearrangement — the FIM training
    objective built with no RNG state."""
    docs = table(spark, sf_dir, "documents")
    return cu.with_fim(docs, "text", "doc_id").orderBy("doc_id")


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-BPE-merge statistics: top adjacent character-pair counts
    over the corpus token multiset — tokenizer-training telemetry with a
    bounded-cardinality aggregate and TakeOrdered selection."""
    docs = table(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(docs, "text")


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (8 sequential rounds) over the corpus
    word-count vocabulary — tokenizer TRAINING, the step beyond
    text_bpe_pairs' round-one statistic (see operators/text.bpe_train
    for the 100 TB shape and the shared merge-string representation)."""
    docs = table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, "text")


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token counts under the TRAINED merge table —
    the tokenization pass that follows text_bpe_train: the corpus-true
    "how many BPE tokens" statistic (mixture budgets, packing input),
    encoded over the distinct vocabulary and joined back (see
    operators/text.bpe_encode_stats for the 100 TB shape)."""
    docs = table(spark, sf_dir, "documents")
    return tx.bpe_encode_stats(docs, "text").orderBy("doc_id")


def text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword ranking — PageRank over the unweighted
    undirected adjacent-content-word graph (the graph-centrality
    keyword score next to RAKE's frequency one; see
    operators/text.textrank_keywords for the vocabulary-bounded
    shape)."""
    docs = table(spark, sf_dir, "documents")
    return tx.textrank_keywords(docs, "text")


def text_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary typo/variant pairs (edit distance <= 1) via FastSS
    deletion-neighborhood blocking + levenshtein verify — the string
    similarity join without the all-pairs comparison. Runs over the
    SOURCE-label vocabulary: the synthetic text vocabulary has no ed-1
    pairs at all (31 well-separated words), while the src0..src19
    labels exercise deletions, insertions and substitutions."""
    docs = table(spark, sf_dir, "documents")
    return tx.typo_pairs(docs, "source")


MMR_CANDIDATES = 20
MMR_K = 5


def simsearch_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR reranking of the query's top-20
    cosine candidates down to 5 results (lambda = 0.7), the greedy
    argmax unrolled declaratively; ties on neighbor_id; integer-micro
    surfaces over the deterministic fold cosines."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC)
    return sim.mmr_rerank(
        emb, q, n_candidates=MMR_CANDIDATES, k=MMR_K, dim=EMB_DIM
    )


MATRYOSHKA_DIM = 16  # truncated prefix evaluated against the full 64


def embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-dimension evaluation: recall@k of cosine
    search over the FIRST 16 of 64 dims against the full-dim exact
    top-k — the measurement behind 'can we serve the cheap prefix
    index?'. Both rankings are deterministic fold cosines; recall
    surfaces as integer millionths. Truncation is a map-only array
    slice; each search is the broadcast-queries brute-force scan."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    full = sim.brute_force_topk(
        emb, queries, k=TOPK_BRUTE, dim=EMB_DIM
    ).select("query_id", "neighbor_id")
    sliced = dl.slice_("embedding", 1, MATRYOSHKA_DIM, dl.SPARK)
    emb16 = emb.select(
        "vec_id", F.expr(sliced).alias("embedding")
    )
    q16 = emb16.filter(F.col("vec_id") < N_QUERY_VECS)
    trunc = sim.brute_force_topk(
        emb16, q16, k=TOPK_BRUTE, dim=MATRYOSHKA_DIM
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        full.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr(
                dl.idiv("1000000 * n_hits", "n_exact", dl.SPARK)
            ).alias("recall_micro"),
        )
        .orderBy("query_id")
    )


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup BLOCKING: a 7-bit perceptual hash (dHash over the
    decoded pseudo-feature fields) buckets payloads; bucket members are
    the candidates a downstream content-hash verify resolves — the LSH
    banding pattern applied to media. Emits each blob's bucket, bucket
    size, and keep-first flag."""
    from pipegen_spark.operators.multimodal import phash_expr
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr("sha2(encode(text, 'UTF-8'), 256)").alias("sha"),
    )
    hashed = media.select(
        "media_id", F.expr(phash_expr("sha", dl.SPARK)).alias("phash")
    )
    w = W.partitionBy("phash").orderBy("media_id")
    wn = W.partitionBy("phash")
    return hashed.select(
        "media_id",
        "phash",
        F.count("*").over(wn).cast("long").alias("n_same_phash"),
        (F.row_number().over(w) > 1).alias("is_phash_dup"),
    ).orderBy("media_id")


def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies with Turing-smoothed
    adjusted counts — the unseen-mass estimate, all-rational."""
    docs = table(spark, sf_dir, "documents")
    return tx.good_turing(docs, "text")


def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (d = 3/4): continuation
    counts, one cross-multiplied rational per pair, integer millionths."""
    docs = table(spark, sf_dir, "documents")
    return tx.kneser_ney_bigrams(docs, "text")


CAL_BUCKET_WIDTH = 50  # classifier-score micro-units per reliability bucket


def curate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability (calibration) report: bucket the linear
    classifier's score into fixed-width bins and measure the observed
    Gopher-rule pass rate per bin — the standard check that a learned
    quality score actually tracks an independent quality signal before
    it gates a corpus. Fixed-width integer buckets keep the plan
    map-only + one bounded aggregate (bucket count is bounded by the
    score range, NOT corpus size — no ntile/global-sort deciles, the
    skew trap the percentile gate's threshold variant exists to avoid).

    Pure composition: the classifier and Gopher frames are the exact
    standalone operators (and oracle fragments), joined on doc_id."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    c = cu.classifier_scores(docs).select("doc_id", "avg_micro")
    g = cu.with_gopher(docs, "text", **GOPHER_TUNE).select(
        "doc_id", "gopher_keep"
    )
    return (
        c.join(g, "doc_id")
        .select(
            F.expr(
                dl.idiv("avg_micro", str(CAL_BUCKET_WIDTH), dl.SPARK)
            ).alias("bucket"),
            "gopher_keep",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("gopher_keep"), 1).otherwise(0)
            ).cast("long").alias("n_pass"),
        )
        .withColumn(
            "pass_ppm",
            F.expr(dl.idiv("1000000 * n_pass", "n_docs", dl.SPARK)),
        )
        .orderBy("bucket")
    )


def curate_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax uniform budget allocation across sources (waterfill with
    per-source epoch caps) — the published alternative to temperature
    sampling; closed-form over the k-row source frame, integer-exact."""
    docs = table(spark, sf_dir, "documents")
    return cu.unimax_allocation(docs, "source", "text")


def curate_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha = 1/2) mixture reweighting across sources:
    sqrt-scaled sampling weights with integer-quantized surfaces."""
    docs = table(spark, sf_dir, "documents")
    return cu.temperature_weights(docs, "source", "doc_id")


def curate_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation statistics (r10; RefinedWeb/C4 practice keys
    CC-scale filtering on the URL domain): doc/token counts, corpus
    shares, mean quality and the alpha=1/2 domain-weighted mixing
    weight over token mass. The schema has no URL column, so the domain
    is the deterministic hash-derived label `curation.domain_expr`
    (least-of-two-hashes — Zipf-ish skew so the mega-domain path is
    real). One bounded groupBy(domain) + broadcast totals; see
    operators/curation.domain_stats."""
    docs = table(spark, sf_dir, "documents")
    return cu.domain_stats(docs)


def curate_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-derived domain blocklist gate (r10): per-doc keep verdict
    from the two production domain bans — low mean quality (UT1-style
    list, data-derived) and the RefinedWeb mega-domain token-share cap
    — broadcast back onto the map-only (doc, domain) scan."""
    docs = table(spark, sf_dir, "documents")
    return cu.domain_blocklist_gate(docs)


def curate_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting: multiplicative-weights rounds
    over per-source excess loss (classifier-score deficit proxy),
    smoothed toward uniform — the published mixture optimizer next to
    temperature and UniMax (see operators/curation.doremi_weights for
    the engine-exact polynomial MW substitution and the one-corpus-pass
    shape)."""
    docs = table(spark, sf_dir, "documents")
    return cu.doremi_weights(docs, "source", "text", "doc_id")


def curate_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style banned-list filtering: word-boundary phrase hit counts
    over the tokenized text via the doubled-separator replace-scan
    count (see operators/curation.blocklist_exprs), per-pattern columns
    + total + the keep decision. Map-only."""
    docs = table(spark, sf_dir, "documents")
    return cu.with_blocklist(docs, "text", "doc_id").orderBy("doc_id")


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (variance-to-mean of per-doc counts, zeros via
    the n term): topic words cluster (VMR >> 1), function words spread
    (VMR ~ 1). Integer cross-multiplied surfaces."""
    docs = table(spark, sf_dir, "documents")
    return tx.term_burstiness(docs, "text", "doc_id")


def _pii_synth(d: str) -> str:
    """The md5-derived synthetic PII record appended to each doc's text
    (shared builder, both dialects — the detectors under test then run
    over REAL varying identifiers: the 16-digit card run is Luhn-valid
    for ~10% of docs, so the checkfilter's output varies non-trivially
    and any Luhn/regex bug fails the value hash). Expects columns
    (text, hx = md5(coalesce(text,''))). Positions: nibbles 1-16 ->
    card digits, 17-25 -> SSN digits, hex pairs 9/11/13/15 -> IPv4
    octets, hex chars 1-8 -> email local/domain parts."""
    from pipegen_spark.functions import dialect as dl

    if d == dl.SPARK:
        def pair(i):
            return dl.str_cast(f"CAST(conv(substr(hx,{i},2),16,10) AS INT)", d)

        def nib(i):
            return dl.str_cast(
                f"(CAST(conv(substr(hx,{i},1),16,10) AS INT) % 10)", d
            )
    else:
        def pair(i):
            return dl.str_cast(f"CAST(('0x'||substr(hx,{i},2)) AS INT)", d)

        def nib(i):
            return dl.str_cast(
                f"(CAST(('0x'||substr(hx,{i},1)) AS INT) % 10)", d
            )

    email = "'u' || substr(hx,1,6) || '@ex' || substr(hx,7,2) || '.com'"
    ip = " || '.' || ".join(pair(i) for i in (9, 11, 13, 15))
    ssn = (
        " || ".join(nib(i) for i in (17, 18, 19))
        + " || '-' || " + " || ".join(nib(i) for i in (20, 21))
        + " || '-' || " + " || ".join(nib(i) for i in (22, 23, 24, 25))
    )
    card = " || ".join(nib(i) for i in range(1, 17))
    return (
        f"COALESCE(text,'') || ' email ' || ({email}) || ' ip ' || ({ip})"
        f" || ' ssn ' || ({ssn}) || ' card ' || ({card})"
    )


def curate_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction surface (round-12) — the scrub pass a
    training corpus runs before release (C4/Dolma/BigCode-style PII
    stages): regex detectors for emails / IPv4 / SSN-shaped ids /
    16-digit card runs, the Luhn checkfilter (ISO/IEC 7812) on the
    card candidate, and the redacted length. Each doc's text gains an
    md5-derived synthetic PII record (see _pii_synth) so the detectors
    see REAL varying identifiers — ~10% of card runs are Luhn-valid —
    while the natural text contributes whatever it contains, identical
    in both engines. Pure JVM-side regexp projection, no shuffle, no
    UDF; at 100 TB this is an embarrassingly-parallel scan stage."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    df = docs.withColumn(
        "hx", F.md5(F.coalesce(F.col("text"), F.lit("")))
    ).withColumn("pii_doc", F.expr(_pii_synth(dl.SPARK)))
    return cu.pii_stats(df, text_col="pii_doc", id_col="doc_id").orderBy(
        "doc_id"
    )


def _url_raw(d: str) -> str:
    """doc_id-derived raw URL with every normalization hazard the
    canonicalizer handles (shared builder, both dialects): mixed-case
    scheme/host, optional www., optional default port, one utm_*
    tracking param, optional trailing slash, fragment. doc_id % 100
    picks the canonical target, so ~1% of docs collide canonically
    while their raw strings differ."""
    from pipegen_spark.functions import dialect as dl

    g = dl.str_cast("doc_id % 100", d)
    i = dl.str_cast("doc_id", d)
    scheme = "CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END"
    host = (
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.SiTe' "
        "WHEN 1 THEN 'www.SITE' ELSE 'site' END"
    )
    port = "CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END"
    slash = "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END"
    q = (
        f"CASE WHEN doc_id % 3 = 0 THEN '?utm_source=s' || {i} || "
        "'&id=7' ELSE '?id=7' END"
    )
    return (
        f"({scheme}) || '://' || ({host}) || {g} || '.CoM' || ({port})"
        f" || '/p/' || {g} || ({slash}) || ({q}) || '#f' || {i}"
    )


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (round-12) — the normalization a
    crawl pipeline applies BEFORE exact URL dedup (RFC 3986 §6
    syntax-based normalization + the standard tracking-param strip;
    see dialect.url_canon for the documented rule set). Each doc gets
    a doc_id-derived raw URL exercising every hazard; grouping by the
    canonical form yields the dedup groups: (canonical_url,
    n_variants, n_distinct_raw, keeper_doc). One projection + one
    hash aggregate on the canonical key — at 100 TB the groupBy
    shuffles once on a high-cardinality key, no skew (group sizes are
    bounded by the collision construction, ~n/100 here)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.withColumn("raw_url", F.expr(_url_raw(dl.SPARK)))
        .withColumn(
            "canonical_url", F.expr(dl.url_canon("raw_url", dl.SPARK))
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.countDistinct("raw_url").cast("long").alias("n_distinct_raw"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .orderBy("canonical_url")
    )


def text_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-ingestion under the hard-oracle gate (round-12): each
    document becomes a genuine per-record-gzip WARC file (the Common
    Crawl layout, `sources/warc.py`) holding a warcinfo record,
    md5-derived k in 0..2 request records (which extraction must SKIP),
    and one `response` record whose HTTP/1.1 payload carries the doc's
    text bytes with an md5-derived status (200 + nibble26 % 4). The
    SAME bytes are then parsed back through `parse_records` (version
    line, mandatory headers, Content-Length framing, CRLFCRLF
    separators, multi-member gzip) and `parse_http` — so the gated
    surface (doc_id, n_records, http_status, body_bytes) fails on any
    framing, length, or gzip-member bug. DuckDB reconstructs every
    value from md5(text) hex + octet_length(text) alone. One Arrow
    stage, repartitioned like the codec queries, no shuffle."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.sources.warc import (
            extract_responses,
            parse_records,
            write_http_response,
            write_record,
            write_warc_gz,
        )

        for pdf in batches:
            ids, nrec, status, blen = [], [], [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                text = (t or "").encode("utf-8")
                hx = hashlib.md5(text).hexdigest()
                nib26 = int(hx[25], 16)
                nib27 = int(hx[26], 16)
                st = 200 + nib26 % 4
                k = nib27 % 3
                date = "2026-08-16T00:00:00Z"
                recs = [
                    write_record(
                        "warcinfo", f"<urn:uuid:{did}-0>", date,
                        b"software: pipegen-spark\r\n",
                    )
                ]
                for j in range(k):
                    recs.append(
                        write_record(
                            "request", f"<urn:uuid:{did}-q{j}>", date,
                            b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                        )
                    )
                recs.append(
                    write_record(
                        "response", f"<urn:uuid:{did}-r>", date,
                        write_http_response(st, "X", text),
                        {
                            "WARC-Target-URI": f"http://d{did}.ex/",
                            "Content-Type":
                                "application/http;msgtype=response",
                        },
                    )
                )
                payload = write_warc_gz(recs)
                parsed = parse_records(payload)
                resp = extract_responses(payload)
                assert len(resp) == 1 and resp[0]["body"] == text
                ids.append(did)
                nrec.append(len(parsed))
                status.append(resp[0]["status"])
                blen.append(len(resp[0]["body"]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_records": nrec,
                    "http_status": status,
                    "body_bytes": blen,
                }
            )

    par = spark.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(
            roundtrip,
            "doc_id long, n_records long, http_status long, "
            "body_bytes long",
        )
        .orderBy("doc_id")
    )


# --- end-to-end curation pipeline (round-13) ---------------------------------

#: Language gate for the e2e pipeline: keep documents whose PREDICTED
#: language is the target (the synthetic corpus is English-vocab, so the
#: gate keeps everything here while staying a real filter stage).
E2E_LANG = "en"


def _warc_ingest(docs: DataFrame) -> DataFrame:
    """The e2e pipeline's crawl front door: the same per-doc WARC
    construction as `text_warc_extract` (warcinfo + k md5-derived
    request records + one HTTP response carrying the doc text), but
    this stage RETURNS the EXTRACTED body — downstream consumes the
    bytes that came back through the ISO 28500 container + gzip + HTTP
    framing, so any extraction bug corrupts every later stage, not
    just a count column. One Arrow stage, repartitioned to full
    parallelism like the codec queries; map-only, no shuffle."""
    import pandas as pd

    def roundtrip(batches):
        import hashlib

        from pipegen_spark.sources.warc import (
            extract_responses,
            write_http_response,
            write_record,
            write_warc_gz,
        )

        for pdf in batches:
            ids, srcs, status, texts = [], [], [], []
            for did, src, t in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                text = (t or "").encode("utf-8")
                hx = hashlib.md5(text).hexdigest()
                st = 200 + int(hx[25], 16) % 4
                k = int(hx[26], 16) % 3
                date = "2026-08-16T00:00:00Z"
                recs = [
                    write_record(
                        "warcinfo", f"<urn:uuid:{did}-0>", date,
                        b"software: pipegen-spark\r\n",
                    )
                ]
                for j in range(k):
                    recs.append(
                        write_record(
                            "request", f"<urn:uuid:{did}-q{j}>", date,
                            b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                        )
                    )
                recs.append(
                    write_record(
                        "response", f"<urn:uuid:{did}-r>", date,
                        write_http_response(st, "X", text),
                        {
                            "WARC-Target-URI": f"http://d{did}.ex/",
                            "Content-Type":
                                "application/http;msgtype=response",
                        },
                    )
                )
                resp = extract_responses(write_warc_gz(recs))
                assert len(resp) == 1
                ids.append(did)
                srcs.append(src)
                status.append(resp[0]["status"])
                texts.append(resp[0]["body"].decode("utf-8"))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "source": srcs,
                    "http_status": status,
                    "text": texts,
                }
            )

    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "source", "text")
        .repartition(par)
        .mapInPandas(
            roundtrip,
            "doc_id long, source string, http_status long, text string",
        )
    )


def _curation_signals(docs: DataFrame) -> DataFrame:
    """Stages 1-3 of the e2e pipeline (WARC ingest -> langid gate ->
    PII inject + redact), ending in the per-doc signal frame every
    downstream consumer reads: (doc_id, source, pred_lang, http_status,
    n_pii, redacted). After the Arrow ingest stage everything here is
    map-only JVM expressions — one pass, no shuffle."""
    ing = _warc_ingest(docs)
    lid = tx.with_langid(ing, "text").filter(
        F.col("pred_lang") == E2E_LANG
    )
    pii = lid.withColumn(
        "hx", F.md5(F.coalesce(F.col("text"), F.lit("")))
    ).withColumn("pii_doc", F.expr(_pii_synth(dl.SPARK)))
    red = cu.with_redaction(pii, "pii_doc")
    n_pii = " + ".join(f"n_{name}" for name in cu.PII_PATTERNS)
    return red.select(
        "doc_id",
        "source",
        "pred_lang",
        "http_status",
        F.expr(f"CAST({n_pii} AS BIGINT)").alias("n_pii"),
        "redacted",
    )


def curate_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation stack composed as ONE pipeline — the shape a
    100 TB training-data user actually runs, end to end:

      WARC crawl ingest (Arrow stage, `_warc_ingest`)
      -> language-ID gate (predicted language == E2E_LANG)
      -> PII injection + regex redaction (downstream consumes the
         REDACTED text — order matters and the oracle proves it)
      -> quality ensemble: Gopher rules AND fastText-style classifier
         AND per-source histogram-cutoff percentile gate, all on the
         redacted text (same operators as their standalone queries)
      -> MinHash-LSH dedup among the ensemble survivors, connected
         components, keep-best-quality per cluster
      -> deterministic 90/5/5 train/val/test split

    Output: the released-corpus manifest, one row per surviving doc —
    (doc_id, source, pred_lang, http_status, n_pii, cluster_size,
    score_micro, split), all-scalar, integer score surface.

    Scale shape: the signal frame is materialized ONCE at the stage
    boundary (spill_to_parquet — what a production pipeline does
    between stages anyway) so the five downstream consumers don't
    re-run the Arrow decode; ensemble signals are one shuffle each
    (classifier feature agg; percentile's bounded histogram), the
    dedup stage meets candidates only through LSH band buckets, and
    split/manifest are map-only. No driver-side collect anywhere; no
    row-at-a-time Python outside the designed Arrow ingest stage
    (plan-asserted in tests/test_plan_audit.py)."""
    from pipegen_spark.operators.spill import spill_to_parquet

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    base = spill_to_parquet(_curation_signals(docs), label="curate")
    # Stage 4 — ensemble (gopher inline: it is map-only over base;
    # classifier + percentile come back as doc_id equi-joins).
    c = cu.classifier_scores(base, "redacted").select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    # materialize=False: `base` is already a spilled narrow frame and
    # this DAG overlaps many concurrent stages — the gate's internal
    # spill barrier measured 14.9 -> 16.1 s at sf1 here while the
    # recompute it avoids is one tokenize of the already-materialized
    # redacted column (see the A/B note at quality_threshold_gate).
    p = cu.quality_threshold_gate(
        base, text_col="redacted", id_col="doc_id", group_col="source",
        materialize=False,
    ).select("doc_id", F.col("keep").alias("pct_keep"))
    # Second stage boundary: the ensemble survivors feed FOUR consumers
    # (LSH pairs, the cluster singleton join, the quality ranking, the
    # final manifest join) — materialize once, like `base`.
    kept = spill_to_parquet(
        cu.with_gopher(base, "redacted", **GOPHER_TUNE)
        .join(c, "doc_id")
        .join(p, "doc_id")
        .filter("gopher_keep AND clf_keep AND pct_keep")
        .select(
            "doc_id", "source", "pred_lang", "http_status", "n_pii",
            "redacted",
        ),
        label="curate-kept",
    )
    # Stage 5 — MinHash dedup keep-best among survivors.
    pairs = dd.minhash_lsh_pairs(
        kept, "redacted", "doc_id", k=MINHASH_K,
        threshold=MINHASH_THRESHOLD,
    )
    clusters = dd.dup_clusters(kept, pairs, "doc_id")
    scores = tx.with_quality(
        kept.select("doc_id", "redacted"), "redacted"
    ).select("doc_id", "quality_score")
    best = dd.keep_best(clusters, scores).filter("keep")
    # Stage 6 — split + manifest.
    final = kept.drop("redacted").join(
        best.select("doc_id", "cluster_size", "quality_score"), "doc_id"
    )
    return cu.with_split(final).select(
        "doc_id",
        "source",
        "pred_lang",
        "http_status",
        "n_pii",
        "cluster_size",
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("score_micro"),
        "split",
    ).orderBy("doc_id")


def text_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog under the HARD value gate (r13) — the
    third classic sketch beside CMS (text_cms_topk) and KMV
    (q73_kmv_overlap): per-source distinct-bigram cardinality estimated
    from 256 registers, next to the exact count it chases. Engine HLLs
    are value-incomparable (q23 can only assert a tolerance); this one
    is deterministic by construction — shared 60-bit md5 hash, integer
    estimator, the two float-derived constants embedded as literals
    identical in both dialects (operators/sketches.py:hll_distinct).
    One bounded MAX aggregate (<= |sources| * 256 rows shipped
    regardless of corpus size) + a |sources|-row estimator frame."""
    docs = table(spark, sf_dir, "documents")
    sh = dd.shingle_rows(
        docs, "text", "doc_id", k=MINHASH_K, extra_cols=("source",),
        distinct=False,
    ).select("source", "s")
    return sk.hll_distinct(sh, "s", "source").orderBy("source")


def text_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid backoff trigram LM scoring (r13) — the web-scale LM
    filter (Brants et al. 2007): new-batch documents (the incremental
    split `dedup_incremental` also uses) scored against n-gram counts
    from the reference sources, with the per-level backoff histogram
    as the domain-shift diagnostic. See
    operators/text.py:stupid_backoff_scores for semantics and the
    100 TB shape."""
    docs = table(spark, sf_dir, "documents")
    is_ref = ~F.expr(dl.rlike("source", NEW_BATCH_PATTERN, dl.SPARK))
    return tx.stupid_backoff_scores(docs, is_ref).orderBy("doc_id")
