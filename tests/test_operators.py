"""Unit tests for the training-data operator library on constructed data
(planted duplicates / known neighbors), independent of the oracle harness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipegen_spark.operators import dedup as dd
from pipegen_spark.operators import multimodal as mm
from pipegen_spark.operators import similarity as sim
from pipegen_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
        (4, "completely different content about spark engines", "en"),
        (5, "el rapido zorro marron salta sobre el perro", "es"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_exact_dedup_flags_copy(docs):
    out = dd.exact_dedup(docs).select("doc_id", "is_dup").collect()
    flags = {r.doc_id: r.is_dup for r in out}
    assert flags == {1: False, 2: True, 3: False, 4: False, 5: False}


def test_minhash_finds_planted_near_dup(docs):
    pairs = dd.minhash_lsh_pairs(docs, k=1, threshold=0.7).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # identical docs 1/2 collapse into one set (rep=1); the near-dup pair
    # (1,3) survives LSH and exact verification (jaccard 8/10)
    assert (1, 3) in found
    assert (1, 2) not in found
    for r in pairs:
        assert r.jac >= 0.7
    # doc-level mode keeps the identical pair
    raw = dd.minhash_lsh_pairs(
        docs, k=1, threshold=0.7, collapse_identical=False
    ).collect()
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in raw}


def test_simhash_identical_docs_hamming_zero(docs):
    pairs = dd.simhash_pairs(docs, max_hamming=60).collect()
    ham = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert ham.get((1, 2)) == 0
    # near-dup should be closer than the unrelated doc
    if (1, 3) in ham and (1, 4) in ham:
        assert ham[(1, 3)] < ham[(1, 4)]


def test_ngram_jaccard_scores(docs):
    pairs = dd.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    jac = {(r.doc_a, r.doc_b): r.jac for r in pairs}
    assert jac.get((1, 2)) == 1.0


def test_ngram_jaccard_single_tokenize_and_exact_sizes(spark):
    """r14: set sizes ride a window over the shingle rows instead of a
    separate groupBy branch, so the corpus tokenizes ONCE and the pair
    frame needs no size join-back. Partial-overlap pair checks the
    carried na/nb arithmetic: docs sharing 1 of (2+2-1)=3 distinct
    bigrams -> jac = 1/3."""
    rows = [
        (1, "en", "red fox jumps"),    # bigrams {red fox, fox jumps}
        (2, "en", "red fox sleeps"),   # shares exactly {red fox}
        (3, "xx", "red fox jumps"),    # other block: never paired
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = dd.ngram_jaccard_pairs(df, n=2, threshold=0.0)
    got = {(r.doc_a, r.doc_b): r.jac for r in out.collect()}
    assert got == {(1, 2): 1.0 / 3.0}
    plan = out._jdf.queryExecution().executedPlan().toString()
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Generate posexplode") == 1, head


def test_tfidf_cosine_window_norms_reference(spark):
    """r14: norms ride a window over the weighted frame instead of a
    groupBy branch joined back twice. Hand-computed integers: docs 1,2
    share one of their two trigrams; idf_milli = min(1000*3/df, cap)
    gives w=1500 (df=2) and w=3000 (df=1); nrm = 1500^2 + 3000^2 =
    11,250,000 each; num = 1500*1500 -> cos_micro = 200,000."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    rows = dd.tfidf_cosine_pairs(df, threshold_micro=0).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 1, 2_250_000, 200_000)]


def test_brute_force_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [1.0, 0.01, 0.0], 0),  # nearest to 0
            (2, [0.0, 1.0, 0.0], 0),
            (3, [-1.0, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    q = vecs.filter(F.col("vec_id") == 0)
    out = sim.brute_force_topk(vecs, q, k=3).collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert out[0].cos == pytest.approx(1.0, abs=1e-3)


def test_langid_tiebreak_and_scores(docs):
    out = {r.doc_id: r for r in tx.with_langid(docs).collect()}
    assert out[1].pred_lang == "en"
    assert out[5].pred_lang == "es"
    assert out[1].score_en >= 2


def test_quality_monotone_in_length(docs):
    out = {r.doc_id: r for r in tx.with_quality(docs).collect()}
    assert 0.0 <= out[1].quality_score <= 1.0
    assert out[1].alpha_ratio < 1.0  # spaces exist


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], ["doc_id", "text"]
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", tx.fingerprint("text").alias("fp")).collect()}
    assert fps[1] != fps[2]  # rolling hash is order-sensitive


def test_multimodal_feature_extraction(spark):
    rows = [(1, "image", b"\x89PNG-fake-bytes"), (2, "image", None)]
    df = spark.createDataFrame(rows, ["media_id", "media_type", "content"])
    out = {r.media_id: r for r in mm.extract_features(df).collect()}
    assert out[1].n_bytes == 15
    assert out[1].feat_dim == 8
    assert out[2].n_bytes == 0  # null payload handled
    # determinism
    again = {r.media_id: r for r in mm.extract_features(df).collect()}
    assert out[1].content_sha == again[1].content_sha


def test_multimodal_decoder_stub_raises(spark):
    df = spark.createDataFrame([(1, b"x")], ["media_id", "content"])
    with pytest.raises(Exception, match="decoder"):
        mm.extract_features(df, decoder=None).collect()


def test_collocations_pmi_ordering(spark):
    # "new york" always collocates (lift > 1); "the a" pairs are frequent
    # but their parts are everywhere, so their lift is lower.
    rows = [
        (1, "new york new york new york new york new york"),
        (2, "the a the a the a the a the"),
        (3, "the new a york the new a york the"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tx.collocations(df, min_count=2, topk=10).collect()
    pairs = [(r.w1, r.w2) for r in out]
    assert ("new", "york") in pairs
    ny = next(r for r in out if (r.w1, r.w2) == ("new", "york"))
    # 5 adjacent "new york" occurrences (doc 1), c_new = c_york = 7
    # (docs 1+3), N = 28 tokens: lift = 5*28/(7*7) in micro-units, floored
    assert ny.c_xy == 5 and ny.c_x == 7 and ny.c_y == 7
    assert ny.pmi_micro == (5 * 28 * 1_000_000) // (7 * 7)
    # descending by pmi_micro
    assert [r.pmi_micro for r in out] == sorted(
        [r.pmi_micro for r in out], reverse=True
    )


def test_lm_bigram_scores_rare_transitions(spark):
    rows = [
        (1, "a b a b a b"),  # only common transitions
        (2, "a b a b z q"),  # one-off transitions b->z, z->q
        (3, ""),  # zero bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in tx.lm_bigram_scores(df, rare_micro=500_000).collect()
    }
    assert out[1].n_bigrams == 5
    assert out[2].n_bigrams == 5
    # doc 2's z->q transition: c_zq=1, c_z=1 -> cond = 1.0 (not rare);
    # b->z: c_bz=1, c_b=5 -> 200000 micro (rare at the 0.5 threshold)
    assert out[2].min_cond_micro == 200_000
    assert out[2].n_rare == 1
    assert out[1].n_rare == 0
    assert out[3].n_bigrams == 0 and out[3].sum_cond_micro == 0


def test_multimodal_resize(spark):
    rows = [(1, b"payload-one"), (2, None)]
    df = spark.createDataFrame(rows, ["media_id", "content"])
    out = {r.media_id: r for r in mm.resize_media(df, 224, 224).collect()}
    assert out[1].meta_width == 224 and out[1].meta_height == 224
    assert bytes(out[1].content).startswith(b"RSZ1|224x224|")
    assert bytes(out[2].content).startswith(b"RSZ1|")  # null payload handled
    # deterministic: same payload + geometry → same bytes
    again = {r.media_id: r for r in mm.resize_media(df, 224, 224).collect()}
    assert bytes(out[1].content) == bytes(again[1].content)
    assert bytes(out[1].content) != bytes(
        mm.resize_media(df, 64, 64).collect()[0].content
    )


def test_multimodal_resizer_stub_raises(spark):
    df = spark.createDataFrame([(1, b"x")], ["media_id", "content"])
    with pytest.raises(Exception, match="resizer"):
        mm.resize_media(df, 8, 8, resizer=None).collect()


def test_frame_sample_counts(spark):
    df = spark.createDataFrame(
        [(1, 3500)], ["media_id", "meta_duration_ms"]
    )
    out = mm.frame_sample(df, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000, 3000]


def test_dup_clusters_transitive_and_singletons(spark):
    # chain 1-2, 2-3 must collapse transitively into one cluster labeled 1;
    # 4-5 a separate pair-cluster; 6 a singleton.
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 7)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"]
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dd.dup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[4] == (4, 2) and out[5] == (4, 2)
    assert out[6] == (6, 1)


def test_dup_clusters_long_chain_converges(spark):
    # A 60-node path has diameter 59: a diameter-bounded kernel capped
    # below that returns unconverged labels, star contraction does not.
    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    out = dd.dup_clusters(nodes, pairs, "doc_id").collect()
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in out)


def test_sentiment_labels_and_score(spark):
    df = spark.createDataFrame(
        [
            (1, "this is a great product i love it best purchase"),
            (2, "terrible awful experience worst bug ever hate it"),
            (3, "the fox jumps over the dog"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in tx.with_sentiment(df, "text").collect()}
    assert out[1]["sentiment"] == "positive" and out[1]["sentiment_score"] > 0
    assert out[2]["sentiment"] == "negative" and out[2]["sentiment_score"] < 0
    assert out[3]["sentiment"] == "neutral" and out[3]["sentiment_score"] == 0.0
    assert out[2]["n_neg"] == 5


def test_tfidf_ranks_matching_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark table"),   # heavy on query terms
            (2, "spark table"),
            (3, "no relevant words here"),
            (4, "rare rare rare"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in tx.tfidf_scores(
        df, ("spark", "table"), "text", "doc_id").collect()}
    assert out[1]["tfidf"] > out[2]["tfidf"] > 0
    assert out[3]["tfidf"] == 0.0 and out[3]["tf0"] == 0
    assert out[1]["tf0"] == 3 and out[1]["tf1"] == 1


def test_bm25_length_normalizes(spark):
    # same tf=1 for 'spark': the shorter doc must outrank the longer one,
    # and a no-match doc scores exactly 0.0
    df = spark.createDataFrame(
        [
            (1, "spark"),
            (2, "spark " + "pad " * 40),
            (3, "nothing to see"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in tx.bm25_scores(
        df, ("spark",), "text", "doc_id").collect()}
    assert out[1]["tf0"] == out[2]["tf0"] == 1
    assert out[1]["bm25"] > out[2]["bm25"] > 0
    assert out[3]["bm25"] == 0.0
    assert out[2]["dlen"] == 41


def test_embedding_dup_block_guard_falls_back_distributed(spark):
    """Blocks over max_block_rows must bypass the single-task pandas
    prefilter (no FlatMapGroupsInPandas over them) and still produce
    byte-identical pairs via the distributed SQL path."""
    import random

    rng = random.Random(7)
    rows = []
    # hot block: 30 vectors, several near-dup pairs; cold block: 5
    for i in range(30):
        base = [1.0, 2.0, 3.0, 4.0]
        rows.append((i, "hot", [x + rng.uniform(-0.2, 0.2) for x in base]))
    for i in range(30, 35):
        rows.append((i, "cold", [rng.uniform(-1, 1) for _ in range(4)]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )

    guarded = dd.embedding_dup_pairs(
        df, threshold=0.9, dim=4, max_block_rows=10
    )
    unguarded = dd.embedding_dup_pairs(
        df, threshold=0.9, dim=4, max_block_rows=10_000
    )
    exact = dd.embedding_dup_pairs(df, threshold=0.9, dim=4, prefilter=False)
    got = [(r.vec_a, r.vec_b, r.cos) for r in guarded.collect()]
    assert got == [(r.vec_a, r.vec_b, r.cos) for r in unguarded.collect()]
    assert got == [(r.vec_a, r.vec_b, r.cos) for r in exact.collect()]
    assert len(got) > 0


def test_prefix_dup_flags_shared_prefixes(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l unique tail one"),
            (2, "a b c d e f g h i j k l other tail here"),
            (3, "completely different document text"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dd.prefix_dup(docs, k=12).collect()}
    assert rows[1].prefix_hash == rows[2].prefix_hash
    assert not rows[1].is_prefix_dup and rows[2].is_prefix_dup
    assert rows[1].n_same_prefix == 2 and rows[3].n_same_prefix == 1


def test_vocab_topk_counts(spark):
    from pipegen_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha gamma")],
        "doc_id long, text string",
    )
    rows = tx.vocab_topk(docs, k=10).collect()
    assert [(r.token, r.tf, r.df) for r in rows] == [
        ("alpha", 3, 2), ("beta", 1, 1), ("gamma", 1, 1),
    ]


def test_mixture_stats_shares_sum_to_one(spark):
    from pipegen_spark.operators import curation as cu

    docs = spark.createDataFrame(
        [
            (1, "en", "web", "one two three"),
            (2, "en", "web", "four five"),
            (3, "fr", "book", "un deux trois quatre cinq"),
        ],
        "doc_id long, lang string, source string, text string",
    )
    rows = cu.mixture_stats(docs).collect()
    got = {(r.lang, r.source): r for r in rows}
    assert got[("en", "web")].n_docs == 2
    assert got[("en", "web")].n_tokens == 5
    assert got[("fr", "book")].n_tokens == 5
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-12


def test_keep_best_picks_highest_score_per_cluster(spark):
    from pipegen_spark.operators import dedup as dd

    clusters = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (4, 4, 1)],
        "doc_id long, cluster_id long, cluster_size long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)],
        "doc_id long, quality_score double",
    )
    rows = {r["doc_id"]: r for r in dd.keep_best(clusters, scores).collect()}
    assert not rows[1]["keep"]          # lower score loses
    assert rows[2]["keep"]              # tie -> lowest doc_id wins
    assert not rows[3]["keep"]
    assert rows[4]["keep"]              # singleton keeps itself


def test_winnow_shared_run_shares_fingerprint(spark):
    # Winnowing guarantee: any shared run of w + k - 1 words between two
    # documents yields at least one common fingerprint hash.
    run = "alpha beta gamma delta epsilon zeta"  # 6 = w + k - 1 words
    df = spark.createDataFrame(
        [
            (1, f"one two three {run} four five six"),
            (2, f"{run} seven eight nine ten eleven twelve"),
            (3, "completely different words with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    fps = tx.winnow_fingerprints(df, per_doc=False).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a hash"
    assert not (by_doc[1] & by_doc[3])


def test_winnow_short_doc_single_fingerprint(spark):
    # Fewer than w grams -> one whole-document minimum; fewer than k
    # words -> no grams, absent from output.
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n_fp for r in tx.winnow_fingerprints(df).collect()}
    assert out == {1: 1}


def test_winnow_plan_single_shuffle(docs):
    # SCALE.md claim: posexplode + gram windows + distinct + per-doc agg
    # all reuse ONE hash partitioning on doc_id — exactly one Exchange.
    out = tx.winnow_fingerprints(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan


def test_ivfpq_residuals_carry_v_no_corpus_rejoin(spark):
    """r14: the coarse argmin struct carries the row vector behind the
    (d2, cid) prefix, so the residual pass never re-joins the corpus by
    id. With broadcast joins disabled the old shape showed SortMergeJoins
    keyed on id (2 per _residuals call); the new plan has none — every
    remaining join is an explicit broadcast hint."""
    data = [
        (i, [float((i * 13) % 7) / 7.0 + 0.1 * s for s in range(4)])
        for i in range(40)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = sim.ivfpq_topk(
            df,
            F.col("vec_id") < 3,
            F.col("vec_id").between(30, 33),
            F.col("vec_id").between(34, 37),
            nprobe=2,
            k=3,
            m=2,
            dim=4,
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(rows) > 0
    assert "SortMergeJoin" not in plan, plan


def test_top_direction_no_scalar_broadcast_joins(spark):
    """r14: the power loop's per-round scalar renormalizer must ride an
    unpartitioned window over the d-row iterate, never a
    crossJoin(broadcast(1-row agg)) — the old shape paid a serialized
    BroadcastNestedLoopJoin + BroadcastExchange JOB per round (the
    doremi_weights pathology; 136 -> 8 BroadcastExchange at d=64)."""
    from pipegen_spark.operators import embeddings as em

    df = spark.createDataFrame(
        [(i, [float(i % 3) + 0.5, float((i * 7) % 5)]) for i in range(1, 21)],
        "vec_id long, embedding array<double>",
    )
    out = em.top_direction(df, "embedding", dim=2, rounds=3)
    rows = out.collect()
    assert [r.dim_idx for r in rows] == [1, 2]
    assert len({r.gnorm for r in rows}) == 1 and rows[0].gnorm > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan


def test_span_dup_stats_flags_shared_boilerplate(spark):
    bp = "this document is provided under the sample license"  # 8 words
    df = spark.createDataFrame(
        [
            (1, f"{bp} alpha beta gamma delta"),
            (2, f"{bp} epsilon zeta eta theta"),
            (3, "wholly original words nothing shared anywhere at all"),
            (4, "tiny doc"),  # < n words -> absent
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dd.span_dup_stats(df).collect()}
    assert set(out) == {1, 2, 3}
    # the 8-word boilerplate contributes 5 shared 4-grams to each doc
    assert out[1].n_dup_spans == 5 and out[2].n_dup_spans == 5
    assert out[3].n_dup_spans == 0 and out[3].dup_ratio == 0.0
    assert out[1].n_spans == 9  # 12 words -> 9 span occurrences
    assert 0 < out[1].dup_ratio < 1
    # two shuffles: groupBy(h,id) + groupBy(id); the hash window reuses
    # the first agg's partitioning
    plan = dd.span_dup_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


def test_span_dedup_text_removes_non_canonical_occurrences(spark):
    """d2 repeats d1's leading 4-token span -> its occurrence is cut;
    d3 IS that span exactly -> fully removed; short docs untouched."""
    from pipegen_spark.operators.dedup import span_dedup_text

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x x a b c d y"),
            (3, "a b c d"),
            (4, "p q"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["dedup_text"])
        for r in span_dedup_text(docs, n=4).collect()
    }
    # canonical (min (doc_id, pos)) occurrence of "a b c d" is doc 1 pos 1
    assert got[1] == (6, 6, "a b c d e f")
    # doc 2: span at pos 3 dropped -> tokens 3..6 removed
    assert got[2] == (7, 3, "x x y")
    # doc 3: its only span is a duplicate -> everything removed
    assert got[3] == (4, 0, "")
    # doc 4: shorter than a span -> untouched
    assert got[4] == (2, 2, "p q")


def test_pca_project_matches_numpy(spark):
    """Distributed exact-integer accumulation + driver eigh must agree
    with numpy PCA on the collected data (same quantization applied)."""
    import numpy as np

    from pipegen_spark.operators.embeddings import GRAM_SCALE_BITS, pca_project

    rng = np.random.RandomState(7)
    dim, n, k = 6, 200, 3
    # Anisotropic data so component order is unambiguous.
    base = rng.randn(n, dim) * np.array([5.0, 3.0, 2.0, 1.0, 0.5, 0.1])
    s = 1 << GRAM_SCALE_BITS
    quant = np.floor(base.astype(np.float64) * s + 0.5) / s
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    proj_df, (evals, evecs) = pca_project(df, dim=dim, k=k)
    # numpy reference on the same quantized values (float32 ingestion:
    # quantization happens after the FLOAT->DOUBLE cast, so quantize the
    # float32-rounded data).
    q32 = np.floor(base.astype(np.float32).astype(np.float64) * s + 0.5) / s
    mu = q32.mean(axis=0)
    cov = (q32 - mu).T @ (q32 - mu) / n
    # cov here uses exact mean-centering; the operator uses G/n - mu mu^T,
    # algebraically identical.
    ref_evals, ref_evecs = np.linalg.eigh(cov)
    order = np.argsort(ref_evals)[::-1][:k]
    ref_evals, ref_evecs = ref_evals[order], ref_evecs[:, order]
    assert np.allclose(evals, ref_evals, rtol=1e-8, atol=1e-10)
    # Eigenvectors match up to the fixed sign convention.
    for c in range(k):
        r = ref_evecs[:, c]
        j = int(np.abs(r).argmax())
        if r[j] < 0:
            r = -r
        assert np.allclose(evecs[c], r, atol=1e-8)
    # Projection rows match (x - mu) @ V computed locally.
    got = {r["id"]: np.array(r["proj"]) for r in proj_df.collect()}
    V = evecs.T  # [dim, k]
    raw32 = base.astype(np.float32).astype(np.float64)
    for i in range(0, n, 37):
        assert np.allclose(got[i], (raw32[i] - mu) @ V, atol=1e-8)
    # Orthonormal components.
    assert np.allclose(evecs @ evecs.T, np.eye(k), atol=1e-9)


def test_pq_encode_codes_and_residual(spark):
    from pipegen_spark.operators import embeddings as em

    # 4-dim vectors, 2 subspaces of 2 dims; codewords = rows 10 and 11.
    # cw0 = [0,0 | 0,0], cw1 = [1,1 | 1,1].
    rows = [
        (0, [0.0, 0.0, 1.0, 1.0]),  # sub0 -> cw0 (idx 0), sub1 -> cw1 (idx 1)
        (1, [1.0, 1.0, 0.0, 0.0]),  # sub0 -> cw1, sub1 -> cw0
        (2, [0.1, 0.0, 0.0, 0.1]),  # both near cw0, nonzero residual
        (10, [0.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in em.pq_encode(
            df, df.vec_id.isin(10, 11), m=2, dim=4
        ).collect()
    }
    # code packs 3 bits per subspace: sub0 + sub1*8
    assert out[0]["pq_code"] == 0 + 1 * 8
    assert out[1]["pq_code"] == 1 + 0 * 8
    assert out[2]["pq_code"] == 0
    assert out[0]["recon_err"] == 0 and out[1]["recon_err"] == 0
    # residual of vec 2: two coords 0.1 off -> 2 * (0.1 * 2^15)^2 quantized
    q = int(0.1 * (1 << 15) + 0.5)
    assert out[2]["recon_err"] == 2 * q * q
    # codewords encode themselves exactly
    assert out[10]["pq_code"] == 0 and out[10]["recon_err"] == 0
    assert out[11]["pq_code"] == 1 + 1 * 8 and out[11]["recon_err"] == 0


def test_semantic_dedup_prunes_within_cluster_only(spark):
    from pipegen_spark.operators import embeddings as em

    # Two well-separated clusters on orthogonal axes; ids 0 and 3 seed
    # them. Vectors 1 and 2 are near-copies of 0 (same direction); vector
    # 4 shares cluster 2's axis but is the only other member, and vector 5
    # is a near-copy of 4.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.98, 0.0, 0.01, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.05]),
        (4, [0.0, 0.0, 0.9, 0.1]),
        (5, [0.0, 0.0, 0.91, 0.09]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in em.semantic_dedup(
            df,
            df.vec_id.isin(0, 3),
            threshold=0.95,
            iters=2,
            dim=4,
        ).collect()
    }
    assert not out[0]["is_semantic_dup"]  # keep-first in cluster A
    assert out[1]["is_semantic_dup"] and out[2]["is_semantic_dup"]
    assert not out[3]["is_semantic_dup"]  # keep-first in cluster B
    assert out[5]["is_semantic_dup"]  # near-copy of 4 in the same cluster
    # cross-cluster near-parallel vectors never pair: 0-axis vs 2-axis
    assert out[1]["n_sem_dups"] == 1  # only vec 0, not anything in B


def test_pq_adc_matches_exact_distances_on_codeword_aligned_vectors(spark):
    # Codebook: 4 vectors of dim 4 (m=2, sub_dim=2). Base vectors are
    # built from exact codeword halves, so quantization error is zero and
    # the ADC distance must equal the exact quantized squared distance.
    cw = {
        100: [0.0, 0.0, 0.0, 0.0],
        101: [1.0, 0.0, 0.0, 1.0],
        102: [0.0, 1.0, 1.0, 0.0],
        103: [1.0, 1.0, 1.0, 1.0],
    }
    base = [
        (1, cw[100][:2] + cw[103][2:]),  # subspaces -> (c0, c3)
        (2, cw[101][:2] + cw[102][2:]),
        (3, cw[103][:2] + cw[100][2:]),
    ]
    query = [(0, [0.2, 0.1, 0.9, 0.8])]
    rows = [(i, v) for i, v in query + base] + [
        (i, v) for i, v in cw.items()
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.pq_adc_topk(
        df,
        F.col("vec_id") >= 100,
        F.col("vec_id") == 0,
        k=10,
        m=2,
        dim=4,
    ).collect()

    def quant(x):
        import math

        return math.floor(float(np_f32(x)) * (1 << 15) + 0.5)

    def np_f32(x):
        import numpy as np

        return np.float32(x)

    def exact(q, v):
        return sum((quant(a) - quant(b)) ** 2 for a, b in zip(q, v))

    got = {r["neighbor_id"]: r["adc_dist"] for r in out}
    q = query[0][1]
    for vid, vec in base:
        assert got[vid] == exact(q, vec), vid
    # Codeword vectors themselves are also ADC-exact.
    for vid, vec in cw.items():
        assert got[vid] == exact(q, vec), vid
    ranks = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    expect = sorted(got, key=lambda v: (got[v], v))
    assert ranks == expect


def test_readability_orders_simple_before_complex(spark):
    df = spark.createDataFrame(
        [
            (1, "a cat sat on a mat. it was flat."),
            (2, "extraordinary considerations necessitate comprehensive reevaluation"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.with_readability(df).collect()}
    # Two sentences detected for doc 1; doc 2 floors at 1.
    assert rows[1]["n_sentences"] == 2
    assert rows[2]["n_sentences"] == 1
    # The polysyllabic single-sentence doc grades much harder.
    assert rows[2]["fk_micro"] > rows[1]["fk_micro"]
    # Vowel-group syllable proxy.
    assert rows[1]["n_syllables"] == 9


# --- prefix-filtered exact set-similarity join -------------------------------


def _brute_jaccard_pairs(docs, n, t_num, t_den):
    """Brute-force model: all pairs with distinct-n-gram Jaccard >= t."""
    import re

    def sh(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    sets = {i: sh(t) for i, t in docs}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sets[a] or not sets[b]:
                continue
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if t_den * i >= t_num * u:
                out[(a, b)] = 1_000_000 * i // u
    return out


def test_setjoin_finds_all_pairs_exactly(spark):
    # Mixed corpus: exact dup, partial overlaps straddling the threshold,
    # short docs, a doc below shingle length. Exactness is the contract —
    # the result must equal the brute-force model, not approximate it.
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over a sleepy dog"),
        (4, "pack my box with five dozen liquor jugs today"),
        (5, "pack my box with five dozen liquor jugs"),
        (6, "entirely unrelated text about spark partitions here"),
        (7, "too short"),
    ]
    expect = _brute_jaccard_pairs(docs, 3, 1, 2)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jac_micro"]
        for r in dd.setjoin_jaccard_pairs(
            df, "text", "doc_id", n=3, t_num=1, t_den=2
        ).collect()
    }
    assert got == expect
    assert got[(1, 2)] == 1_000_000  # exact dup
    assert (1, 6) not in got


def test_setjoin_threshold_is_integer_exact(spark):
    # Two docs engineered to sit EXACTLY at jaccard 1/2: 4 shared + 2
    # unique shingles each -> i=4, u=8. The integer cross-multiplication
    # must include the boundary (2*4 >= 1*8).
    a = "alpha beta gamma delta epsilon zeta xx yy"
    b = "alpha beta gamma delta epsilon zeta pp qq"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out = dd.setjoin_jaccard_pairs(
        df, "text", "doc_id", n=3, t_num=1, t_den=2
    ).collect()
    [r] = out
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["jac_micro"] == 500_000


def test_setjoin_empty_and_no_pairs(spark):
    df = spark.createDataFrame(
        [(1, "one unique document"), (2, "completely different words")],
        ["doc_id", "text"],
    )
    assert dd.setjoin_jaccard_pairs(df, "text", "doc_id", n=3).count() == 0


# --- n-gram diversity --------------------------------------------------------


def test_ngram_diversity_known_ratios(spark):
    # "a a a b": unigrams 4 total / 2 distinct; bigrams [a a, a a, a b]
    # 3 total / 2 distinct; trigrams [a a a, a a b] 2 total / 2 distinct.
    df = spark.createDataFrame([(1, "en", "a a a b")], ["doc_id", "lang", "text"])
    out = {
        r["n"]: (r["total_grams"], r["distinct_grams"], r["diversity_ppm"])
        for r in tx.ngram_diversity(df, "text", "lang").collect()
    }
    assert out[1] == (4, 2, 500_000)
    assert out[2] == (3, 2, 666_666)
    assert out[3] == (2, 2, 1_000_000)


def test_ngram_diversity_groups_and_short_docs(spark):
    # Short docs yield no higher-n rows; groups aggregate independently.
    df = spark.createDataFrame(
        [(1, "en", "x y"), (2, "de", "w w w")], ["doc_id", "lang", "text"]
    )
    rows = {
        (r["grp"], r["n"]): r["diversity_ppm"]
        for r in tx.ngram_diversity(df, "text", "lang").collect()
    }
    assert rows[("en", 1)] == 1_000_000  # x, y all distinct
    assert rows[("en", 2)] == 1_000_000  # one bigram
    assert ("en", 3) not in rows  # doc shorter than 3
    assert rows[("de", 1)] == 333_333  # w w w
    assert rows[("de", 2)] == 500_000  # w w twice


def test_setjoin_random_corpora_match_brute_force(spark):
    # Seeded random corpora over a small vocabulary (high collision rate,
    # so prefixes and length filters all get exercised) vs the
    # brute-force model — exactness on arbitrary inputs, not just the
    # handcrafted cases.
    import random

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for seed in (3, 17):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
            for i in range(14)
        ]
        expect = _brute_jaccard_pairs(docs, 2, 1, 2)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r["doc_a"], r["doc_b"]): r["jac_micro"]
            for r in dd.setjoin_jaccard_pairs(
                df, "text", "doc_id", n=2, t_num=1, t_den=2
            ).collect()
        }
        assert got == expect, f"seed {seed}"


def test_bpe_pair_counts_known(spark):
    # "abab abc" -> word "abab": ab, ba, ab; word "abc": ab, bc.
    df = spark.createDataFrame([(1, "abab abc"), (2, "x")], ["doc_id", "text"])
    out = {r["pair"]: r["cnt"] for r in tx.bpe_pair_counts(df).collect()}
    assert out == {"ab": 3, "ba": 1, "bc": 1}  # 1-char words yield no pair


def test_typo_pairs_finds_all_ed1_pairs(spark):
    # Known vocabulary with substitution, deletion, insertion, and
    # far-apart words; the result must be exactly the ed<=1 pairs.
    df = spark.createDataFrame(
        [(1, "kitten sitten siting sittin kitten table cable fable art cart")],
        ["doc_id", "text"],
    )
    got = {
        (r["term_a"], r["term_b"]): r["dist"]
        for r in tx.typo_pairs(df, "text").collect()
    }
    expect = {
        ("kitten", "sitten"): 1,  # substitution
        ("sitten", "sittin"): 1,  # substitution
        ("cable", "fable"): 1,
        ("cable", "table"): 1,
        ("fable", "table"): 1,
        ("art", "cart"): 1,  # insertion
        # NOT pairs: siting↔sittin and siting↔sitten are distance 2.
    }
    assert got == expect


def test_mmr_diversifies_across_clusters(spark):
    # Two tight clusters; the query sits nearer cluster A. Pure top-3 is
    # all-A; MMR with lambda 0.7 must bring in a B member by rank 3 and
    # put the best A member first.
    import math

    def vec(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n]

    # Clusters on OPPOSITE sides of the query, both at ~25 degrees
    # (cos(q,·) ~ 0.906) but 50 degrees apart from each other
    # (sim(A,B) ~ 0.64). After the first A pick, the remaining A members
    # score (7*0.906 - 3*1.0)/10 ~ 0.334 while B scores
    # (7*0.906 - 3*0.64)/10 ~ 0.44 — diversity must pull B in at rank 2.
    rows = [
        (0, vec(1.0, 0.0)),             # query
        (1, vec(0.9063, 0.4226)), (2, vec(0.906, 0.423)),
        (3, vec(0.9058, 0.4234)),
        (10, vec(0.9063, -0.4226)), (11, vec(0.906, -0.423)),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)
    out = [
        r["neighbor_id"]
        for r in sim.mmr_rerank(df, q, n_candidates=5, k=3, dim=2).collect()
    ]
    assert out[0] == 1  # most relevant first (tie on cos -> lowest id)
    assert out[1] in (10, 11), out  # rank 2 must cross to cluster B
    assert out[2] in (2, 3), out  # then back to A (B now penalized)


def test_matryoshka_recall_instrument(spark):
    # Vectors whose signal lives entirely in the first dims: the
    # truncated ranking equals the full ranking -> recall 1.0 for a
    # prefix covering the signal, and degrades for a prefix that
    # misses it.
    import math

    def v(sig, tail):
        # 4 signal dims + 4 tail dims
        out = sig + tail
        n = math.sqrt(sum(x * x for x in out))
        return [x / n for x in out]

    z4 = [0.0] * 4
    rows = [
        (0, v([1.0, 0.0, 0.0, 0.0], z4)),
        (1, v([0.99, 0.14, 0.0, 0.0], z4)),
        (2, v([0.9, 0.43, 0.0, 0.0], z4)),
        (3, v([0.0, 1.0, 0.0, 0.0], z4)),
        (4, v([0.0, 0.0, 1.0, 0.0], z4)),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)
    full = sim.brute_force_topk(df, q, k=3, dim=8).select(
        "query_id", "neighbor_id"
    )
    tr4 = df.select(
        "vec_id", F.expr("slice(embedding, 1, 4)").alias("embedding")
    )
    trunc = sim.brute_force_topk(
        tr4, tr4.filter(F.col("vec_id") == 0), k=3, dim=4
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = full.join(trunc, ["query_id", "neighbor_id"], "left")
    [r] = joined.groupBy("query_id").agg(
        F.count("*").alias("n"), F.count("hit").alias("h")
    ).collect()
    assert (r["n"], r["h"]) == (3, 3)  # prefix holds all signal: recall 1


def test_multimodal_phash_buckets_exact_dups_together(spark):
    from pipegen_spark.operators.multimodal import phash_expr
    from pipegen_spark.functions import dialect as dl

    df = spark.createDataFrame(
        [(1, "same payload"), (2, "same payload"), (3, "different blob")],
        ["media_id", "text"],
    )
    out = {
        r["media_id"]: r["phash"]
        for r in df.select(
            "media_id",
            F.expr(
                phash_expr("sha2(encode(text, 'UTF-8'), 256)", dl.SPARK)
            ).alias("phash"),
        ).collect()
    }
    assert out[1] == out[2]  # identical payloads always share a bucket
    assert 0 <= out[3] < 128  # 7-bit key


def test_good_turing_known_table(spark):
    # tokens: a a a b b c  -> counts {a:3, b:2, c:1}
    # N_1=1, N_2=1, N_3=1; r*(1) = 2*N_2/N_1 = 2.0; r*(2) = 3*N_3/N_2 = 3;
    # r*(3) = 4*N_4/N_3 = 0 (no N_4).
    df = spark.createDataFrame([(1, "a a a b b c")], ["doc_id", "text"])
    out = {r["r"]: (r["n_r"], r["r_star_micro"])
           for r in tx.good_turing(df).collect()}
    assert out == {1: (1, 2_000_000), 2: (1, 3_000_000), 3: (1, 0)}


def test_kneser_ney_hand_computed(spark):
    # corpus bigrams: (a b) x2, (b a) x1  from "a b a b"
    # big: {ab:2, ba:1}; c1: a->(c1=2, succ=1), b->(c1=1, succ=1)
    # pred: b<-1 type (a), a<-1 type (b); B=2
    # p_kn(b|a) = max(2-.75,0)/2 + (.75*1/2)*(1/2) = 0.625 + 0.1875 = 0.8125
    # p_kn(a|b) = max(1-.75,0)/1 + (.75*1/1)*(1/2) = 0.25 + 0.375 = 0.625
    df = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    out = {(r["w1"], r["w2"]): r["pkn_micro"]
           for r in tx.kneser_ney_bigrams(df).collect()}
    assert out == {("a", "b"): 812_500, ("b", "a"): 625_000}


def test_burstiness_discriminates_topic_words(spark):
    # "the" appears once in every doc (VMR = 0 exactly: all counts equal
    # mean 1 with n = df); "quantum" appears 4x in one doc only — bursty.
    rows = [(i, "the filler words here") for i in range(1, 5)] + [
        (5, "the quantum quantum quantum quantum")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["term"]: r for r in tx.term_burstiness(df).collect()}
    # the: n=5, S=5, S2=5 -> VMR = (25-25)/25 = 0
    assert out["the"]["vmr_micro"] == 0
    # quantum: n=5, S=4, S2=16 -> (5*16-16)/(5*4) = 64/20 = 3.2
    assert out["quantum"]["vmr_micro"] == 3_200_000
    assert out["quantum"]["df"] == 1 and out["the"]["df"] == 5


def test_range_search_threshold_semantics(spark):
    from pipegen_spark.operators.similarity import range_search

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),     # cos=1 with query 0
            (2, [0.0, 1.0]),     # cos=0
            (3, [1.0, 1.0]),     # cos=sqrt(2)/2 ~ 0.707
            (4, [-1.0, 0.0]),    # cos=-1
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter("vec_id = 0")
    out = range_search(vecs, q, threshold=0.5, dim=2).collect()
    assert [(r["neighbor_id"], round(r["cos"], 3)) for r in out] == [
        (1, 1.0),
        (3, 0.707),
    ]
    # Self is excluded even though cos(self)=1.
    assert all(r["neighbor_id"] != 0 for r in out)


def test_centroid_outliers_flags_far_vector(spark):
    from pipegen_spark.operators.embeddings import centroid_outliers

    # Three vectors near the origin and one far away: the far one's
    # squared distance to the mean exceeds 1.5x the average distance.
    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [10.0, 10.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in centroid_outliers(vecs, dim=2).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[3]["outlier"] is True
    assert all(rows[i]["outlier"] is False for i in (0, 1, 2))
    # mean = (2.75, 2.75); dist2(0) = 2*2.75^2 = 15.125 -> micro units
    assert rows[0]["dist2_micro"] == 15_125_000


def test_knn_graph_within_bucket_exact(spark):
    """4 vectors, 1 plane -> 2 sign buckets; each id's neighbors must be
    the exact cosine ranking WITHIN its bucket only."""
    from pipegen_spark.operators.similarity import knn_graph

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.1]),
            (1, [1.0, 0.2]),
            (2, [1.0, 0.3]),
            (3, [-1.0, -0.1]),   # opposite half-space
            (9, [1.0, 0.0]),     # the plane vector (also a member)
        ],
        "vec_id long, embedding array<float>",
    )
    out = knn_graph(
        vecs, vecs.vec_id == 9, k=2, dim=2
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["vec_id"], []).append(r["neighbor_id"])
    # 3 is alone in the negative bucket -> no rows for it, and nobody
    # lists it as a neighbor.
    assert 3 not in by_src
    assert all(3 not in v for v in by_src.values())
    # 0,1,2,9 share the positive bucket.
    assert set(by_src) == {0, 1, 2, 9}
    # For id 0: cos(0,1)=.9952 > cos(0,9)=.9950 > cos(0,2)=.9817 -> top-2
    assert by_src[0] == [1, 9]


def test_quality_percentile_gate_semantics(spark):
    from pipegen_spark.operators.curation import quality_percentile_gate

    # Two sources: srcA has 3 docs of clearly increasing quality, srcB a
    # singleton. keep = top 60% per source.
    docs = spark.createDataFrame(
        [
            (0, "a", "zz zz zz"),
            (1, "a", "the quick brown fox jumps over the lazy dog and"
                      " that is a fine thing to have with you today"),
            (2, "a", "the and of to be that have with the and of to be"
                      " that have with more words here for length"),
            (3, "b", "anything"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["doc_id"]: r for r in quality_percentile_gate(docs).collect()}
    assert rows[3]["pct_ppm"] == 1_000_000 and rows[3]["keep"] is True
    a = sorted((rows[i]["pct_ppm"], i) for i in (0, 1, 2))
    # 3 docs -> ppm positions 0 / 500000 / 1000000
    assert [p for p, _ in a] == [0, 500_000, 1_000_000]
    # keep cutoff at 400000: worst dropped, other two kept
    worst = a[0][1]
    assert rows[worst]["keep"] is False
    assert sum(rows[i]["keep"] for i in (0, 1, 2)) == 2


def test_dim_stats_detects_dead_dimension(spark):
    from pipegen_spark.operators.embeddings import dim_stats

    # dim 0 varies, dim 1 is constant (dead), dim 2 is constant nonzero
    # (dead too: variance ~ 0 even though mean != 0).
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.5, 2.0]),
            (1, [-1.0, 0.5, 2.0]),
            (2, [3.0, 0.5, 2.0]),
            (3, [-3.0, 0.5, 2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["pos"]: r for r in dim_stats(vecs).collect()}
    assert set(rows) == {0, 1, 2}
    assert all(rows[p]["n"] == 4 for p in rows)
    assert rows[0]["dead_dim"] is False and rows[0]["var_micro"] == 5_000_000
    assert rows[1]["dead_dim"] is True and rows[1]["mean_micro"] == 500_000
    assert rows[2]["dead_dim"] is True and rows[2]["mean_micro"] == 2_000_000


# --- round-7 additions -------------------------------------------------------


def test_char_diversity_hand_computed(spark):
    from pipegen_spark.operators.text import char_diversity

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "abcd"), (2, ""), (3, "x"), (4, "aabb")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_diversity(docs).collect()}
    # "aaaa": 4 chars, 1 distinct, collision certain
    assert tuple(out[0])[1:] == (4, 1, 1_000_000, 0)
    # "abcd": all distinct, zero collision probability
    assert tuple(out[1])[1:] == (4, 4, 0, 1_000_000)
    # empty and single-char: all zeros (n<2 has no pair to collide)
    assert tuple(out[2])[1:] == (0, 0, 0, 0)
    assert tuple(out[3])[1:] == (1, 1, 0, 0)
    # "aabb": C(2,2)*2 / C(4,2)... = (2*1 + 2*1) / (4*3) = 4/12
    assert out[4]["simpson_ppm"] == 4 * 1_000_000 // 12


def test_boilerplate_stats_planted(spark):
    from pipegen_spark.operators import curation as cu

    shared = "alpha beta gamma"
    rows = [
        (i, f"{shared} filler{i} tail{i} more{i}") for i in range(5)
    ] + [
        (5, shared),                       # ENTIRELY boilerplate -> flagged
        (6, "totally unique words here"),  # no boilerplate windows
        (7, "so"),                         # < k tokens: zero windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cu.boilerplate_stats(docs, df_threshold=5).collect()
    }
    assert len(out) == 8  # short doc COUNTED, not dropped
    assert tuple(out[7])[1:] == (0, 0, 0, False)
    # the shared trigram appears in 6 docs -> boilerplate; docs 0-4 have
    # exactly one boilerplate window among their 4
    for i in range(5):
        assert out[i]["n_shingles"] == 4
        assert out[i]["boiler_hits"] == 1
        assert out[i]["boiler_frac_ppm"] == 250_000
        assert not out[i]["flagged"]
    assert tuple(out[5])[1:] == (1, 1, 1_000_000, True)
    assert out[6]["boiler_hits"] == 0


def test_boilerplate_stats_single_tokenize_and_occurrence_counts(spark):
    """r14: df is a window over the (doc, shingle) aggregate, so the
    corpus tokenizes ONCE (the old distinct+join shape ran the
    posexplode twice), and a shingle repeated WITHIN one doc counts
    once toward df but each occurrence toward boiler_hits."""
    from pipegen_spark.operators import curation as cu

    shared = "alpha beta gamma"
    rows = [(i, f"{shared} filler{i}") for i in range(4)] + [
        # doc 4 repeats the shared trigram twice (6 tokens, windows at
        # positions 1 and 4 are both "alpha beta gamma")
        (4, f"{shared} {shared}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cu.boilerplate_stats(docs, df_threshold=5).collect()
    }
    # df counts doc 4 once: 5 distinct docs -> boilerplate at threshold 5
    assert out[4]["n_shingles"] == 4
    assert out[4]["boiler_hits"] == 2  # both occurrences counted
    for i in range(4):
        assert out[i]["boiler_hits"] == 1
    plan = (
        cu.boilerplate_stats(docs, df_threshold=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Generate posexplode") == 1, head


def test_length_histogram_buckets(spark):
    from pipegen_spark.operators import curation as cu

    rows = [
        (0, "a", "one word"),        # 2 tokens  -> bucket 2 (2..3)
        (1, "a", "w " * 7),          # 7 tokens  -> bucket 3 (4..7)
        (2, "a", "w " * 8),          # 8 tokens  -> bucket 4 (8..15)
        (3, "b", ""),                # 0 tokens  -> bucket 0
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = {
        (r["source"], r["bucket"]): r
        for r in cu.length_histogram(docs).collect()
    }
    assert out[("a", 2)]["n_docs"] == 1
    assert out[("a", 3)]["total_tokens"] == 7
    assert (out[("a", 4)]["bucket_lo"], out[("a", 4)]["bucket_hi"]) == (
        8, 15,
    )
    assert out[("b", 0)]["n_docs"] == 1
    assert (out[("b", 0)]["bucket_lo"], out[("b", 0)]["bucket_hi"]) == (
        0, 0,
    )


def test_cluster_balanced_sample_invariants(spark):
    from pyspark.sql import functions as F

    from pipegen_spark.catalog import table
    from pipegen_spark.operators.embeddings import (
        CBAL_CAP,
        cluster_balanced_sample,
    )
    from tests.conftest import SF_SMOKE

    emb = table(spark, SF_SMOKE, "embeddings")
    out = cluster_balanced_sample(emb, F.col("vec_id") < 8).collect()
    assert len(out) == emb.count()  # every vector labeled
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rows in by_cluster.items():
        n = rows[0]["n_cluster"]
        assert len(rows) == n
        want = min(1_000_000, CBAL_CAP * 1_000_000 // n)
        assert all(r["rate_ppm"] == want for r in rows)
        kept = sum(r["keep"] for r in rows)
        if n <= CBAL_CAP:
            assert want == 1_000_000 and kept == n
        else:
            assert 0 < kept < n  # hash gate thins oversized clusters
    # deterministic: second run identical
    again = cluster_balanced_sample(emb, F.col("vec_id") < 8).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_gap_fill_spine_complete(spark):
    from pipegen_spark.catalog import table
    from pipegen_spark.queries.relational6 import q76_gap_fill
    from tests.conftest import SF_SMOKE

    out = q76_gap_fill(spark, SF_SMOKE).collect()
    ev = table(spark, SF_SMOKE, "events")
    total = ev.count()
    assert sum(r["n_events"] for r in out) == total
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    n_types = len(by_type)
    hours = None
    for t, rows in by_type.items():
        hs = sorted(r["hour_epoch"] for r in rows)
        # contiguous hourly spine, identical for every type
        assert hs == list(range(hs[0], hs[-1] + 3600, 3600))
        if hours is None:
            hours = hs
        assert hs == hours
        for r in rows:
            assert r["is_gap"] == (r["n_events"] == 0)
    assert len(out) == n_types * len(hours)


def test_jl_project_hand_computed(spark):
    import math

    from pipegen_spark.operators.embeddings import (
        JL_OUT_DIM,
        jl_project,
        jl_signs,
    )

    d = 16
    signs = jl_signs(d, JL_OUT_DIM)
    # e_0 basis vector: projection j = sign(j, 0) / sqrt(8)
    e0 = [1.0] + [0.0] * (d - 1)
    ones = [1.0] * d
    df = spark.createDataFrame(
        [(0, e0), (1, ones)], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in jl_project(df, in_dim=d).collect()}
    for j in range(JL_OUT_DIM):
        want0 = math.floor(
            signs[j][0] / math.sqrt(8.0) * 1_000_000.0 + 0.5
        )
        assert out[0][f"p{j}"] == want0
        want1 = math.floor(
            sum(signs[j]) / math.sqrt(8.0) * 1_000_000.0 + 0.5
        )
        assert out[1][f"p{j}"] == want1
    # sign matrix is balanced-ish and deterministic
    assert jl_signs(d, JL_OUT_DIM) == signs
    flat = [s for row in signs for s in row]
    assert {-1, 1} == set(flat)


def test_mad_anomaly_internal_consistency(spark):
    import statistics

    from pipegen_spark.queries.relational6 import q77_mad_anomaly
    from tests.conftest import SF_SMOKE

    rows = q77_mad_anomaly(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        counts = [r["n_events"] for r in rs]
        med2 = round(2 * statistics.median(counts))
        assert all(r["med2"] == med2 for r in rs)
        devs = [abs(2 * c - med2) for c in counts]
        mad4 = round(2 * statistics.median(devs))
        assert all(r["mad4"] == mad4 for r in rs)
        for r in rs:
            assert r["dev2"] == abs(2 * r["n_events"] - med2)
            assert r["is_anomaly"] == (r["dev2"] * 2 > mad4 * 3)


def test_threshold_sweep_cumulative_and_buckets(spark):
    from pipegen_spark.queries.training_data import dedup_threshold_sweep
    from tests.conftest import SF_SMOKE

    rows = sorted(
        dedup_threshold_sweep(spark, SF_SMOKE).collect(),
        key=lambda r: -r["bucket"],
    )
    run = 0
    for r in rows:  # descending buckets: cumulative must telescope
        run += r["n_pairs"]
        assert r["n_pairs_ge"] == run
        assert r["jac_lo_ppm"] == r["bucket"] * 50000
        assert 0 <= r["bucket"] <= 20 and r["n_pairs"] > 0


def test_streaks_match_bruteforce(spark):
    from pipegen_spark.catalog import table
    from pipegen_spark.queries.relational6 import q78_streaks
    from tests.conftest import SF_SMOKE

    out = {r["user_id"]: r for r in q78_streaks(spark, SF_SMOKE).collect()}
    ev = table(spark, SF_SMOKE, "events").selectExpr(
        "user_id",
        "CAST(to_unix_timestamp(date_trunc('DAY', ts)) DIV 86400"
        " AS BIGINT) AS d",
    ).collect()
    days = {}
    for r in ev:
        days.setdefault(r["user_id"], set()).add(r["d"])
    assert set(out) == set(days)
    for u, ds in days.items():
        ds = sorted(ds)
        streaks = []
        start = prev = ds[0]
        for d in ds[1:]:
            if d == prev + 1:
                prev = d
            else:
                streaks.append((start, prev - start + 1))
                start = prev = d
        streaks.append((start, prev - start + 1))
        got = out[u]
        assert got["n_active_days"] == len(ds)
        assert got["n_streaks"] == len(streaks)
        best = max(s[1] for s in streaks)
        assert got["max_streak_days"] == best
        assert got["best_streak_start"] == min(
            s[0] for s in streaks if s[1] == best
        )


def test_rake_hand_computed(spark):
    from pipegen_spark.operators.text import rake_keywords

    # non-stop tokens: deep(0) learning(1) | deep(4) network(5)
    # freq: deep 2, learning 1, network 1; deg: deep 4, learning 2,
    # network 2 -> tscores 2e6 each -> both phrases score 4e6, tie
    # broken by phrase string.
    docs = spark.createDataFrame(
        [(0, "deep learning of the deep network"),
         (1, "the of to in"),            # all stopwords -> no rows
         (2, "solo")],
        "doc_id long, text string",
    )
    rows = rake_keywords(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc
    p0 = sorted(by_doc[0], key=lambda r: r["rnk"])
    assert [(r["phrase"], r["plen"], r["score_micro"]) for r in p0] == [
        ("deep learning", 2, 4_000_000),
        ("deep network", 2, 4_000_000),
    ]
    assert [r["rnk"] for r in p0] == [1, 2]
    assert by_doc[2][0]["phrase"] == "solo"
    assert by_doc[2][0]["score_micro"] == 1_000_000


def _ref_bpe(corpus_words, rounds):
    """From-scratch reference BPE trainer (list-of-symbols form, the
    textbook algorithm) — validates bpe_train's string-replace encoding
    against the real thing, independently of either SQL engine."""
    vocab = {}
    for wd in corpus_words:
        vocab[wd] = vocab.get(wd, 0) + 1
    words = {wd: list(wd) for wd in vocab}
    merges = []
    for r in range(1, rounds + 1):
        counts = {}
        for wd, syms in words.items():
            for i in range(len(syms) - 1):  # overlap-inclusive
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + vocab[wd]
                )
        if not counts:
            break
        (x, y), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, x, y, cnt, x + y))
        for wd, syms in words.items():
            out, i = [], 0
            while i < len(syms):  # left-to-right non-overlapping merge
                if (
                    i + 1 < len(syms)
                    and syms[i] == x
                    and syms[i + 1] == y
                ):
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wd] = out
    return merges


def test_bpe_train_matches_reference(spark):
    from pipegen_spark.operators.text import bpe_train

    # 'aaa' pins the overlap rules: counting sees (a,a) twice, the merge
    # collapses left-to-right to [aa, a]; round 2 can then merge
    # (aa, a). 'banana' exercises interior repeats, the rest ties.
    texts = [
        (0, "aaa banana aaa band"),
        (1, "banana bandana aaa"),
        (2, "low lower lowest low"),
        (3, ""),
    ]
    corpus_words = [
        w for _, t in texts for w in t.split() if w
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = [
        (r["merge_rank"], r["sym_x"], r["sym_y"], r["pair_count"],
         r["merged"])
        for r in bpe_train(docs, rounds=6).collect()
    ]
    assert got == _ref_bpe(corpus_words, 6)


def test_bpe_train_merge_chain_and_dry_out(spark):
    from pipegen_spark.operators.text import bpe_train

    # single repeated word: merges chain a->aa->aaaa... until the word
    # is one symbol, then the trainer runs dry early (< rounds rows).
    docs = spark.createDataFrame(
        [(0, "aaaa aaaa")], "doc_id long, text string"
    )
    rows = bpe_train(docs, rounds=8).collect()
    assert [(r["sym_x"], r["sym_y"]) for r in rows] == [
        ("a", "a"), ("aa", "aa")
    ]
    assert [r["pair_count"] for r in rows] == [6, 2]


def _py_buckets(vecs, plane_ids):
    """Sign-LSH bucket ids, mirroring similarity.bucket_ids: bit i set
    when dot(v, plane_i) > 0, planes ordered by their vec_id."""
    planes = [vecs[p][0] for p in sorted(plane_ids)]
    out = {}
    for vid, (v, _) in vecs.items():
        b = 0
        for i, pv in enumerate(planes):
            if sum(x * y for x, y in zip(v, pv)) > 0:
                b |= 1 << i
        out[vid] = b
    return out


def _py_cos(a, b):
    import math

    num = sum(x * y for x, y in zip(a, b))
    return num / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    )


def test_hard_negatives_reference(spark):
    # Hand-built geometry: labels 0/1 interleaved so every bucket holds
    # cross-label candidates; vec 0 doubles as the single LSH plane
    # (2 buckets: sign of x-coordinate).
    data = {
        0: ([1.0, 0.0], 0),
        1: ([0.9, 0.1], 1),
        2: ([0.8, -0.2], 0),
        3: ([-1.0, 0.1], 1),
        4: ([-0.9, -0.1], 0),
        5: ([0.7, 0.7], 1),
    }
    base = spark.createDataFrame(
        [(k, v, l) for k, (v, l) in data.items()],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["vec_id"]: (r["label"], r["neg_id"], r["neg_label"])
        for r in sim.hard_negatives(
            base, F.col("vec_id") == 0, dim=2
        ).collect()
    }
    buckets = _py_buckets(data, [0])
    expect = {}
    for a, (va, la) in data.items():
        cands = [
            (b, _py_cos(va, vb), lb)
            for b, (vb, lb) in data.items()
            if b != a and lb != la and buckets[b] == buckets[a]
        ]
        if cands:
            best = max(cands, key=lambda c: (c[1], -c[0]))
            expect[a] = (la, best[0], best[2])
    assert got == expect
    # every mined negative really is cross-label
    assert all(l != nl for (l, _, nl) in got.values())


def test_bitext_margin_reference(spark):
    import math

    # en sources vs xx targets; vec 0 is the plane. Margins computed by
    # an independent list-based replica of the ratio-margin rule.
    data = {
        0: ([1.0, 0.0], "en"),
        1: ([0.95, 0.05], "xx"),
        2: ([0.9, -0.1], "en"),
        3: ([0.7, 0.3], "xx"),
        4: ([-0.8, 0.1], "en"),
        5: ([-0.9, -0.2], "xx"),
        6: ([0.6, 0.6], "xx"),
    }
    base = spark.createDataFrame(
        [(k, v) for k, (v, _) in data.items()],
        "vec_id long, embedding array<float>",
    )
    groups = spark.createDataFrame(
        [(k, lang == "en") for k, (_, lang) in data.items()],
        "vec_id long, is_src boolean",
    )
    k = 2
    got = {
        r["vec_id"]: (r["tgt_id"], r["cos_micro"], r["margin_ppm"])
        for r in sim.bitext_margin(
            base,
            groups,
            F.col("vec_id") == 0,
            k=k,
            dim=2,
        ).collect()
    }
    buckets = _py_buckets(
        {kk: (v, 0) for kk, (v, _) in data.items()}, [0]
    )
    pairs = []
    for s, (vs, ls) in data.items():
        if ls != "en":
            continue
        for t, (vt, lt) in data.items():
            if lt == "en" or buckets[t] != buckets[s]:
                continue
            cm = math.floor(_py_cos(vs, vt) * 1_000_000 + 0.5)
            if cm > 0:
                pairs.append((s, t, cm))
    s_top = {}
    t_top = {}
    for s, t, cm in sorted(pairs, key=lambda p: (-p[2], p[1])):
        s_top.setdefault(s, []).append(cm)
    for s, t, cm in sorted(pairs, key=lambda p: (-p[2], p[0])):
        t_top.setdefault(t, []).append(cm)
    expect = {}
    for s, t, cm in pairs:
        ss, tt = s_top[s][:k], t_top[t][:k]
        den = sum(ss) // len(ss) + sum(tt) // len(tt)
        margin = (cm * 2_000_000) // den
        cur = expect.get(s)
        if cur is None or (margin, -t) > (cur[2], -cur[0]):
            expect[s] = (t, cm, margin)
    assert got == expect


def test_bitext_margin_null_group_dropped_and_single_assign_pass(spark):
    """r14: the src/tgt split rides the join condition (side_a >
    side_b), not per-side filters — so (1) a null is_src row must still
    drop from BOTH sides (the old filter semantics), and (2) the bucket
    self-join's two branches are the identical subtree, which the
    engine dedupes to ONE plane-dot assign pass (ReusedExchange /
    ReusedQueryStage in the executed plan)."""
    base = spark.createDataFrame(
        [(i, [1.0 - 0.01 * i, 0.01 * i]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    groups = spark.createDataFrame(
        # vec 3: null is_src (e.g. null lang) -> excluded entirely
        [(i, None if i == 3 else (i % 2 == 0)) for i in range(12)],
        "vec_id long, is_src boolean",
    )
    out = sim.bitext_margin(
        base, groups, F.col("vec_id") == 0, k=2, dim=2
    )
    rows = out.collect()
    ids = {r["vec_id"] for r in rows} | {r["tgt_id"] for r in rows}
    assert 3 not in ids
    assert rows  # same-bucket pairs exist at this scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df2 = sim.bitext_margin(
            base, groups, F.col("vec_id") == 0, k=2, dim=2
        )
        df2.collect()
        plan = df2._jdf.queryExecution().executedPlan().toString()
    finally:
        # restore the session's configured value (unset would fall back
        # to the engine default, not the fixture's threshold)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    head = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in head or "ReusedQueryStage" in head, head


def test_dedup_semantic_auto_k_equals_fixed_k_at_test_scale(spark):
    """Round-9 re-point: the gated `dedup_semantic` derives k from the
    corpus size; at test scale the derived k equals KMEANS_K, so its
    results must be identical to the retained [test-scale] fixed-k
    surface (`ref_dedup_semantic_fixedk`) — proving the re-point
    changed the scaling law, not the semantics."""
    from tests.conftest import SF_SMOKE

    from pipegen_spark.queries.training_data import (
        KMEANS_K,
        SEMDEDUP_TARGET_CLUSTER,
        dedup_semantic,
        knn_plane_count,
        ref_dedup_semantic_fixedk,
        table,
    )

    n = table(spark, SF_SMOKE, "embeddings").count()
    assert (n + SEMDEDUP_TARGET_CLUSTER - 1) // SEMDEDUP_TARGET_CLUSTER <= KMEANS_K
    auto = dedup_semantic(spark, SF_SMOKE).collect()
    fixed = ref_dedup_semantic_fixedk(spark, SF_SMOKE).collect()
    assert auto == fixed
    # plane-count sizing: base size -> historical 4 planes; doublings
    # add one plane each; the clamp holds.
    assert knn_plane_count(500) == 4
    assert knn_plane_count(1000) == 5
    assert knn_plane_count(2000) == 6
    assert knn_plane_count(500 * 256) == 12
    assert knn_plane_count(10**9) == 12


def test_log2_fp_accuracy_and_envelope():
    """The fixed-point log2 must track math.log2 within ~2 output units
    (3e-5 bits) across the micro-probability domain, hit powers of two
    exactly, and reject non-positive input."""
    import math

    import pytest as _pt

    from pipegen_spark.operators.text import (
        L2_ONE_MICRO_FP,
        LOG2_FRAC_BITS,
        log2_fp_py,
    )

    scale = 1 << LOG2_FRAC_BITS
    for x in (1, 2, 3, 7, 10, 999, 1000, 65536, 524287, 999_999, 10**6):
        err = abs(log2_fp_py(x) / scale - math.log2(x))
        assert err < 4 / scale, (x, err)
    for p in range(20):
        assert log2_fp_py(1 << p) == p * scale  # powers of two exact
    assert L2_ONE_MICRO_FP == log2_fp_py(1_000_000)
    with _pt.raises(ValueError):
        log2_fp_py(0)


def test_log2_fp_wide_domain_three_way(spark):
    """r10 envelope extension (ADVICE medium): the mantissa-pre-reduced
    chain must agree BIT-EXACTLY across Python, Spark and DuckDB over
    values spanning the e=32 reduction boundary up to 2^63-1 — the
    counts a 100 TB corpus actually produces (n ~ 1e13 >> 2^33) — and
    stay within tolerance of math.log2 throughout."""
    import math

    import duckdb

    import pipegen_spark.queries.training_oracle as to
    from pipegen_spark.operators.text import (
        LOG2_FRAC_BITS,
        _with_log2_fp,
        log2_fp_py,
    )

    vals = [
        1, 2, 3, 999_999, (1 << 32) - 1, 1 << 32, (1 << 33) - 1,
        1 << 33, (1 << 33) + 1, 10**10, 10**13, 2 * 10**13,
        (1 << 41) + 12345, 10**18, (1 << 62) + 7, (1 << 63) - 1,
    ]
    scale = 1 << LOG2_FRAC_BITS
    py = {v: log2_fp_py(v) for v in vals}
    for v, fp in py.items():
        assert abs(fp / scale - math.log2(v)) < 4 / scale, v
    sdf = spark.createDataFrame([(v,) for v in vals], "v long")
    got_s = {
        r["v"]: r["lg"]
        for r in _with_log2_fp(sdf, "v", "lg", max_bits=63).collect()
    }
    assert got_s == py
    values = " UNION ALL ".join(f"SELECT CAST({v} AS BIGINT) AS v" for v in vals)
    sql = (
        f"WITH src AS ({values}),\n    "
        + to._log2_chain_ctes("src", "lg", 63)
        + "\n    SELECT v, lg FROM lg"
    )
    got_d = {v: lg for v, lg in duckdb.sql(sql).fetchall()}
    assert got_d == py


def test_log2_fp_spark_guard_raises(spark):
    """The r10 runtime guard: out-of-domain input must FAIL the job
    loudly (raise_error) instead of silently wrapping through Spark's
    modulo-64 shiftleft."""
    import pytest as _pt

    from pipegen_spark.operators.text import _with_log2_fp

    bad_zero = spark.createDataFrame([(0,)], "v long")
    with _pt.raises(Exception, match="log2_fp"):
        _with_log2_fp(bad_zero, "v", "lg", max_bits=63).collect()
    bad_high = spark.createDataFrame([(1 << 21,)], "v long")
    with _pt.raises(Exception, match="log2_fp"):
        _with_log2_fp(bad_high, "v", "lg", max_bits=20).collect()


def test_perplexity_scores_crafted(spark):
    """Hand-checkable LM: in 'a b a b a c', p(b|a)=2/3, p(a|b)=1,
    p(c|a)=1/3 — the all-'a b' doc must score LOWER mean bits than the
    doc carrying the rare a->c transition, and a one-token doc has no
    bigrams and lands in 'tail'."""
    from pipegen_spark.operators.text import (
        L2_ONE_MICRO_FP,
        log2_fp_py,
        perplexity_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "x")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in perplexity_scores(docs, head_milli=1, tail_milli=10**9)
        .collect()
    }
    assert got[3]["n_bigrams"] == 0 and got[3]["bucket"] == "tail"
    assert got[1]["mean_bits_milli"] < got[2]["mean_bits_milli"]
    # doc 2 is exactly one a->c transition: p = 1/3 of a-occurrences;
    # c(a)=3, c_xy=1 -> p_micro = 333333
    exp = (L2_ONE_MICRO_FP - log2_fp_py(333_333)) * 1000 // (1 << 16)
    assert got[2]["mean_bits_milli"] == exp
    assert got[2]["min_p_micro"] == 333_333


def test_entropy_scores_crafted(spark):
    """Hand-checkable entropies: 'a a a a' has H=0 (one type); 'a b c d'
    is uniform over 4 types -> H=2 bits exactly (powers of two are
    exact in the fixed-point log2) and norm = 1.0; a tokenless doc is
    all zeros."""
    from pipegen_spark.operators.text import entropy_scores

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in entropy_scores(docs).collect()}
    assert got[1]["entropy_milli_bits"] == 0
    assert got[1]["norm_entropy_ppm"] == 0  # log2(1 type) = 0 guard
    assert got[2]["entropy_milli_bits"] == 2000  # exactly 2 bits
    assert got[2]["norm_entropy_ppm"] == 1_000_000
    assert got[3]["n_tokens"] == 0
    assert got[3]["entropy_milli_bits"] == 0


def test_kl_drift_crafted(spark):
    """Hand-checkable KL: a source identical in distribution to the
    corpus has KL ~= 0 (within fixed-point truncation noise); a source
    concentrated on one token diverges by whole bits."""
    from pipegen_spark.operators.text import kl_drift_scores

    docs = spark.createDataFrame(
        [
            ("s1", "a b"), ("s1", "a b"),
            ("s2", "a b"), ("s2", "a b"),
            ("s3", "a a"), ("s3", "a a"),
        ],
        "source string, text string",
    )
    got = {r["source"]: r for r in kl_drift_scores(docs).collect()}
    # corpus: a=8, b=4, n=12. s1/s2 = {a:2, b:2}: KL = .5*log2(.5/(8/12))
    # + .5*log2(.5/(4/12)) = .5*log2(3/4) + .5*log2(3/2) ~= 0.085 bits
    assert abs(got["s1"]["kl_milli_bits"] - 85) <= 2
    assert got["s1"]["kl_milli_bits"] == got["s2"]["kl_milli_bits"]
    # s3 = all 'a': KL = log2(1/(8/12)) = log2(1.5) ~= 0.585 bits
    assert abs(got["s3"]["kl_milli_bits"] - 585) <= 2
    assert got["s3"]["n_tokens"] == 4 and got["s3"]["n_types"] == 1


def test_semantic_dedup_ivf_structure(spark):
    """IVF two-level assignment invariants on crafted vectors: a vector
    lands on a fine centroid inside its own coarse cell (probe-1), and
    a coarse cell with no fine centroid yields the negative fallback
    label -(cell+1)."""
    from pyspark.sql import functions as F

    from pipegen_spark.operators.embeddings import semantic_dedup_ivf

    # 2-d layout: coarse cells at x=0 (id 100) and x=10 (id 101);
    # one fine centroid near x=0 only (id 200). Vectors 1,2 near x=0
    # (cell 100 -> fine 200); vector 3 near x=10 (cell 101, EMPTY ->
    # label -(101+1) = -102).
    rows = [
        (100, [0.0, 1.0]),
        (101, [10.0, 1.0]),
        (200, [0.5, 1.0]),
        (1, [0.1, 1.0]),
        (2, [0.2, 1.0]),
        (3, [9.9, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r
        for r in semantic_dedup_ivf(
            df,
            F.col("vec_id").isin(100, 101),
            F.col("vec_id") == 200,
            threshold=0.99,
            dim=2,
        ).collect()
    }
    assert got[1]["cluster_id"] == 200
    assert got[2]["cluster_id"] == 200
    assert got[3]["cluster_id"] == -102
    # 1 and 2 are near-parallel (cos > 0.99): keep-first flags 2, not 1
    assert got[1]["is_semantic_dup"] is False
    assert got[2]["is_semantic_dup"] is True
    assert got[3]["is_semantic_dup"] is False


def test_kmeans_centroids_trained_means(spark):
    """kmeans_centroids must return the Lloyd-updated means the final
    kmeans_fixed assignment runs against — hand-checkable: seeds at the
    two cluster cores, one update step lands each centroid on its
    members' exact per-dimension mean."""
    from pyspark.sql import functions as F

    from pipegen_spark.operators.embeddings import kmeans_centroids

    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [1.0, 0.0]),
        (3, [0.0, 1.0]),
        (4, [11.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["cid"]: r["cv"]
        for r in kmeans_centroids(
            df, F.col("vec_id") < 2, iters=2, dim=2
        ).collect()
    }
    # cluster 0 members: {0, 2, 3} -> mean (1/3, 1/3); cluster 1
    # members: {1, 4} -> mean (10.5, 10.0)
    assert set(got) == {0, 1}
    assert [round(x, 9) for x in got[0]] == [
        round(1 / 3, 9), round(1 / 3, 9)
    ]
    assert got[1] == [10.5, 10.0]


def test_semantic_dedup_ivf_trained_uses_trained_quantizer(spark):
    """The trained-quantizer composition: with fine_centroids supplied,
    fine_pred is ignored, vectors label by the TRAINED centroid ids
    (Lloyd-moved means, not the raw seed rows), and the keep-first dup
    pass runs within the trained lists."""
    from pyspark.sql import functions as F

    from pipegen_spark.operators.embeddings import (
        kmeans_centroids,
        semantic_dedup_ivf,
    )

    rows = [
        (100, [5.0, 1.0]),  # the single coarse cell (also a base vector)
        (0, [0.0, 1.0]),
        (1, [10.0, 1.0]),
        (2, [0.2, 1.0]),
        (3, [9.8, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, F.col("vec_id") < 2, iters=2, dim=2)
    # trained means: c0 = mean{[0,1],[0.2,1],[5,1]} (vec 100 ties to c0
    # by the cid tie-break), c1 = mean{[10,1],[9.8,1]} = [9.9, 1]
    cv = {r["cid"]: r["cv"] for r in cents.collect()}
    assert cv[1] == [9.9, 1.0]
    got = {
        r["vec_id"]: r
        for r in semantic_dedup_ivf(
            df,
            F.col("vec_id") == 100,
            None,
            threshold=0.97,
            dim=2,
            fine_centroids=cents.select(
                F.col("cid").alias("fid"), F.col("cv").alias("fv")
            ),
        ).collect()
    }
    assert got[0]["cluster_id"] == 0 and got[2]["cluster_id"] == 0
    assert got[100]["cluster_id"] == 0
    assert got[1]["cluster_id"] == 1 and got[3]["cluster_id"] == 1
    # keep-first within each trained list: cos(0,2)=0.98, cos(1,3)~1.0,
    # vec 100 is far from both in angle
    assert got[0]["is_semantic_dup"] is False
    assert got[2]["is_semantic_dup"] is True
    assert got[1]["is_semantic_dup"] is False
    assert got[3]["is_semantic_dup"] is True
    assert got[100]["is_semantic_dup"] is False


def test_quality_gate_materialized_and_lazy_forms_agree(spark):
    """r14: quality_threshold_gate grew a `materialize` knob (spill the
    narrow scored frame so the tokenize+quality pass runs once instead
    of under both the histogram and the join branch). Both forms must
    emit identical rows — the spill is a plan change, never a semantic
    one — and the materialized consumer plan must carry NO tokenize
    Generate (the feature pass lives in the spill-write job)."""
    from pipegen_spark.operators import curation as cu

    df = spark.createDataFrame(
        [
            (i, f"src{i % 2}", " ".join(f"w{j}" for j in range(3 + i % 5)))
            for i in range(30)
        ],
        "doc_id long, source string, text string",
    )
    mat = cu.quality_threshold_gate(df).orderBy("doc_id")
    lazy = cu.quality_threshold_gate(df, materialize=False).orderBy(
        "doc_id"
    )
    assert mat.collect() == lazy.collect()
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" not in plan, plan


def _scope_dir(df):
    """The scope directory a spilled frame reads its files from."""
    from pathlib import Path
    from urllib.parse import urlparse

    return Path(urlparse(df.inputFiles()[0]).path).parents[1]


def test_spill_scope_keeps_every_live_spill(spark):
    """40 spills held live in one scope, made from 4 threads (more than
    a pooled bench pass holds): every one still reads back hash-identical
    rows until the scope closes. A count-based reaper that keeps the
    newest 32 deletes the first ones here."""
    from concurrent.futures import ThreadPoolExecutor

    from pipegen_spark.operators.spill import spill_scope, spill_to_parquet
    from pipegen_spark.queries.canon import result_sha256

    def frame(i):
        return spark.range(i, i + 5).select("id", (F.col("id") * i).alias("x"))

    def digest(df):
        return result_sha256(df.columns, [tuple(r) for r in df.collect()])

    with spill_scope():
        with ThreadPoolExecutor(max_workers=4) as pool:
            spilled = list(
                pool.map(lambda i: spill_to_parquet(frame(i), f"s{i}"), range(40))
            )
        got = [digest(df) for df in spilled]
    assert got == [digest(frame(i)) for i in range(40)]


def test_spill_scope_removes_its_directory_on_exit_and_on_raise(spark):
    from pipegen_spark.operators.spill import spill_scope, spill_to_parquet

    with spill_scope():
        df = spill_to_parquet(spark.range(3), "ok")
        d = _scope_dir(df)
        assert d.is_dir() and df.count() == 3
    assert not d.exists()
    with pytest.raises(RuntimeError, match="boom"):
        with spill_scope():
            d = _scope_dir(spill_to_parquet(spark.range(3), "raises"))
            raise RuntimeError("boom")
    assert not d.exists()


def test_unscoped_spill_outlives_scopes_until_exit(spark, monkeypatch):
    """A spill made outside any scope goes to the session directory: a
    scope opened and closed after it leaves it readable, and the exit
    hook the session directory registers deletes it."""
    import atexit

    from pipegen_spark.operators import spill as sp

    hooks = []
    monkeypatch.setattr(atexit, "register", hooks.append)
    monkeypatch.setattr(sp, "_SESSION", sp._Scope(reap_at_exit=True))
    outside = sp.spill_to_parquet(spark.range(4), "outside")
    d = _scope_dir(outside)
    with sp.spill_scope():
        inside = sp.spill_to_parquet(spark.range(2), "inside")
        assert _scope_dir(inside) != d
    assert outside.count() == 4 and d.is_dir()
    assert len(hooks) == 1
    hooks[0]()
    assert not d.exists()


def test_spill_root_rule(tmp_path):
    """Checkpoint dir first (any master), then on a local master the
    first existing spark.local.dir, else TMPDIR; any other master
    without a checkpoint dir is refused."""
    import tempfile

    from pipegen_spark.operators.spill import spill_root

    local = str(tmp_path)
    assert spill_root("local[4]", None, f"{local},/elsewhere") == local
    assert spill_root("local[*]", None, "") == tempfile.gettempdir()
    missing = str(tmp_path / "missing")
    assert spill_root("local[4]", None, missing) == tempfile.gettempdir()
    assert spill_root("local[4]", "file:/ckpt/a", local) == "file:/ckpt/a"
    assert spill_root("yarn", "hdfs://nn:8020/ckpt/a", "") == "hdfs://nn:8020/ckpt/a"
    with pytest.raises(ValueError, match="setCheckpointDir"):
        spill_root("spark://host:7077", None, local)


def test_spill_under_checkpoint_dir_is_deleted_through_hadoop_fs(
    spark, tmp_path, monkeypatch
):
    """With a checkpoint dir the scope directory goes under it, as a
    Hadoop URI, and is deleted through the Hadoop FileSystem. The
    checkpoint dir is patched on the context object, never set on the
    shared session."""
    from pipegen_spark.operators.spill import spill_scope, spill_to_parquet

    root = tmp_path / "ckpt"
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "getCheckpointDir", lambda: root.as_uri())
    with spill_scope():
        df = spill_to_parquet(spark.range(3), "durable")
        d = _scope_dir(df)
        assert d.parent == root and df.count() == 3
    assert not d.exists() and root.is_dir()
