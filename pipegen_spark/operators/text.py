"""Text-analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

Everything is a JVM-side expression (built via functions/dialect.py so the
DuckDB oracle can render the identical computation). At 100 TB these are
embarrassingly parallel map operators: no shuffle, no state, pushdown-safe —
the scan reads only the text column.

Reference parity: the reference has no text operators; these extend it per
the north star (SURVEY.md §2B-B29).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators.spill import spill_to_parquet

# Language wordlists for the n-gram/stopword language-ID heuristic.
# Order = tie-break priority (first wins on equal scores).
LANG_WORDLISTS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "se"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "de", "et", "les", "des", "une"),
}

# Regex for BPE-ish pre-tokenization: alpha runs, digit runs, single
# punctuation. (No backslash classes — identical across engines.)
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS: tuple[str, ...] = LANG_WORDLISTS["en"]


# --- shared dual-dialect expression builders --------------------------------


def token_stats_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Column-name → SQL fragment for token counting.

    `w` overrides the token-array expression (e.g. a pre-materialized
    column); defaults to tokenizing `text` inline."""
    w = w or dl.words(text, d)
    return {
        "n_tokens": f"CAST({dl.size(w, d)} AS BIGINT)",
        "n_types": f"CAST({dl.size(dl.arr_distinct(w, d), d)} AS BIGINT)",
        "n_bpe": (
            f"CAST({dl.regexp_count(f'lower({text})', BPE_PATTERN, d)} AS BIGINT)"
        ),
        "n_chars_m": f"CAST(length({text}) AS BIGINT)",
    }


def quality_primitives(
    text: str, d: str, w: str | None = None
) -> dict[str, str]:
    """Integer counting primitives the quality ratios are built from."""
    w = w or dl.words(text, d)
    tok_chars = dl.fold(
        dl.transform(w, "x -> CAST(length(x) AS BIGINT)", d),
        "CAST(0 AS BIGINT)",
        "(acc,x) -> acc + x",
        d,
    )
    _stripped = dl.regexp_replace_all(f"lower({text})", "[^a-z0-9]", "", d)
    stop_arr = (
        "array(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"
        if d == dl.SPARK
        else "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    )
    stop_lam = "x -> " + dl.contains(stop_arr, "x", d)
    return {
        "n_tokens": f"CAST({dl.size(w, d)} AS BIGINT)",
        "tok_chars": f"({tok_chars})",
        "n_chars": f"CAST(length({text}) AS BIGINT)",
        "alpha_chars": f"CAST(length({_stripped}) AS BIGINT)",
        "stop_hits": f"CAST({dl.size(dl.filter_(w, stop_lam, d), d)} AS BIGINT)",
    }


def quality_ratios(p: dict[str, str]) -> dict[str, str]:
    """Ratio/score fragments over primitive fragments (or column names) —
    plain double math, identical IEEE results in both engines."""
    avg_tok = (
        f"(CAST({p['tok_chars']} AS DOUBLE)"
        f" / CAST(greatest({p['n_tokens']}, 1) AS DOUBLE))"
    )
    alpha_ratio = (
        f"(CAST({p['alpha_chars']} AS DOUBLE)"
        f" / CAST(greatest({p['n_chars']}, 1) AS DOUBLE))"
    )
    stop_ratio = (
        f"(CAST({p['stop_hits']} AS DOUBLE)"
        f" / CAST(greatest({p['n_tokens']}, 1) AS DOUBLE))"
    )
    score = (
        f"(least(CAST({p['n_tokens']} AS DOUBLE) / 100.0, 1.0) * 0.5"
        f" + {alpha_ratio} * 0.3 + {stop_ratio} * 0.2)"
    )
    return {
        "avg_token_len": avg_tok,
        "alpha_ratio": alpha_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Quality-scoring fragments (primitives inlined into the ratios)."""
    p = quality_primitives(text, d, w)
    return {"n_tokens": p["n_tokens"], **quality_ratios(p)}


def langid_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Per-language stopword-hit scores + argmax prediction."""
    w = w or dl.words(text, d)
    out: dict[str, str] = {}
    for lang, wl in LANG_WORDLISTS.items():
        arr = (
            "array(" + ",".join(f"'{s}'" for s in wl) + ")"
            if d == dl.SPARK
            else "[" + ",".join(f"'{s}'" for s in wl) + "]"
        )
        hits = dl.size(dl.filter_(w, f"x -> {dl.contains(arr, 'x', d)}", d), d)
        out[f"score_{lang}"] = f"CAST({hits} AS BIGINT)"
    langs = list(LANG_WORDLISTS)
    # argmax with declaration-order priority on ties
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1 :]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    out["pred_lang"] = "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"
    return out


# Lexicon for the wordlist sentiment heuristic (reference parity: SURVEY
# §2B-B29 names sentiment among the [EXT] text ops; no reference impl).
SENTIMENT_LEXICON: dict[str, tuple[str, ...]] = {
    "pos": ("good", "great", "excellent", "love", "best", "fast", "happy",
            "win", "nice", "perfect"),
    "neg": ("bad", "terrible", "awful", "hate", "worst", "slow", "sad",
            "fail", "broken", "bug"),
}


def sentiment_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Lexicon hit counts + net score in [-1, 1] + 3-way label."""
    w = w or dl.words(text, d)
    hits = {}
    for pol, wl in SENTIMENT_LEXICON.items():
        arr = (
            "array(" + ",".join(f"'{s}'" for s in wl) + ")"
            if d == dl.SPARK
            else "[" + ",".join(f"'{s}'" for s in wl) + "]"
        )
        lam = "x -> " + dl.contains(arr, "x", d)
        hits[pol] = f"CAST({dl.size(dl.filter_(w, lam, d), d)} AS BIGINT)"
    n_tokens = f"CAST({dl.size(w, d)} AS BIGINT)"
    score = (
        f"(CAST({hits['pos']} - {hits['neg']} AS DOUBLE)"
        f" / CAST(greatest({n_tokens}, 1) AS DOUBLE))"
    )
    label = (
        f"CASE WHEN {hits['pos']} > {hits['neg']} THEN 'positive' "
        f"WHEN {hits['neg']} > {hits['pos']} THEN 'negative' "
        f"ELSE 'neutral' END"
    )
    return {
        "n_pos": hits["pos"],
        "n_neg": hits["neg"],
        "sentiment_score": score,
        "sentiment": label,
    }


def with_sentiment(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append sentiment columns (map-only; score/label fragments re-use the
    hit counts, so they are staged behind a second barrier)."""
    exprs = sentiment_exprs(text_col, dl.SPARK, w="_toks")
    counts = {n: exprs[n] for n in ("n_pos", "n_neg")}
    stage1 = _tokens_once(df, text_col).select(
        "*", *[F.expr(e).alias(n) for n, e in counts.items()]
    )
    derived = {
        "sentiment_score": (
            "(CAST(n_pos - n_neg AS DOUBLE)"
            " / CAST(greatest(CAST(size(_toks) AS BIGINT), 1) AS DOUBLE))"
        ),
        "sentiment": (
            "CASE WHEN n_pos > n_neg THEN 'positive' "
            "WHEN n_neg > n_pos THEN 'negative' ELSE 'neutral' END"
        ),
    }
    return (
        _barrier(stage1)
        .select("*", *[F.expr(e).alias(n) for n, e in derived.items()])
        .drop("_toks")
    )


def tfidf_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TF-IDF relevance of every document against a fixed query-term set.

    Distributed shape: one explode → conditional-count aggregation per doc
    (term frequencies), corpus document frequencies reduced to a SINGLE
    broadcast row, and the score assembled as a FIXED left-to-right
    multiply-add chain — the addition order never depends on row order, so
    the doubles are bit-identical across engines and partitionings.

    idf is the LOG-FREE rational BM25 numerator (N - df + 0.5)/(df + 0.5):
    IEEE 754 guarantees correctly-rounded + - * /, so rational idf is
    bit-identical everywhere, whereas ln() is implementation-defined and
    measurably differs by 1 ulp between the JVM and DuckDB's libm.

    At 100 TB: the token explode never shuffles raw text (only (id, term)
    pairs for matching terms), document frequencies are one tiny
    aggregate, and the scoring join is a literal broadcast.
    """
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
        )
        .filter(F.col("t").isin(*terms))
    )
    tf = tok.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("t") == term, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i}")
            for i, term in enumerate(terms)
        ]
    )
    dfreq = tok.distinct().groupBy().agg(
        *[
            F.sum(F.when(F.col("t") == term, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i, term in enumerate(terms)
        ]
    )
    n_docs = df.select(
        F.count("*").cast("long").alias("n_docs")
    )
    score_terms = " + ".join(
        f"(CAST(tf{i} AS DOUBLE)"
        f" * ((CAST(n_docs - df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5)))"
        for i in range(len(terms))
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(tf, "id", "left")
        .na.fill(0, [f"tf{i}" for i in range(len(terms))])
        .join(F.broadcast(dfreq))
        .join(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            *[F.col(f"tf{i}") for i in range(len(terms))],
            F.expr(f"({score_terms})").alias("tfidf"),
        )
    )


def bm25_score_expr(n_terms: int, k1: str = "1.2", b: str = "0.75") -> str:
    """BM25 score as ONE expression string shared verbatim by the Spark plan
    and the DuckDB oracle (over identically-named columns tf{i}, df{i},
    dlen, sum_dlen, n_docs).

    Sharing the TEXT matters: ``1.2 + 1.0`` and the literal ``2.2`` can
    differ in the last ulp after decimal→binary conversion, but the same
    expression evaluated by two IEEE-754 engines cannot. Only + - * / are
    used (rational idf — see tfidf_scores for why no ln()); avgdl is
    inlined as sum_dlen/n_docs, both exact BIGINTs.
    """
    per_term = (
        f"(((CAST(n_docs - df{{i}} AS DOUBLE) + 0.5)"
        f" / (CAST(df{{i}} AS DOUBLE) + 0.5))"
        f" * (CAST(tf{{i}} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf{{i}} AS DOUBLE) + {k1} * ((1.0 - {b}) + {b}"
        f" * (CAST(dlen AS DOUBLE)"
        f" / (CAST(sum_dlen AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
    )
    return "(" + " + ".join(
        per_term.format(i=i) for i in range(n_terms)
    ) + ")"


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set — tfidf_scores plus per-document length normalization.

    Same distributed shape as tfidf_scores (explode → conditional-count TF,
    single broadcast df/N row), with two additions: a map-only per-doc token
    count (dlen) and corpus totals (sum_dlen, n_docs) reduced to one
    broadcast row. The score is the shared fixed-order expression from
    bm25_score_expr — bit-identical across engines. A zero-tf term
    contributes exactly 0.0, so docs matching no term score 0.
    """
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
        )
        .filter(F.col("t").isin(*terms))
    )
    tf = tok.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("t") == term, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i}")
            for i, term in enumerate(terms)
        ]
    )
    dfreq = tok.distinct().groupBy().agg(
        *[
            F.sum(F.when(F.col("t") == term, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i, term in enumerate(terms)
        ]
    )
    lens = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"CAST({dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)}"
            " AS BIGINT)"
        ).alias("dlen"),
    )
    glob = lens.groupBy().agg(
        F.sum("dlen").cast("long").alias("sum_dlen"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return (
        lens.join(tf, "id", "left")
        .na.fill(0, [f"tf{i}" for i in range(len(terms))])
        .join(F.broadcast(dfreq))
        .join(F.broadcast(glob))
        .select(
            F.col("id").alias(id_col),
            "dlen",
            *[F.col(f"tf{i}") for i in range(len(terms))],
            F.expr(bm25_score_expr(len(terms))).alias("bm25"),
        )
    )


def fingerprint_expr(text: str, d: str) -> str:
    """Order-sensitive rolling-hash fingerprint of the token stream."""
    return f"CAST({dl.rolling_fingerprint(dl.words(text, d), d)} AS BIGINT)"


def normalize_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Canonical normalized text: lowercase, punctuation stripped,
    whitespace collapsed to single spaces — rendered as the shared token
    array re-joined, so normalization and tokenization can never drift
    apart (the usual pre-dedup canonicalization pass)."""
    w = w or dl.words(text, d)
    norm = dl.arr_join(w, " ", d)
    return {
        "norm_text": norm,
        "n_norm_chars": f"CAST(length({norm}) AS BIGINT)",
    }


# --- Spark operators ---------------------------------------------------------


def _barrier(df: DataFrame) -> DataFrame:
    """Materialization barrier: a unit explode (one-element literal array).

    A plain projection is not an optimization barrier — CollapseProject
    re-inlines projected expressions into every downstream use — but a
    Generate is. Columns computed below this barrier are evaluated exactly
    once per row no matter how many downstream fragments reference them.
    Map-only: no shuffle, row count and values unchanged.
    """
    return df.select(
        "*", F.explode(F.array(F.lit(1))).alias("_one")
    ).drop("_one")


def _tokens_once(df: DataFrame, text_col: str) -> DataFrame:
    """Token array materialized once per row (tokenizer below a barrier).

    Without this, an operator whose fragments reference the token array N
    times re-runs the regex tokenizer N times per row (measured 4x here).
    """
    return _barrier(
        df.select("*", F.expr(dl.words(text_col, dl.SPARK)).alias("_toks"))
    )


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token-count columns (map-only, JVM-side)."""
    exprs = token_stats_exprs(text_col, dl.SPARK, w="_toks")
    return (
        _tokens_once(df, text_col)
        .select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])
        .drop("_toks")
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-staged: counting primitives below a second barrier, ratios above
    — `quality_score` re-references the ratio fragments, so un-staged the
    stopword filter lambda would run twice per row."""
    prims = quality_primitives(text_col, dl.SPARK, w="_toks")
    stage1 = _tokens_once(df, text_col).select(
        "*", *[F.expr(e).alias(f"_p_{n}") for n, e in prims.items()]
    )
    ratios = quality_ratios({n: f"_p_{n}" for n in prims})
    return (
        _barrier(stage1)
        .select(
            "*",
            F.col("_p_n_tokens").alias("n_tokens"),
            *[F.expr(e).alias(n) for n, e in ratios.items()],
        )
        .drop("_toks", *[f"_p_{n}" for n in prims])
    )


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-staged: per-language scores below a barrier, argmax above — the
    CASE re-references each score up to |langs|-1 times."""
    exprs = langid_exprs(text_col, dl.SPARK, w="_toks")
    scores = {n: e for n, e in exprs.items() if n != "pred_lang"}
    stage1 = _tokens_once(df, text_col).select(
        "*", *[F.expr(e).alias(n) for n, e in scores.items()]
    )
    return (
        _barrier(stage1)
        .withColumn("pred_lang", F.expr(exprs["pred_lang"]))
        .drop("_toks")
    )


def fingerprint(text_col: str = "text") -> Column:
    return F.expr(fingerprint_expr(text_col, dl.SPARK))


def with_normalized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append `norm_text` / `n_norm_chars` (map-only; token array behind a
    barrier so the tokenizer runs once even though two fragments use it)."""
    exprs = normalize_exprs(text_col, dl.SPARK, w="_toks")
    return (
        _tokens_once(df, text_col)
        .select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])
        .drop("_toks")
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary extraction: the k most frequent tokens with term
    frequency (total occurrences) and document frequency (docs containing
    the token). The standard input for stopword lists, tokenizer vocab
    sizing, and frequency-based filtering.

    Shape: explode → one groupBy(token) with count + approx-free exact
    countDistinct(id); map-side partial aggregation means only per-token
    partials shuffle. Deterministic order (tf DESC, token) before the cap.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
    )
    return (
        ex.groupBy("t")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("id").alias("df"),
        )
        .select(F.col("t").alias("token"), "tf", "df")
        .orderBy(F.col("tf").desc(), "token")
        .limit(k)
    )


# --- winnowing fingerprints (MOSS) ------------------------------------------

WINNOW_K = 3  # words per k-gram
WINNOW_W = 4  # winnowing window, in consecutive k-grams
_W40 = 1 << 40  # k-gram hashes reduced to 40 bits so that
_POSCAP = 1 << 20  # (hash, position) packs into one ordered BIGINT key


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    per_doc: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-word gram, slide a w-gram window, keep
    each window's minimum hash (ties → rightmost), output the distinct
    selected (hash, position) set per document — the standard
    local-fingerprinting scheme that guarantees any shared run of
    w + k - 1 words between two documents shares a fingerprint.

    Shape (100 TB): posexplode word positions → lead(k-1) gram build →
    per-document window min — all whole-stage-codegen window/explode ops
    partitioned by doc_id, no array lambdas in the hot path, one shuffle
    on doc_id. The rightmost-min tie rule is encoded arithmetically:
    key = (2^40-1 - hash40) * 2^20 + pos, so MAX(key) over the window is
    the rightmost minimal hash (positions per doc must stay < 2^20 —
    split longer documents upstream with curate_chunk).

    Documents with fewer than k words produce no grams and are absent
    from the output (same on the oracle side). Documents with fewer than
    w grams winnow to a single whole-document minimum.

    Output: one row per document — fingerprint count, checksum (exact
    integer sum of selected 40-bit hashes — order-independent), min/max.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(dl.words(text_col, dl.SPARK))).alias(
            "p0", "tok"
        ),
    ).select("id", (F.col("p0") + 1).alias("pos"), "tok")
    wd = Window.partitionBy("id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", j).over(wd) for j in range(1, k)]
    )
    g = toks.select(
        "id",
        "pos",
        gram.alias("gram"),
        F.count("*").over(Window.partitionBy("id")).alias("n_tok"),
    ).filter(F.col("pos") <= F.col("n_tok") - (k - 1))
    h40 = F.expr(dl.hash60("gram", dl.SPARK)) % F.lit(_W40)
    keyed = g.select(
        "id",
        "pos",
        ((F.lit(_W40 - 1) - h40) * F.lit(_POSCAP) + F.col("pos")).alias(
            "key"
        ),
        (F.col("n_tok") - (k - 1)).alias("n_gram"),
    )
    sel = keyed.select(
        "id",
        "pos",
        "n_gram",
        F.max("key").over(wd.rowsBetween(0, w - 1)).alias("selkey"),
    ).filter(F.col("pos") <= F.greatest(F.lit(1), F.col("n_gram") - (w - 1)))
    fps = (
        sel.select("id", "selkey")
        .distinct()
        .select(
            "id",
            (F.lit(_W40 - 1) - F.expr(f"selkey div {_POSCAP}")).alias(
                "fp_hash"
            ),
            (F.col("selkey") % _POSCAP).alias("fp_pos"),
        )
    )
    if not per_doc:
        return fps.select(
            F.col("id").alias(id_col), "fp_pos", "fp_hash"
        )
    return (
        fps.groupBy("id")
        .agg(
            F.count("*").alias("n_fp"),
            F.sum("fp_hash").alias("fp_checksum"),
            F.min("fp_hash").alias("fp_min"),
            F.max("fp_hash").alias("fp_max"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_fp",
            "fp_checksum",
            "fp_min",
            "fp_max",
        )
    )


def rarity_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_freq: int = 2,
) -> DataFrame:
    """Corpus-relative rarity signal per document: the fraction of token
    OCCURRENCES whose corpus-wide frequency is <= max_freq. High ratios
    flag gibberish/OCR noise (hapax-dominated text); near-zero ratios
    flag boilerplate — the corpus-level complement of the doc-local
    quality_score.

    Shape (100 TB): one hash-agg shuffle builds the token->frequency
    table, one equi-join on token annotates occurrences (AQE broadcasts
    it only when the vocabulary is actually small — the rare tail is
    usually NOT broadcastable), one per-doc agg. Zero-token docs keep
    ratio 0.0. The ratio is one int division in DOUBLE — engine-exact.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("f"))
    per = (
        tok.join(freq, "t")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("f") <= max_freq, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_rare", F.lit(0)).cast("long").alias("n_rare"),
            F.expr(
                "CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0 "
                "ELSE CAST(coalesce(n_rare, 0) AS DOUBLE)"
                " / CAST(n_tokens AS DOUBLE) END"
            ).alias("rare_ratio"),
        )
    )


def _bigram_occurrences(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair occurrence."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(dl.words(text_col, dl.SPARK)).alias("w"),
        )
        .select(
            "id",
            F.explode(F.expr(dl.bigram_idx("w", dl.SPARK))).alias("i"),
            "w",
        )
        .select(
            "id",
            F.expr(dl.elem("w", "i", dl.SPARK)).alias("w1"),
            F.expr(dl.elem("w", "i + 1", dl.SPARK)).alias("w2"),
        )
    )


# Pinned scale for the log-free rational scores below (micro-units).
PMI_SCALE = 1_000_000


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    topk: int = 50,
) -> DataFrame:
    """Corpus collocation mining: top-k adjacent token pairs by pointwise
    mutual information. PMI is monotone in the lift c_xy*N/(c_x*c_y)
    (p(xy)=c_xy/N convention), so the score is emitted LOG-FREE as that
    rational in micro-units via exact integer division — ln() differs in
    the last ulp across engines and would break the bit-exact oracle.

    Shape (100 TB): two hash-agg shuffles build the unigram and bigram
    count tables (both partial-aggregate map-side); the pair table joins
    its two unigram counts by equi-join (AQE broadcasts when the vocab is
    small); N arrives as a broadcast single-row cross join. Top-k is a
    global sort of the bigram VOCABULARY (not the corpus), after the
    min_count filter prunes the hapax tail.

    Overflow: c_xy*N*SCALE stays under 2^63 for corpora to ~3e12 scaled
    pair-occurrences; beyond that swap the BIGINTs for DECIMAL(38,0) —
    still exact (same envelope note as operators/embeddings.py k-means).

    Output: (w1, w2, c_xy, c_x, c_y, pmi_micro), pmi_micro descending.
    """
    occ = _bigram_occurrences(df, text_col, id_col)
    uni = (
        df.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    big = (
        occ.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    n_tot = uni.agg(F.sum("c").cast("long").alias("n_tokens"))
    scored = (
        big.join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.expr(
                dl.idiv(
                    f"c_xy * n_tokens * CAST({PMI_SCALE} AS BIGINT)",
                    "c_x * c_y",
                    dl.SPARK,
                )
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "w1", "w2"
    ).limit(topk)


def lm_bigram_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_micro: int = 10_000,
) -> DataFrame:
    """Per-document bigram-LM fluency proxy (the KenLM-filter shape from
    CCNet-style pipelines, log-free): score each document by the corpus
    conditional probabilities p(w2|w1) = c_xy/c_x of its adjacent pairs.
    Documents whose transitions are uniformly common read as fluent /
    templated; low minima or many sub-`rare_micro` transitions flag
    disfluent or shuffled text. Probabilities are emitted in micro-units
    via exact integer division — no logs, bit-exact across engines.

    Shape (100 TB): bigram + unigram count tables as in `collocations`,
    then one equi-join of pair occurrences against each and a per-doc
    hash agg. Self-inclusive counts (the corpus contains the doc), so
    every transition is seen >= once and division is never by zero.

    Output: (id, n_bigrams, sum_cond_micro, min_cond_micro, n_rare) with
    zero-bigram docs kept at (0, 0, 0, 0).
    """
    occ = _bigram_occurrences(df, text_col, id_col)
    uni = (
        df.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c_x"))
    )
    big = occ.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_xy")
    )
    cond = dl.idiv(
        f"c_xy * CAST({PMI_SCALE} AS BIGINT)", "c_x", dl.SPARK
    )
    per = (
        occ.join(big, ["w1", "w2"])
        .join(uni.select(F.col("t").alias("w1"), "c_x"), "w1")
        .select("id", F.expr(cond).cast("long").alias("cm"))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("cm").cast("long").alias("sum_cond_micro"),
            F.min("cm").cast("long").alias("min_cond_micro"),
            F.sum(F.when(F.col("cm") < rare_micro, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    z = F.lit(0).cast("long")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", z).alias("n_bigrams"),
            F.coalesce("sum_cond_micro", z).alias("sum_cond_micro"),
            F.coalesce("min_cond_micro", z).alias("min_cond_micro"),
            F.coalesce("n_rare", z).alias("n_rare"),
        )
    )


# --- readability -------------------------------------------------------------

READ_SCALE = 1_000_000  # micro-units for the readability grade


def readability_exprs(
    text: str, d: str, w: str | None = None
) -> dict[str, str]:
    """Flesch-Kincaid grade level in integer micro-units.

    FK = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59, with
    syllables approximated by vowel groups (the classic proxy) and each
    ratio carried as an integer DIV at 10^6 scale — log/float-free, so
    the surface is engine-exact. Sentences floor at 1 (the synthetic
    corpus has no terminal punctuation; real corpora split on [.!?]+).
    """
    w = w or dl.words(text, d)
    n_words = f"CAST({dl.size(w, d)} AS BIGINT)"
    n_sents = (
        f"greatest(CAST({dl.regexp_count(text, '[.!?]+', d)} AS BIGINT),"
        " CAST(1 AS BIGINT))"
    )
    n_syll = (
        f"CAST({dl.regexp_count(f'lower({text})', '[aeiou]+', d)} AS BIGINT)"
    )
    fk = (
        f"({dl.idiv(f'390000 * ({n_words})', n_sents, d)}"
        f" + {dl.idiv(f'11800000 * ({n_syll})', f'greatest({n_words}, 1)', d)}"
        f" - 15590000)"
    )
    return {
        "n_words": n_words,
        "n_sentences": n_sents,
        "n_syllables": n_syll,
        "fk_micro": f"CAST({fk} AS BIGINT)",
    }


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append readability columns (map-only, JVM-side)."""
    exprs = readability_exprs(text_col, dl.SPARK, w="_toks")
    return (
        _tokens_once(df, text_col)
        .select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])
        .drop("_toks")
    )


# --- n-gram diversity ---------------------------------------------------------

DIVERSITY_MAX_N = 3
DIVERSITY_PPM = 1_000_000


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    max_n: int = DIVERSITY_MAX_N,
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct-n diversity profile per corpus slice: for n = 1..max_n,
    the fraction of n-gram OCCURRENCES that are distinct n-grams
    (distinct/total, integer millionths) — the standard repetitiveness /
    template-content signal (a slice full of boilerplate has low
    distinct-2 and distinct-3 even when its unigram mix looks healthy).

    Shape (100 TB): each n-level is a map-only projection of the same
    pruned (group, text) scan (token array built once per branch below a
    Generate barrier, same as shingle_rows); the union feeds ONE
    (group, n, gram) hash aggregate and then the tiny (group, n) rollup —
    two shuffles total, both map-side partial, never a COUNT(DISTINCT)
    Expand. Output: (grp, n, total_grams, distinct_grams,
    diversity_ppm), all-integer surfaces.
    """
    from pipegen_spark.operators.dedup import shingle_rows

    # Each n-level goes through shingle_rows' posexplode shape: the token
    # array is projected ONCE below the Generate barrier, so the
    # tokenizer never re-inlines into per-element accesses (the measured
    # O(len^2) trap — a transform-lambda formulation of the same shingles
    # ran 14 s warm at sf0.1; this shape runs ~2 s).
    branches = []
    for n in range(1, max_n + 1):
        branches.append(
            shingle_rows(
                df, text_col, id_col, n,
                extra_cols=(group_col,), distinct=False,
            ).select(
                F.col(group_col).alias("grp"),
                F.lit(n).cast("long").alias("n"),
                "s",
            )
        )
    rows = branches[0]
    for b in branches[1:]:
        rows = rows.unionByName(b)
    per = rows.groupBy("grp", "n", "s").agg(
        F.count("*").cast("long").alias("cnt")
    )
    return (
        per.groupBy("grp", "n")
        .agg(
            F.sum("cnt").cast("long").alias("total_grams"),
            F.count("*").cast("long").alias("distinct_grams"),
        )
        .select(
            "grp",
            "n",
            "total_grams",
            "distinct_grams",
            F.expr(
                dl.idiv(
                    f"{DIVERSITY_PPM} * distinct_grams",
                    "total_grams",
                    dl.SPARK,
                )
            ).alias("diversity_ppm"),
        )
        .orderBy("grp", "n")
    )


# --- BPE merge-candidate statistics -------------------------------------------

BPE_TOPK = 50
BPE_TRAIN_ROUNDS = 8


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_TRAIN_ROUNDS,
) -> DataFrame:
    """Iterative BPE tokenizer TRAINING — learn the merge table, not
    just the round-one statistic `bpe_pair_counts` reports: the classic
    subword-unit trainer loop (Sennrich et al. 2016, public algorithm)
    over the corpus word-count vocabulary. Each round counts adjacent
    symbol pairs weighted by word frequency (overlap-inclusive, as in
    the reference algorithm's get_stats), picks the most frequent pair
    (count desc, then lexicographic x, y — deterministic), and merges
    it left-to-right non-overlapping in every word.

    Representation trick shared verbatim with the oracle: a word is a
    symbol STRING with every symbol wrapped in single spaces
    (' c  a  t '); merging (x, y) is `replace(w, ' x  y ', ' xy ')` —
    SQL replace scans left-to-right non-overlapping, which IS the BPE
    merge semantics, and the doubled separator at symbol boundaries
    makes cross-boundary false matches impossible. Tokens are
    [a-z0-9]+ (dl.words), so the space separator is safe.

    Shape (100 TB): the vocabulary aggregate is one hash agg bounded by
    corpus VOCABULARY, not corpus size — exactly how production BPE
    trainers structure the problem; each round is then one bounded pair
    aggregate over the vocab + a map-only merge, best-pair selection is
    TakeOrdered (no global sort), and the only driver transfer is ONE
    row per round (a documented bounded collect — rounds are
    inherently sequential, each merge conditions the next counts).
    Per-round vocab frames are persisted so round r+1 does not replay
    rounds 1..r.

    Output: (merge_rank, sym_x, sym_y, pair_count, merged), one row
    per learned merge, rank-ordered."""
    spark = df.sparkSession
    vocab = (
        df.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("wd")
        )
        .groupBy("wd")
        .agg(F.count("*").cast("long").alias("wc"))
        .select(
            F.expr("regexp_replace(wd, '(.)', ' $1 ')").alias("w"), "wc"
        )
    )
    merges: list[tuple] = []
    cached: list[DataFrame] = []
    for r in range(1, rounds + 1):
        vocab = vocab.persist()
        cached.append(vocab)
        pairs = (
            vocab.select(F.expr("split(trim(w), '  ')").alias("sy"), "wc")
            .select(
                F.explode(
                    F.expr(dl.bigram_idx("sy", dl.SPARK))
                ).alias("i"),
                "sy",
                "wc",
            )
            .select(
                F.expr(dl.elem("sy", "i", dl.SPARK)).alias("x"),
                F.expr(dl.elem("sy", "i + 1", dl.SPARK)).alias("y"),
                "wc",
            )
            .groupBy("x", "y")
            .agg(F.sum("wc").cast("long").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "x", "y").limit(1).collect()
        )
        if not best:
            break
        x, y, cnt = best[0]["x"], best[0]["y"], best[0]["cnt"]
        merges.append((r, x, y, cnt, x + y))
        vocab = vocab.select(
            F.expr(f"replace(w, ' {x}  {y} ', ' {x}{y} ')").alias("w"),
            "wc",
        )
    for c in cached:
        c.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_rank int, sym_x string, sym_y string, "
        "pair_count long, merged string",
    ).orderBy("merge_rank")


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = BPE_TRAIN_ROUNDS,
) -> DataFrame:
    """APPLY the learned BPE merge table corpus-wide — the second half
    of the tokenizer story (`bpe_train` learns the merges; this is the
    tokenization pass every training pipeline runs next): per-document
    subword token counts under the trained vocabulary, the real
    "how many tokens is this corpus" statistic that drives mixture
    budgets and packing.

    Semantics: each [a-z0-9]+ word is wrapped into the shared
    symbol-string representation (' c  a  t ') and the merges are
    applied as chained `replace(w, ' x  y ', ' xy ')` in rank order —
    left-to-right non-overlapping, exactly the reference BPE encoder
    (property-tested against the textbook list-based merge in
    tests/test_properties.py). A word's token count is its symbol
    count after the last merge.

    Shape (100 TB): the merge table itself is the driver artifact
    (`rounds` rows — the same documented bounded collect as
    `bpe_train`, a tokenizer IS driver metadata), and encoding runs
    over the DISTINCT VOCABULARY, not the corpus: one vocab-bounded
    map stage applies the chained replaces once per distinct word,
    then one equi-join of per-(doc, word) counts against the encoded
    vocab and a per-doc hash agg. This is exactly how production
    tokenizer passes batch: encode types, multiply by token counts.

    Output: (id, n_words, n_chars_az, n_bpe_tokens, tok_per_char_ppm)
    with zero-word documents kept at all-zero; tok_per_char_ppm is the
    integer-exact micro-ratio n_bpe_tokens/n_chars_az (1e6 = one token
    per character = no compression; lower = the vocab compresses)."""
    merges = bpe_train(df, text_col, rounds).collect()
    # The vocab branch re-derives from its own scan + explode (Catalyst
    # collapses the distinct straight onto the tokenizer, which is the
    # cheapest stateless form — exchange reuse is unreachable here
    # because column pruning gives the two branches different aggregate
    # outputs). A long-lived deployment materializes the tokenized
    # (id, word, count) table once and feeds both branches from it;
    # in-query we accept the second linear scan rather than leak a
    # .persist() past the operator's lifetime.
    occ = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("wd"),
        )
        .groupBy("id", "wd")
        .agg(F.count("*").cast("long").alias("c"))
    )
    expr = "w"
    for m in merges:
        x, y = m["sym_x"], m["sym_y"]
        expr = f"replace({expr}, ' {x}  {y} ', ' {x}{y} ')"
    enc = (
        occ.select("wd")
        .distinct()
        .select(
            "wd", F.expr("regexp_replace(wd, '(.)', ' $1 ')").alias("w")
        )
        .select(
            "wd",
            F.expr(f"size(split(trim({expr}), '  '))")
            .cast("long")
            .alias("toks"),
            F.length("wd").cast("long").alias("wlen"),
        )
    )
    per = (
        occ.join(enc, "wd")
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("wlen"))
            .cast("long")
            .alias("n_chars_az"),
            F.sum(F.col("c") * F.col("toks"))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
    z = F.lit(0).cast("long")
    ratio = dl.idiv(
        "n_bpe_tokens * CAST(1000000 AS BIGINT)", "n_chars_az", dl.SPARK
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_words", z).alias("n_words"),
            F.coalesce("n_chars_az", z).alias("n_chars_az"),
            F.coalesce("n_bpe_tokens", z).alias("n_bpe_tokens"),
            F.coalesce(F.expr(ratio).cast("long"), z).alias(
                "tok_per_char_ppm"
            ),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    topk: int = BPE_TOPK,
) -> DataFrame:
    """Adjacent character-pair frequencies over the token multiset — the
    statistic the first BPE merge step maximizes (tokenizer-training
    telemetry: which merges the corpus wants, how skewed the pair
    distribution is). Returns the top-`topk` (pair, cnt), count-desc
    with the pair string as the deterministic tiebreak.

    Shape (100 TB): tokens explode map-side (Generate barrier keeps the
    token string materialized, so per-position substr is O(1) column
    access); pair extraction is a per-token array transform; ONE hash
    aggregate with map-side combine bounded by the pair-alphabet
    cardinality; selection is TakeOrdered, not a global sort.
    """
    toks = df.select(
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("wd")
    )
    ln = "length(wd)"
    idx = dl.filter_(
        dl.seq("1", f"greatest({ln} - 1, 1)", dl.SPARK),
        f"i -> i <= ({ln}) - 1",
        dl.SPARK,
    )
    pairs = toks.select(
        F.explode(
            F.expr(dl.transform(idx, "i -> substr(wd, i, 2)", dl.SPARK))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(topk)
    )


# --- edit-distance-1 vocabulary pairs (FastSS deletion neighborhoods) ---------


def typo_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_dist: int = 1,
) -> DataFrame:
    """All vocabulary-term pairs within edit distance `max_dist` (=1) —
    typo/variant clustering via FastSS deletion neighborhoods (Bocek et
    al. 2007): two terms with ed <= 1 necessarily share a member of
    {term} ∪ {1-deletions}, so candidates come from an equi-join on the
    variant key and the quadratic all-pairs comparison never happens.
    Survivors verify with levenshtein() — built-in on BOTH engines, so
    the oracle replays the decision exactly.

    Shape (100 TB): the vocabulary dedups with one hash aggregate
    (bounded by corpus vocabulary, not size); each term emits len+1
    variant rows map-side; candidates meet through a hash equi-join on
    the variant; verification is a per-pair integer. Output:
    (term_a, term_b, dist), ordered.
    """
    w = dl.words(text_col, dl.SPARK)
    vocab = (
        df.select(F.explode(F.expr(w)).alias("t")).distinct()
    )
    # Variant set: the term + every 1-deletion, deduped per term (a
    # doubled letter yields the same deletion twice).
    dels = (
        "array_distinct(concat(array(t), "
        "transform(sequence(1, length(t)), "
        "i -> concat(substr(t, 1, i - 1), substr(t, i + 1)))))"
    )
    variants = vocab.select(
        "t", F.explode(F.expr(dels)).alias("v")
    )
    a = variants.select(F.col("t").alias("term_a"), "v")
    b = variants.select(F.col("t").alias("term_b"), F.col("v").alias("vb"))
    return (
        a.join(b, (F.col("v") == F.col("vb")) & (F.col("term_a") < F.col("term_b")))
        .select("term_a", "term_b")
        .distinct()
        .select(
            "term_a",
            "term_b",
            F.expr("levenshtein(term_a, term_b)").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy("term_a", "term_b")
    )


# --- Good-Turing counts-of-counts ---------------------------------------------

GT_TOPR = 50


def good_turing(
    df: DataFrame, text_col: str = "text", top_r: int = GT_TOPR
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table: N_r = how many
    vocabulary types occur exactly r times, plus the Turing-smoothed
    adjusted count r* = (r+1) * N_{r+1} / N_r in integer millionths —
    the classic unseen-mass estimate (N_1 / total) drives how much
    probability a smoothed LM reserves for novel tokens.

    Entirely rational arithmetic; two bounded hash aggregates (token
    counts → counts-of-counts) and a self-join on r+1. Output:
    (r, n_r, r_star_micro) for the top_r smallest r.
    """
    counts = (
        df.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nr = counts.groupBy(F.col("c").alias("r")).agg(
        F.count("*").cast("long").alias("n_r")
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        nr.join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            F.expr(
                dl.idiv(
                    "1000000 * (r + 1) * coalesce(n_r1, CAST(0 AS BIGINT))",
                    "n_r",
                    dl.SPARK,
                )
            ).alias("r_star_micro"),
        )
        .orderBy("r")
        .limit(top_r)
    )


# --- Kneser-Ney smoothed bigram table -----------------------------------------

KN_DISC_NUM, KN_DISC_DEN = 3, 4  # absolute discount d = 0.75 as a rational
KN_TOPK = 50


def kneser_ney_bigrams(
    df: DataFrame, text_col: str = "text", topk: int = KN_TOPK
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities with the
    standard d = 0.75 discount, entirely in rational arithmetic:

        p_kn(w2|w1) = max(c12 - d, 0)/c1
                      + (d * succ(w1)/c1) * (pred(w2)/B)

    where succ/pred are distinct continuation counts and B the number
    of distinct bigram types — the continuation-probability insight
    that separates KN from plain discounting. Emitted in integer
    millionths via one cross-multiplied division per row:
    num = (4*max(c12)-3... all scaled by 4*c1*B to clear denominators.

    Shape (100 TB): bigram counts, successor/predecessor distincts and
    the scalar B are four bounded hash aggregates; the per-pair math is
    map-side after two small joins. Output: top-`topk` pairs by
    smoothed probability (ties: w1, w2).
    """
    occ = _bigram_occurrences(df, text_col, "doc_id").select("w1", "w2")
    big = occ.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    c1 = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("succ"),
    )
    pred = big.groupBy("w2").agg(
        F.count("*").cast("long").alias("pred")
    )
    btot = big.agg(F.count("*").cast("long").alias("b"))
    d_n, d_d = KN_DISC_NUM, KN_DISC_DEN
    # p_kn scaled by d_d*c1*B: num = B*(d_d*c12 - d_n clamped at 0)
    #                               + d_n*succ*pred
    num = (
        f"CAST({d_d} AS BIGINT) * c12 - {d_n}"
    )
    pkn = dl.idiv(
        f"1000000 * (b * greatest({num}, CAST(0 AS BIGINT))"
        f" + {d_n} * succ * pred)",
        f"CAST({d_d} AS BIGINT) * c1 * b",
        dl.SPARK,
    )
    return (
        big.join(c1, "w1")
        .join(pred, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "w1", "w2", "c12",
            F.expr(pkn).cast("long").alias("pkn_micro"),
        )
        .orderBy(F.col("pkn_micro").desc(), "w1", "w2")
        .limit(topk)
    )


# --- term burstiness (variance-to-mean ratio) ---------------------------------

BURST_TOPK = 50


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = BURST_TOPK,
) -> DataFrame:
    """Burstiness of the top-`topk` corpus terms: the variance-to-mean
    ratio of per-document occurrence counts (zeros included). Function
    words spread evenly (VMR ~ 1, Poisson-like); topic words cluster in
    few documents (VMR >> 1) — the classic content-word discriminator
    (Church & Gale '95 burstiness).

    All-integer: with S = total count, S2 = sum of squared per-doc
    counts, n = corpus size, VMR = var/mean = (n*S2 - S^2)/(n*S) —
    emitted in millionths via one cross-multiplied division (BIGINT-
    safe while 1e6*n*S2 < 2^63; scale counts first beyond that).

    Shape (100 TB): one (term, doc) hash aggregate, one per-term moment
    aggregate, the corpus count broadcast as a 1-row frame — zeros
    never materialize because they only affect the moments through n.
    """
    per_doc = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
        )
        .groupBy("t", "id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    moments = per_doc.groupBy("t").agg(
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("df"),
    )
    n = df.agg(F.count("*").cast("long").alias("n"))
    return (
        moments.crossJoin(F.broadcast(n))
        .select(
            F.col("t").alias("term"),
            F.col("s").alias("total"),
            "df",
            F.expr(
                dl.idiv("1000000 * (n * s2 - s * s)", "n * s", dl.SPARK)
            ).alias("vmr_micro"),
        )
        .orderBy(F.col("total").desc(), "term")
        .limit(topk)
    )


# --- character diversity (round-7) -------------------------------------------


def char_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Integer-exact character-diversity signal — the gibberish/keyboard-
    mash screen: per-doc Simpson collision index over the character
    distribution, Σ c·(c−1) / (n·(n−1)) in ppm (the probability two
    randomly drawn characters are equal, without replacement), plus the
    distinct-character count. Low diversity (high collision) catches
    'aaaa…'-style degenerate text; unusually high diversity catches
    base64/hash blobs. Deliberately log-free: entropy needs log2, whose
    last-ulp behavior differs between libm implementations and would
    break the bit-exact oracle hash — the Simpson index carries the same
    signal with integer arithmetic only.

    Empty documents report (0, 0, 0, 0) via the left-join-coalesce
    discipline. Overflow: Σ c·(c−1) ≤ n², exact in int64 to 3e9-char
    documents.

    Scale: one explode (length× rows — the tokenizer cost class), one
    map-side-combinable (doc, char) count, one per-doc rollup. Map-only
    before the two partial-aggregated shuffles; no windows, no joins
    except the final bounded left join onto ids.
    """
    chars = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .where(F.col("ch") != "")
        .groupBy("id", "ch")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = chars.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.sum(F.expr("c * (c - 1)")).cast("long").alias("_coll"),
    )
    zero = F.lit(0).cast("long")
    simpson = dl.idiv("_coll * 1000000", "n_chars * (n_chars - 1)", dl.SPARK)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_chars", zero).alias("n_chars"),
            F.coalesce("distinct_chars", zero).alias("distinct_chars"),
            F.coalesce("_coll", zero).alias("_coll"),
        )
        .select(
            id_col,
            "n_chars",
            "distinct_chars",
            F.when(F.col("n_chars") >= 2, F.expr(simpson))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("simpson_ppm"),
        )
        .withColumn(
            "diversity_ppm",
            F.when(
                F.col("n_chars") >= 2,
                F.lit(1_000_000) - F.col("simpson_ppm"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .orderBy(id_col)
    )


# --- vocabulary growth (round-7) ---------------------------------------------


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source vocabulary statistics — the Heaps-law health report
    for a corpus slice: total token mass, distinct types, type-token
    ratio (ppm) and the hapax fraction (types seen exactly once — a
    high hapax share signals noisy/OCR text, a collapsing one signals
    template spam). Integer-exact everywhere.

    Scale: one tokenize+explode, one (source, token) partial-aggregated
    count, one bounded per-source rollup. The token strings shuffle
    once in the (source, token) aggregate — at trillion-doc scale swap
    the token for its hash60 (the rep_ngram convention; hapax/type
    counts are then exact up to 60-bit collisions).
    """
    toks = (
        docs.select(
            F.col(group_col),
            F.explode(
                F.expr(dl.words(text_col, dl.SPARK))
            ).alias("tok"),
        )
        .groupBy(group_col, "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ttr = dl.idiv("n_types * 1000000", "n_tokens", dl.SPARK)
    hapax = dl.idiv("n_hapax * 1000000", "n_types", dl.SPARK)
    return (
        toks.groupBy(group_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr(ttr).cast("long").alias("ttr_ppm"),
            F.expr(hapax).cast("long").alias("hapax_ppm"),
        )
        .orderBy(group_col)
    )


# --- RAKE keyword extraction (round-7) ----------------------------------------

RAKE_TOPK = 3


def rake_keywords(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = RAKE_TOPK,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each token scores deg/freq (deg =
    sum of the lengths of the phrases its occurrences sit in, freq = its
    occurrence count); a phrase scores the sum of its members' scores;
    the top-k distinct phrases per document win. Scores are integer
    micro-units (deg·1e6 // freq per token, summed) — engine-exact.

    Plan shape: one posexplode, the phrase islands come from the classic
    gaps-and-islands trick (pos − row_number over one per-doc
    sort-shuffle); every aggregate after that keys on (doc, island) or
    (doc, token) — high-cardinality, partial-aggregated; the final
    top-k window partitions per doc over its few candidate phrases.
    Docs whose text is all stopwords (or empty) yield no phrases and no
    rows — a top-k surface, not a per-doc census.
    """
    from pyspark.sql.window import Window

    stop_arr = "array(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(dl.words(text_col, dl.SPARK))).alias(
            "pos", "tok"
        ),
    ).where(~F.expr(dl.contains(stop_arr, "tok", dl.SPARK)))
    w = Window.partitionBy("id").orderBy("pos")
    isl = tok.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    phr = isl.groupBy("id", "island").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(pos, tok))), p -> p.tok), ' ')"
        ).alias("phrase"),
        F.count("*").cast("long").alias("plen"),
    )
    occ = isl.join(phr.select("id", "island", "plen"), ["id", "island"])
    tok_score = (
        occ.groupBy("id", "tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select(
            "id",
            "tok",
            F.expr(dl.idiv("deg * 1000000", "freq", dl.SPARK))
            .cast("long")
            .alias("tscore"),
        )
    )
    scored = (
        isl.join(tok_score, ["id", "tok"])
        .groupBy("id", "island")
        .agg(F.sum("tscore").cast("long").alias("score_micro"))
        .join(phr, ["id", "island"])
        .select("id", "phrase", "plen", "score_micro")
        .distinct()  # identical phrase occurrences score identically
    )
    rw = Window.partitionBy("id").orderBy(
        F.col("score_micro").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rw))
        .where(F.col("rnk") <= topk)
        .select(
            F.col("id").alias(id_col),
            F.col("rnk").cast("long").alias("rnk"),
            "phrase",
            "plen",
            "score_micro",
        )
        .orderBy(id_col, "rnk")
    )


# --- TextRank keyword ranking (round-8) ---------------------------------------

TEXTRANK_TOPK = 15
TEXTRANK_ITERS = 3


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iters: int = TEXTRANK_ITERS,
    topk: int = TEXTRANK_TOPK,
) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau 2004 §3.1, the keyword
    variant): rank vocabulary words by PageRank over the UNWEIGHTED
    undirected co-occurrence graph of adjacent content words — the
    graph-centrality alternative to frequency-based keyword scores
    (RAKE's deg/freq): a word matters because it co-occurs with words
    that matter. Stopwords are excluded (the shared STOPWORDS list, the
    paper's syntactic-filter stand-in) and self-loops dropped; each
    distinct adjacent pair contributes one symmetric edge, per the
    paper's unweighted formulation.

    Shape (100 TB): the graph is VOCABULARY x co-occurrence bounded,
    not corpus bounded — one distinct-pair aggregate over the bigram
    explode, then `graph.pagerank_fixed`'s integer-mass iterations
    (one dst-keyed shuffle per round over the word graph). Integer
    rank units make every round engine-exact.

    Output: (word, rank_micro, rnk) — top-`topk` by
    (rank_micro desc, word asc), total order."""
    from pyspark.sql import Window

    from pipegen_spark.operators import graph as gr

    stop_arr = "array(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"
    occ = (
        df.select(F.expr(dl.words(text_col, dl.SPARK)).alias("w"))
        .select(
            F.explode(F.expr(dl.bigram_idx("w", dl.SPARK))).alias("i"), "w"
        )
        .select(
            F.expr(dl.elem("w", "i", dl.SPARK)).alias("w1"),
            F.expr(dl.elem("w", "i + 1", dl.SPARK)).alias("w2"),
        )
        .filter(
            (F.col("w1") != F.col("w2"))
            & ~F.expr(dl.contains(stop_arr, "w1", dl.SPARK))
            & ~F.expr(dl.contains(stop_arr, "w2", dl.SPARK))
        )
        .distinct()
    )
    edges = occ.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionByName(
        occ.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
    ).distinct()
    ranks = gr.pagerank_fixed(edges, iters=iters)
    wk = Window.orderBy(F.col("rank_micro").desc(), F.col("id"))
    return (
        ranks.withColumn("rnk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select(F.col("id").alias("word"), "rank_micro", "rnk")
        .orderBy("rnk")
    )


# --- fixed-point log2 / perplexity filter (round 9) --------------------------

LOG2_FRAC_BITS = 16  # log2 emitted in units of 2^-16
_LOG2_Z_BITS = 30  # mantissa scale inside the shift-and-square rounds


def log2_fp_py(x: int) -> int:
    """Reference implementation of the engine-side fixed-point log2:
    floor-ish log2(x) in 2^-LOG2_FRAC_BITS units by shift-and-square
    (the classic binary-logarithm algorithm): e = floor(log2 x), then
    LOG2_FRAC_BITS rounds of mantissa squaring, emitting one result bit
    per round. Pure integer shifts/multiplies/compares — the SAME
    operation sequence runs as unrolled columns in Spark and as chained
    CTEs in DuckDB, so the value is bit-exact across engines (each
    >> truncation loses value deterministically; |result - exact| <
    ~2 units, i.e. ~3e-5 bits — a measurement-grade log for filtering,
    not IEEE libm). Used to pin the L(1e6) constant and by the unit
    tests.

    Wide inputs (r9 ADVICE): x with e = floor(log2 x) > 32 would make
    the engines' `x << 30` mantissa overflow BIGINT, so the mantissa is
    PRE-REDUCED to 33 bits first — r = e - 32 low bits are truncated
    before the shift (deterministically, identically in all three
    implementations). The truncation perturbs log2 by at most
    log2(1 + 2^-32) ≈ 3.4e-10 bits, three orders below the 2^-16
    output quantum, so the reduced branch is exactly as accurate as
    the narrow one; for e <= 32 the reduction is a no-op and values
    are bit-identical to the pre-r10 chain. This extends the valid
    domain to all of BIGINT: x in [1, 2^63)."""
    if x < 1:
        raise ValueError(f"log2 of non-positive {x}")
    e = x.bit_length() - 1
    r = e - 32 if e > 32 else 0
    z = ((x >> r) << _LOG2_Z_BITS) >> (e - r)
    lg = e
    for _ in range(LOG2_FRAC_BITS):
        z = (z * z) >> _LOG2_Z_BITS
        bit = 1 if z >= (1 << (_LOG2_Z_BITS + 1)) else 0
        z >>= bit
        lg = lg * 2 + bit
    return lg


#: log2(1e6) in 2^-16 units under the algorithm above — the constant
#: that turns a micro-unit probability p_micro into
#: -log2(p) = L2_ONE_MICRO_FP - log2_fp(p_micro).
L2_ONE_MICRO_FP = log2_fp_py(1_000_000)


def log2_exp_case(col: str, max_bits: int) -> str:
    """Exponent e = floor(log2(col)) for col in [1, 2^max_bits) as a
    BALANCED binary CASE tree (depth ceil(log2(max_bits)), so ~6
    comparisons per row at max_bits=63) instead of a linear high-to-low
    ladder (which walks ~max_bits comparisons for the SMALL counts that
    dominate real frequency tables — the r10 widening to 63 bits made
    that linear walk a measured ~1.5x regression on entropy/KL before
    this tree replaced it). Pure integer compares; value-identical to
    the linear ladder on both engines, so gated hashes are unchanged."""

    def rng(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi + 1) // 2
        return (
            f"CASE WHEN {col} >= {1 << mid} THEN {rng(mid, hi)}"
            f" ELSE {rng(lo, mid - 1)} END"
        )

    return rng(0, max_bits - 1)


def _with_log2_fp(
    df: DataFrame, x_col: str, out_col: str, max_bits: int = 20
) -> DataFrame:
    """Append `out_col` = fixed-point log2 of BIGINT column `x_col`,
    valid over [1, 2^max_bits) with max_bits <= 63 — i.e. up to the
    whole positive BIGINT range. Inputs whose exponent e exceeds 32 are
    mantissa-pre-reduced (x >> (e-32)) before the `<< 30` so the shift
    never leaves BIGINT (see log2_fp_py for the precision argument:
    the reduction costs < 2^-31 bits, far under the 2^-16 output
    quantum; e <= 32 inputs are bit-identical to the unreduced chain).

    Loud-failure guard (r9 ADVICE): a CASE + raise_error, so x < 1 (or
    x >= 2^max_bits when max_bits < 63) FAILS the job instead of
    silently wrapping through Spark's modulo-64 shiftleft — the guard
    never fires on valid data, so it cannot perturb oracle parity, and
    it runs only on the (distinct-value-bounded) log2 frame, never per
    corpus row. Placement matters: the guard lives in the SINGLE
    `_z` mantissa expression, NOT in a guarded copy of x — Spark's
    CollapseProject inlines projected expressions into every
    downstream reference, and the exponent tree references its input
    ~2·log2(max_bits) times, so a guarded-x column gets its
    CASE+raise_error duplicated into each of them (measured ~1.5x wall
    on entropy/KL before this was moved). Any out-of-domain row still
    raises: every row's _z is computed in the same projection, so the
    poisoned branch fires before any result column can surface.

    The exponent is a balanced binary CASE tree (log2_exp_case — ~6
    compares/row at 63 bits, not a linear ladder); each of the
    LOG2_FRAC_BITS squaring rounds lands in its OWN projection —
    inlining would double the expression tree per round. All codegen
    integer arithmetic; z stays < 2^31 so z*z < 2^62 is exact."""
    if max_bits > 63:
        raise ValueError(f"max_bits {max_bits} > 63 exceeds BIGINT")
    guard = f"{x_col} < 1" + (
        f" OR {x_col} >= {1 << max_bits}" if max_bits < 63 else ""
    )
    df = df.withColumn(
        "_e", F.expr(log2_exp_case(x_col, max_bits)).cast("long")
    )
    df = df.withColumn(
        "_r",
        F.expr("CASE WHEN _e > 32 THEN _e - 32 ELSE 0 END").cast("long"),
    )
    z = dl.shr(
        dl.shl(
            "(" + dl.shr(x_col, "_r", dl.SPARK) + ")",
            _LOG2_Z_BITS,
            dl.SPARK,
        ),
        "(_e - _r)",
        dl.SPARK,
    )
    df = df.withColumn(
        "_z",
        F.expr(
            f"CASE WHEN {guard} THEN CAST(raise_error("
            f"'log2_fp: input outside [1, 2^{max_bits})') AS BIGINT) "
            f"ELSE {z} END"
        ).cast("long"),
    ).withColumn("_lg", F.col("_e"))
    two = 1 << (_LOG2_Z_BITS + 1)
    for _ in range(LOG2_FRAC_BITS):
        df = df.withColumn(
            "_zz", F.expr(dl.shr("_z * _z", str(_LOG2_Z_BITS), dl.SPARK))
        )
        df = df.withColumn(
            "_z",
            F.when(F.col("_zz") >= two, F.expr(dl.shr("_zz", "1", dl.SPARK)))
            .otherwise(F.col("_zz")),
        ).withColumn(
            "_lg",
            F.col("_lg") * 2
            + F.when(F.col("_zz") >= two, F.lit(1)).otherwise(F.lit(0)),
        )
    return df.withColumn(out_col, F.col("_lg").cast("long")).drop(
        "_e", "_r", "_z", "_zz", "_lg"
    )


def perplexity_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    head_milli: int = 4000,
    tail_milli: int = 6000,
) -> DataFrame:
    """CCNet-style perplexity filter (Wenzek et al. 2020): score each
    document by the MEAN BITS PER BIGRAM, -log2 p(w2|w1), under the
    corpus's own bigram LM, and bucket head/middle/tail by fixed
    thresholds — the classic LM-quality gate, here with a TRUE log
    (fixed-point shift-and-square, see `log2_fp_py`) instead of the
    log-free proxy `lm_bigram_scores` keeps for raw probabilities.

    Engine-exactness: p(w2|w1) is the micro-unit integer conditional
    (c_xy·1e6 DIV c_x, clamped to >= 1 — at 100 TB a unigram can exceed
    1e6 occurrences and floor the ratio to zero), and
    -log2 p = L2_ONE_MICRO_FP - log2_fp(p_micro) in 2^-16 units — every
    step integer, both engines identical. The envelope: per-bigram bits
    <= ~20, 2^-16 units <= 1.31e6, so a BIGINT sum holds ~7e12 bigrams
    per document.

    Shape (100 TB): unigram + bigram count tables (partial-agg
    shuffles), the log2 chain runs once per DISTINCT bigram (vocab-
    bounded, never per occurrence), occurrences meet the scored pair
    table through a hash equi-join, then one per-doc aggregate. The
    zero-bigram docs re-enter via left join with n_bigrams = 0 and land
    in 'tail' (an unscoreable doc is not evidence of quality).

    Output: (doc_id, n_bigrams, mean_bits_milli, min_p_micro, bucket)
    — mean bits per bigram in milli-bits, the doc's worst transition,
    and the CCNet bucket ('head' < head_milli <= 'middle' < tail_milli
    <= 'tail')."""
    occ = _bigram_occurrences(df, text_col, id_col)
    uni = (
        df.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c_x"))
    )
    big = occ.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_xy")
    )
    cond = dl.idiv(
        f"c_xy * CAST({PMI_SCALE} AS BIGINT)", "c_x", dl.SPARK
    )
    pairs = (
        big.join(uni.select(F.col("t").alias("w1"), "c_x"), "w1")
        .select(
            "w1",
            "w2",
            F.greatest(F.expr(cond).cast("long"), F.lit(1)).alias(
                "p_micro"
            ),
        )
    )
    scored = _with_log2_fp(pairs, "p_micro", "lg").select(
        "w1",
        "w2",
        "p_micro",
        (F.lit(L2_ONE_MICRO_FP).cast("long") - F.col("lg")).alias("nl"),
    )
    per = (
        occ.join(scored, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("nl").cast("long").alias("sum_nl"),
            F.min("p_micro").cast("long").alias("min_p_micro"),
        )
        .select(
            "id",
            "n_bigrams",
            F.expr(
                dl.idiv(
                    "sum_nl * CAST(1000 AS BIGINT)",
                    f"n_bigrams * CAST({1 << LOG2_FRAC_BITS} AS BIGINT)",
                    dl.SPARK,
                )
            ).cast("long").alias("mean_bits_milli"),
            "min_p_micro",
        )
    )
    z = F.lit(0).cast("long")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", z).alias("n_bigrams"),
            F.coalesce("mean_bits_milli", z).alias("mean_bits_milli"),
            F.coalesce("min_p_micro", z).alias("min_p_micro"),
            F.when(F.col("n_bigrams") == 0, F.lit("tail"))
            .when(F.col("mean_bits_milli") < head_milli, F.lit("head"))
            .when(F.col("mean_bits_milli") < tail_milli, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def entropy_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, in TRUE
    bits (fixed-point log2 — the information-theoretic repetitiveness
    signal next to the log-free Simpson index `chardiv` keeps):
    H = log2(n) - (1/n)·Σ_t c_t·log2(c_t) for per-doc token counts c_t
    summing to n, plus the normalized form H / log2(n_types) (1.0 =
    uniform usage, -> 0 = one token dominates).

    Engine-exactness: both log2 applications run over the DISTINCT
    integer values of c_t and n (never per occurrence or per type), so
    the LOG2_FRAC_BITS chain executes on a frame bounded by the number
    of distinct counts — tiny — and joins back. Everything else is
    integer multiply/sum/DIV. Envelope (r10): the log2 chain covers all
    of BIGINT (mantissa pre-reduction, see _with_log2_fp), so n itself
    is unconstrained to 2^63 and out-of-domain inputs raise instead of
    wrapping; the binding bound is the Σ c·L(c) accumulation — each
    L < 63·2^16 ≈ 4.13e6, so per-doc n up to ~2^41 (2e12 tokens in ONE
    document) keeps the sum BIGINT-exact.

    Output: (doc_id, n_tokens, n_types, entropy_milli_bits,
    norm_entropy_ppm); tokenless docs -> all zeros, single-type docs
    -> entropy 0 with norm 0 (log2(1) = 0 denominator guarded)."""
    scale = 1 << LOG2_FRAC_BITS
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
    )
    # r14 (guide §5): materialize the two bounded reused frames. `cnt`
    # feeds three branches (per, vals, csum) and `lg` joins back three
    # times; column pruning gives each consumer a different exchange
    # subtree, so ReusedExchange misses and every downstream broadcast
    # build re-ran the tokenize and the 63-step log chain (plan sweep:
    # 16 jobs, 3 Generates). Both frames are NARROW and bounded —
    # (id, token, count) by corpus vocabulary-occurrence, (v, lg) by
    # DISTINCT count values — so unlike the rejected LSH shingle-array
    # spill the writes stay cheap as data grows. Interleaved A/B,
    # hashes identical: 4.54 -> 3.48 s sf0.1, 8.35 -> 6.22 s sf1.
    cnt = spill_to_parquet(
        tok.groupBy("id", "t").agg(F.count("*").cast("long").alias("c")),
        label="entropy-cnt",
    )
    per = cnt.groupBy("id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
    )
    vals = (
        cnt.select(F.col("c").alias("v"))
        .unionByName(per.select(F.col("n").alias("v")))
        .unionByName(per.select(F.col("n_types").alias("v")))
        .distinct()
    )
    lg = spill_to_parquet(
        _with_log2_fp(vals, "v", "lg", max_bits=63).select("v", "lg"),
        label="entropy-lg",
    )
    csum = (
        cnt.join(lg.select(F.col("v").alias("c"), "lg"), "c")
        .groupBy("id")
        .agg(F.sum(F.col("c") * F.col("lg")).cast("long").alias("clg"))
    )
    h = (
        per.join(csum, "id")
        .join(lg.select(F.col("v").alias("n"), F.col("lg").alias("ln")), "n")
        .join(
            lg.select(
                F.col("v").alias("n_types"), F.col("lg").alias("lt")
            ),
            "n_types",
        )
        .select(
            "id",
            "n",
            "n_types",
            (
                F.col("ln")
                - F.expr(dl.idiv("clg", "n", dl.SPARK)).cast("long")
            ).alias("h_fp"),
            "lt",
        )
    )
    z = F.lit(0).cast("long")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(h, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n", z).alias("n_tokens"),
            F.coalesce("n_types", z).alias("n_types"),
            F.coalesce(
                F.expr(
                    dl.idiv(
                        f"h_fp * CAST(1000 AS BIGINT)", str(scale), dl.SPARK
                    )
                ).cast("long"),
                z,
            ).alias("entropy_milli_bits"),
            F.coalesce(
                F.when(
                    F.col("lt") > 0,
                    F.expr(
                        dl.idiv(
                            "h_fp * CAST(1000000 AS BIGINT)", "lt", dl.SPARK
                        )
                    ).cast("long"),
                ).otherwise(z),
                z,
            ).alias("norm_entropy_ppm"),
        )
    )


def kl_drift_scores(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence from the CORPUS token distribution in
    TRUE bits (fixed-point log2) — the principled "did this domain
    drift?" number next to `curation.corpus_drift`'s total-variation
    grid: KL(source ‖ corpus) = Σ_t p_s(t)·log2(p_s(t)/p(t)), computed
    exactly as kl_fp = (Σ_t c_st·[L(c_st)+L(n)-L(n_s)-L(c_t)]) DIV n_s.

    Finiteness is structural: every source token occurs in the corpus
    (c_t >= c_st >= 1), so support(p_s) ⊆ support(p) and no smoothing
    is needed. Engine-exactness as in `entropy_scores`: the log2 chain
    runs over the DISTINCT integer values of {c_st} ∪ {c_t} ∪ {n_s} ∪
    {n} — a frame bounded by distinct counts — and every remaining step
    is integer multiply/sum/DIV.

    Envelope (r10, ADVICE medium): the corpus total n and the common-
    token counts c_t cross 2^33 long before 100 TB (n ~ 1e13 tokens),
    so the log2 chain now covers ALL of BIGINT via mantissa
    pre-reduction (see _with_log2_fp) and raises loudly out of domain
    instead of wrapping. The remaining binding bounds: (a) the
    per-source term sum — each |L(c_st)-L(c_t)| < 63·2^16 ≈ 4.13e6 and
    Σ c_st = n_s, so n_s up to ~2^41 (2.2e12 tokens in ONE source)
    stays BIGINT-exact; (b) the final milli-bit scaling, which is
    SPLIT (quotient/remainder before the ×1000 — an exact trunc-
    division identity, bit-identical to the single-expression form) so
    it never multiplies the full term sum by 1000. The fixed-point
    truncations can leave a tiny NEGATIVE result on an identical-to-
    corpus source (exact KL would be 0); that is measurement noise,
    not a bug, and callers threshold in milli-bits.

    Shape (100 TB): two count tables — (source, token) and (token) —
    both partial-agg shuffles; the (token)-keyed join carries counts,
    not text; one per-source aggregate ends the plan (k rows).

    Output: (source, n_tokens, n_types, kl_milli_bits), sorted."""
    scale = 1 << LOG2_FRAC_BITS
    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
    )
    # r14 (guide §5): materialize the two bounded reused frames — `st`
    # feeds four branches (ct, ns, vals, terms) and `lg` joins back
    # four times; column pruning defeats ReusedExchange across them, so
    # the plan re-ran the tokenize and the 63-step log chain per
    # broadcast build (plan sweep: 19 jobs, 7 BroadcastExchange). Both
    # frames are narrow and bounded ((src, token, count) / distinct
    # count values). Interleaved A/B, hashes identical:
    # 5.43 -> 3.34 s sf0.1, 5.04 -> 3.23 s sf1.
    st = spill_to_parquet(
        tok.groupBy("src", "t").agg(
            F.count("*").cast("long").alias("c_st")
        ),
        label="kl-st",
    )
    ct = st.groupBy("t").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = st.groupBy("src").agg(
        F.sum("c_st").cast("long").alias("n_s"),
        F.count("*").cast("long").alias("n_types"),
    )
    n1 = ns.agg(F.sum("n_s").cast("long").alias("n"))
    vals = (
        st.select(F.col("c_st").alias("v"))
        .unionByName(ct.select(F.col("c_t").alias("v")))
        .unionByName(ns.select(F.col("n_s").alias("v")))
        .unionByName(n1.select(F.col("n").alias("v")))
        .distinct()
    )
    lg = spill_to_parquet(
        _with_log2_fp(vals, "v", "lg", max_bits=63).select("v", "lg"),
        label="kl-lg",
    )
    terms = (
        st.join(lg.select(F.col("v").alias("c_st"), "lg"), "c_st")
        .join(
            ct.join(
                lg.select(
                    F.col("v").alias("c_t"), F.col("lg").alias("lg_ct")
                ),
                "c_t",
            ).select("t", "lg_ct"),
            "t",
        )
        .select(
            "src",
            (F.col("c_st") * (F.col("lg") - F.col("lg_ct"))).alias("term"),
        )
        .groupBy("src")
        .agg(F.sum("term").cast("long").alias("tsum"))
    )
    return (
        terms.join(ns, "src")
        .join(
            F.broadcast(
                n1.join(
                    lg.select(F.col("v").alias("n"), F.col("lg").alias("ln")),
                    "n",
                )
            )
        )
        .join(
            lg.select(F.col("v").alias("n_s"), F.col("lg").alias("lns")),
            "n_s",
        )
        .select(
            F.col("src").alias(source_col),
            F.col("n_s").alias("n_tokens"),
            "n_types",
            F.expr(
                kl_milli_expr("tsum", "n_s", "ln", "lns", dl.SPARK)
            ).cast("long").alias("kl_milli_bits"),
        )
        .orderBy(source_col)
    )


def kl_milli_expr(tsum: str, n_s: str, ln: str, lns: str, d: str) -> str:
    """Milli-bit KL from the summed terms WITHOUT the overflow-prone
    `x * 1000` over the full term sum: with x = tsum + n_s·(L(n)-L(n_s))
    and q = x DIV n_s, r = x - q·n_s,

        (x·1000) DIV (n_s·2^16)  ==  (q·1000 + (r·1000 DIV n_s)) DIV 2^16

    — exact for truncation-toward-zero division (q·n_s·1000 divides out;
    nested trunc-div with positive divisors composes), so results are
    bit-identical to the single-expression form while |r·1000| < n_s·1000
    and |q|·1000 < 8.3e9 keep every intermediate in BIGINT for n_s up to
    ~2^41. Shared dual-dialect text so both engines run the same ops."""
    scale = 1 << LOG2_FRAC_BITS
    x = f"({tsum} + {n_s} * ({ln} - {lns}))"
    q = f"({dl.idiv(x, n_s, d)})"
    r = f"({x} - {q} * {n_s})"
    return dl.idiv(
        f"({q} * 1000 + {dl.idiv(f'{r} * 1000', n_s, d)})",
        str(scale),
        d,
    )


# --- stupid backoff LM scoring (r13) ------------------------------------------

#: Backoff factors in micro-units: level 1 is the raw trigram ratio,
#: level 2 applies 0.4 once, level 3 applies 0.4 twice (Brants et al.
#: 2007 use a single fixed 0.4 at every backoff — no normalization,
#: which is the whole point: the score is a filter signal, not a
#: probability, and it distributes over count shards trivially).
SB_L1_SCALE = 1_000_000
SB_L2_SCALE = 400_000
SB_L3_SCALE = 160_000


def _trigram_occurrences(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, w1, w2, w3) — one row per adjacent token triple."""
    idx = dl.filter_(
        dl.seq("1", f"greatest({dl.size('w', dl.SPARK)} - 2, 1)",
               dl.SPARK),
        f"i -> i <= ({dl.size('w', dl.SPARK)}) - 2",
        dl.SPARK,
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(dl.words(text_col, dl.SPARK)).alias("w"),
        )
        .select("id", F.explode(F.expr(idx)).alias("i"), "w")
        .select(
            "id",
            F.expr(dl.elem("w", "i", dl.SPARK)).alias("w1"),
            F.expr(dl.elem("w", "i + 1", dl.SPARK)).alias("w2"),
            F.expr(dl.elem("w", "i + 2", dl.SPARK)).alias("w3"),
        )
    )


def stupid_backoff_scores(
    df: DataFrame,
    ref_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stupid backoff trigram scoring (Brants et al. 2007 — "Large
    Language Models in Machine Translation", the LM built FOR
    MapReduce-scale web corpora): score every NON-reference document
    against n-gram count tables from the reference slice (`ref_pred`
    selects the trusted corpus — the CCNet/KenLM filtering pattern of
    scoring candidate data under a clean-corpus LM; scoring a corpus
    under its own counts never backs off, because every observed
    trigram trivially has count >= 1).

    Per trigram position in a scored doc:
      level 1: S = c3(w1w2w3) / c2(w1w2)            (trigram seen)
      level 2: S = 0.4 * c2(w2w3) / c1(w2)          (bigram backoff)
      level 3: S = 0.16 * c1(w3) / N                (unigram backoff)
      level 0: S = 0                                 (w3 out of vocab)
    in micro-units via pre-scaled integer division (c3 <= c2 and
    c2 <= c1 by construction, so `count * scale` stays in BIGINT until
    a single n-gram exceeds ~9.2e12 occurrences — beyond any real
    corpus's most frequent trigram; the unigram level divides by the
    reference token total, same bound).

    Output: (id_col, n_trigrams, avg_micro, n_l1, n_l2, n_l3, n_oov)
    — mean score in micro-units plus the per-level hit counts (the
    backoff histogram IS the domain-shift diagnostic: a candidate doc
    scoring mostly at level 3/OOV is out-of-domain for the reference).
    Docs with fewer than 3 tokens re-enter via left join with zeros.

    Shape (100 TB): three count tables (partial-agg shuffles, each
    bounded by n-gram vocabulary, not corpus rows), the scored
    positions meet them through hash equi-joins on the n-gram keys,
    the reference token total broadcasts as a 1-row aggregate, then
    ONE per-doc aggregate. No driver-side state."""
    ref = df.filter(ref_pred)
    new = df.filter(~ref_pred)
    c3 = (
        _trigram_occurrences(ref, text_col, id_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("cnt3"))
    )
    c2 = (
        _bigram_occurrences(ref, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt2"))
    )
    c1 = (
        ref.select(
            F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("cnt1"))
    )
    n_total = c1.agg(F.sum("cnt1").cast("long").alias("n_total"))
    pos = (
        _trigram_occurrences(new, text_col, id_col)
        .join(c3, ["w1", "w2", "w3"], "left")
        .join(c2, ["w1", "w2"], "left")
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("cnt2").alias("cnt2b"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            c1.select(F.col("t").alias("w2"),
                      F.col("cnt1").alias("cnt1_w2")),
            "w2",
            "left",
        )
        .join(
            c1.select(F.col("t").alias("w3"),
                      F.col("cnt1").alias("cnt1_w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(n_total))
    )
    scored = pos.select(
        "id",
        F.expr(
            f"""CASE
            WHEN cnt3 IS NOT NULL THEN
                ({SB_L1_SCALE} * cnt3) DIV cnt2
            WHEN cnt2b IS NOT NULL THEN
                ({SB_L2_SCALE} * cnt2b) DIV cnt1_w2
            WHEN cnt1_w3 IS NOT NULL THEN
                ({SB_L3_SCALE} * cnt1_w3) DIV n_total
            ELSE 0 END"""
        ).cast("long").alias("s_micro"),
        F.expr(
            "CASE WHEN cnt3 IS NOT NULL THEN 1 "
            "WHEN cnt2b IS NOT NULL THEN 2 "
            "WHEN cnt1_w3 IS NOT NULL THEN 3 ELSE 0 END"
        ).alias("lvl"),
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.sum("s_micro").cast("long").alias("_sum"),
        F.sum(F.expr("CASE WHEN lvl = 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_l1"),
        F.sum(F.expr("CASE WHEN lvl = 2 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_l2"),
        F.sum(F.expr("CASE WHEN lvl = 3 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_l3"),
        F.sum(F.expr("CASE WHEN lvl = 0 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_oov"),
    )
    return (
        new.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_trigrams", F.lit(0)).cast("long")
            .alias("n_trigrams"),
            F.expr(
                "CAST(COALESCE(_sum, 0) DIV greatest("
                "COALESCE(n_trigrams, 0), 1) AS BIGINT)"
            ).alias("avg_micro"),
            F.coalesce("n_l1", F.lit(0)).cast("long").alias("n_l1"),
            F.coalesce("n_l2", F.lit(0)).cast("long").alias("n_l2"),
            F.coalesce("n_l3", F.lit(0)).cast("long").alias("n_l3"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        )
    )
