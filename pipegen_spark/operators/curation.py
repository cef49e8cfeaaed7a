"""Corpus-curation operators for large-scale training-data pipelines:
benchmark decontamination, repetition scoring, PII/regex redaction,
deterministic stratified sampling, and token-budget sequence packing.

Scale design (100 TB discipline):
- Decontamination joins shingle ROWS against a (small) benchmark shingle
  set — broadcast hash join, no quadratic term, candidates never leave
  their partition.
- Repetition / redaction are pure map operators: no shuffle, text column
  only, pushdown-safe.
- Stratified sampling is a deterministic per-row hash gate (no sampling
  state, no driver round-trip, reproducible across runs and engines).
- Sequence packing is one window per (lang, source) partition — at real
  scale pack within finer shards (add a shard column to part_cols) so no
  single window partition exceeds one task.

All fragments come from functions/dialect.py so the DuckDB oracle renders
the identical computation.

Reference parity: the reference (mcolomerc/pipegen) has no curation
operators; these extend it per the north star (SURVEY.md §2B-B29 [EXT]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators import dedup as dd
from pipegen_spark.operators.spill import spill_to_parquet

# PII-ish redaction patterns. No backslash classes — the same literal
# pattern string must parse identically in Java regex and DuckDB RE2.
PII_PATTERNS: dict[str, str] = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,4}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "phone": "[0-9]{3}[-][0-9]{3,4}[-][0-9]{4}",
    "digits": "[0-9]{6,}",
}


# --- benchmark decontamination ------------------------------------------------


def contamination_check(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document n-gram overlap against a benchmark/eval corpus.

    The standard decontamination pass: a training document whose n-grams
    overlap an evaluation set is flagged before training. Returns
    (id, n_ngrams, n_overlap, contamination, is_contaminated) for EVERY
    row of df (documents shorter than n tokens get zeros).

    Shape: n-grams are FINGERPRINTED to 60-bit hashes map-side before
    anything shuffles — dedup, counts, and the overlap join all move
    8-byte longs instead of raw n-gram strings (at 100 TB that is the
    difference between shuffling fingerprints and shuffling the corpus).
    The benchmark fingerprint set is deduped and BROADCAST, so the overlap
    join is map-side. The oracle hashes identically, so any fingerprint
    collision is symmetric and parity is exact.
    """
    h = F.expr(dl.hash60("s", dl.SPARK)).alias("h")
    cand = (
        dd.shingle_rows(df, text_col, id_col, n, distinct=False)
        .select("id", h)
        .distinct()
    )
    bench = (
        dd.shingle_rows(bench_df, text_col, id_col, n, distinct=False)
        .select(h)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE aggregation computes both counts: the broadcast left join tags
    # each candidate fingerprint map-side, then a single groupBy(id) does
    # conditional counts — vs the previous two-groupBy + three-way-join
    # shape this removes a shuffle and a join from the hot path.
    stats = (
        cand.join(F.broadcast(bench), "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("_hit").alias("n_overlap"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    n_ngrams = F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long")
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
    contamination = F.when(
        n_ngrams > 0, n_overlap.cast("double") / n_ngrams.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        ids.join(stats, "id", "left")
        .select(
            "id",
            n_ngrams.alias("n_ngrams"),
            n_overlap.alias("n_overlap"),
            contamination.alias("contamination"),
            (contamination >= threshold).alias("is_contaminated"),
        )
    )


# --- intra-document repetition ------------------------------------------------


def repetition_exprs(text: str, d: str, w: str | None = None) -> dict[str, str]:
    """Repetition-score fragments over a token-array expression.

    rep_ratio = 1 - distinct_ngrams / total_ngrams: boilerplate and
    copy-paste-heavy documents score high; 0 for docs shorter than n.
    """
    n = REPETITION_N  # module constant so the oracle renders the same n
    w = w or dl.words(text, d)
    total = f"greatest({dl.size(w, d)} - {n - 1}, 0)"
    distinct = dl.size(dl.word_shingles(w, n, d), d)
    ratio = (
        f"CASE WHEN ({total}) > 0 THEN 1.0 - "
        f"(CAST({distinct} AS DOUBLE) / CAST({total} AS DOUBLE)) "
        f"ELSE 0.0 END"
    )
    return {
        "n_ngrams": f"CAST({total} AS BIGINT)",
        "n_distinct": f"CAST({distinct} AS BIGINT)",
        "rep_ratio": ratio,
    }


REPETITION_N = 3


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append repetition-score columns (map-only, JVM-side; token array
    materialized once behind a Generate barrier — see operators/text.py)."""
    from pipegen_spark.operators.text import _tokens_once

    exprs = repetition_exprs(text_col, dl.SPARK, w="_toks")
    return (
        _tokens_once(df, text_col)
        .select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])
        .drop("_toks")
    )


# --- Gopher document-quality rules --------------------------------------------

# Published heuristic-filter thresholds from Gopher (Rae et al. 2021,
# "Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", Appendix A1.1.1), also used by MassiveText/RefinedWeb-style
# pipelines. A document is KEPT only if every rule holds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' or '...' per word
GOPHER_MAX_BULLET_RATIO = 0.9  # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_RATIO = 0.3  # lines ending with '...'
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8  # words containing >=1 letter
GOPHER_MIN_REQUIRED_STOPS = 2
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_exprs(
    text: str,
    d: str,
    w: str | None = None,
    *,
    min_words: int = GOPHER_MIN_WORDS,
    min_required_stops: int = GOPHER_MIN_REQUIRED_STOPS,
) -> dict[str, str]:
    """Gopher quality-rule fragments over a document text expression.

    Thresholds default to the published Gopher values; `min_words` and
    `min_required_stops` are overridable because corpus-appropriate values
    differ by domain (MassiveText tuned per-subset too).

    Every ratio is a double division of two exact integer counts, so both
    engines produce bit-identical values; the keep decision compares those
    doubles against literal thresholds — no accumulated float error
    anywhere. Map-only: no shuffle, text is the only wide column touched,
    and the whole block stays inside whole-stage codegen.
    """
    w = w or dl.words(text, d)
    tok_chars = dl.fold(
        dl.transform(w, "x -> CAST(length(x) AS BIGINT)", d),
        "CAST(0 AS BIGINT)",
        "(acc,x) -> acc + x",
        d,
    )
    ln = dl.lines(text, d)
    bullet_lam = "x -> " + dl.rlike("ltrim(x)", "^[-*]", d)
    ellipsis_lam = "x -> " + dl.rlike("rtrim(x)", "[.]{3}$", d)
    alpha_lam = "x -> " + dl.rlike("x", "[a-z]", d)
    req_arr = (
        "array(" + ",".join(f"'{s}'" for s in GOPHER_REQUIRED_WORDS) + ")"
        if d == dl.SPARK
        else "[" + ",".join(f"'{s}'" for s in GOPHER_REQUIRED_WORDS) + "]"
    )
    n_words = f"CAST({dl.size(w, d)} AS BIGINT)"
    n_lines = f"CAST({dl.size(ln, d)} AS BIGINT)"
    n_symbols = f"CAST({dl.regexp_count(text, '#|[.]{3}', d)} AS BIGINT)"
    n_bullet = f"CAST({dl.size(dl.filter_(ln, bullet_lam, d), d)} AS BIGINT)"
    n_ellipsis = (
        f"CAST({dl.size(dl.filter_(ln, ellipsis_lam, d), d)} AS BIGINT)"
    )
    n_alpha = f"CAST({dl.size(dl.filter_(w, alpha_lam, d), d)} AS BIGINT)"
    n_req = (
        f"CAST({dl.intersect_size(dl.arr_distinct(w, d), req_arr, d)}"
        " AS BIGINT)"
    )

    def _ratio(num: str, den: str) -> str:
        return (
            f"(CAST({num} AS DOUBLE) / CAST(greatest({den}, 1) AS DOUBLE))"
        )

    mean_len = _ratio(f"({tok_chars})", n_words)
    symbol_ratio = _ratio(n_symbols, n_words)
    bullet_ratio = _ratio(n_bullet, n_lines)
    ellipsis_ratio = _ratio(n_ellipsis, n_lines)
    alpha_ratio = _ratio(n_alpha, n_words)
    keep = (
        f"(({n_words}) BETWEEN {min_words} AND {GOPHER_MAX_WORDS}"
        f" AND {mean_len} BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}"
        f" AND {GOPHER_MAX_MEAN_WORD_LEN}"
        f" AND {symbol_ratio} <= {GOPHER_MAX_SYMBOL_RATIO}"
        f" AND {bullet_ratio} <= {GOPHER_MAX_BULLET_RATIO}"
        f" AND {ellipsis_ratio} <= {GOPHER_MAX_ELLIPSIS_RATIO}"
        f" AND {alpha_ratio} >= {GOPHER_MIN_ALPHA_WORD_RATIO}"
        f" AND ({n_req}) >= {min_required_stops})"
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "bullet_ratio": bullet_ratio,
        "ellipsis_ratio": ellipsis_ratio,
        "alpha_word_ratio": alpha_ratio,
        "n_required_stops": n_req,
        "gopher_keep": keep,
    }


def with_gopher(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = GOPHER_MIN_WORDS,
    min_required_stops: int = GOPHER_MIN_REQUIRED_STOPS,
) -> DataFrame:
    """Append Gopher quality-rule columns (map-only, JVM-side; token array
    materialized once behind a Generate barrier — see operators/text.py)."""
    from pipegen_spark.operators.text import _tokens_once

    exprs = gopher_exprs(
        text_col,
        dl.SPARK,
        w="_toks",
        min_words=min_words,
        min_required_stops=min_required_stops,
    )
    return (
        _tokens_once(df, text_col)
        .select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])
        .drop("_toks")
    )


# --- PII / regex redaction ----------------------------------------------------


def redact_exprs(
    text: str, d: str, patterns: dict[str, str] | None = None
) -> dict[str, str]:
    """Per-pattern hit counts + the fully redacted text.

    Redaction applies patterns in dict order, each replaced globally with
    `<NAME>`; counts are measured on the ORIGINAL text (a pattern firing
    inside an earlier replacement token never counts).
    """
    patterns = patterns or PII_PATTERNS
    out: dict[str, str] = {}
    red = text
    for name, pat in patterns.items():
        out[f"n_{name}"] = (
            f"CAST({dl.regexp_count(text, pat, d)} AS BIGINT)"
        )
        red = dl.regexp_replace_all(red, pat, f"<{name.upper()}>", d)
    out["redacted"] = red
    return out


def with_redaction(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Append redaction columns (map-only, JVM-side regex)."""
    exprs = redact_exprs(text_col, dl.SPARK, patterns)
    return df.select("*", *[F.expr(e).alias(n) for n, e in exprs.items()])


# --- deterministic stratified sampling ----------------------------------------


def sample_gate_expr(
    id_col: str, stratum_col: str, rates_bps: dict[str, int],
    default_bps: int, d: str,
) -> str:
    """Boolean keep-gate: hash60(id) % 10000 < stratum rate (basis points).

    Deterministic, stateless, engine-portable: the same row is kept or
    dropped everywhere, reruns are reproducible, and no coordination is
    needed across 1000 executors (unlike reservoir/Bernoulli samplers)."""
    whens = " ".join(
        f"WHEN '{s}' THEN {bps}" for s, bps in sorted(rates_bps.items())
    )
    rate = f"CASE {stratum_col} {whens} ELSE {default_bps} END"
    bucket = f"({dl.hash60(f'CAST({id_col} AS STRING)', d)} % 10000)"
    return f"({bucket} < {rate})"


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_bps: dict[str, int],
    default_bps: int = 1000,
) -> DataFrame:
    """Filter to a deterministic per-stratum sample (map-only)."""
    gate = sample_gate_expr(
        id_col, stratum_col, rates_bps, default_bps, dl.SPARK
    )
    return df.filter(F.expr(gate))


# --- deterministic train/val/test split ---------------------------------------

# Default split weights in basis points (sum 10000): 90/5/5.
SPLIT_BPS: tuple[tuple[str, int], ...] = (
    ("train", 9000),
    ("val", 500),
    ("test", 500),
)
# Salt appended to the id before hashing so split assignment is
# independent of the sampling gate's hash of the same id.
SPLIT_SALT = ":split"


def split_expr(
    id_col: str,
    d: str,
    splits: tuple[tuple[str, int], ...] = SPLIT_BPS,
) -> str:
    """Split-label expression: hash60(id || salt) % 10000 walked through
    the cumulative split weights.

    Deterministic and coordination-free like sample_gate_expr: a document
    lands in the same split on every run, engine, executor count, and
    corpus size — the property that keeps eval sets stable as the corpus
    grows (new docs get labels; old labels never move). Map-only.
    """
    if sum(w for _, w in splits) != 10000:
        raise ValueError("split weights must sum to 10000 bps")
    bucket = dl.hash60(
        f"(CAST({id_col} AS STRING) || '{SPLIT_SALT}')", d
    )
    cum = 0
    whens = []
    for name, w in splits[:-1]:
        cum += w
        whens.append(f"WHEN ({bucket}) % 10000 < {cum} THEN '{name}'")
    return (
        "CASE " + " ".join(whens) + f" ELSE '{splits[-1][0]}' END"
    )


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = SPLIT_BPS,
) -> DataFrame:
    """Append the deterministic split label (map-only)."""
    return df.withColumn(
        "split", F.expr(split_expr(id_col, dl.SPARK, splits))
    )


# --- token-budget sequence packing --------------------------------------------


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    part_cols: tuple[str, ...] = ("lang", "source"),
    max_stream_rows: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    id order within each (part_cols) stream and sliced into fixed
    `budget`-token training sequences; each doc is labeled with the chunk
    its first token lands in (seq_id) and its offset inside that chunk.

    One window per stream — a hot stream would sort in a single task. With
    `max_stream_rows` set, streams larger than the budget are split by a
    deterministic hash shard (`_shard` output column): shard count =
    ceil(rows/max_stream_rows) from a cheap per-stream count, shard id =
    hash60(id) % count, and the shard joins part_cols in the window key so
    no task ever sorts more than ~max_stream_rows rows. Chunk ids are then
    per (stream, shard) — deterministic for a given input, and the shard
    column in the output keeps them interpretable. Leave None (default)
    for globally-contiguous chunks when streams are known to be bounded.
    """
    n_tokens = F.expr(
        f"CAST({dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)} AS BIGINT)"
    )
    base = df.select(
        F.col(id_col).alias("id"), *part_cols, n_tokens.alias("n_tokens")
    )
    eff_parts: list[str] = list(part_cols)
    if max_stream_rows is not None:
        counts = base.groupBy(*part_cols).agg(F.count("*").alias("_sn"))
        nsh = F.ceil(F.col("_sn") / F.lit(max_stream_rows)).cast("long")
        shard = (
            F.expr(dl.hash60("CAST(id AS STRING)", dl.SPARK)) % nsh
        ).cast("long")
        base = (
            base.join(F.broadcast(counts), list(part_cols))
            .withColumn("_shard", shard)
            .drop("_sn")
        )
        eff_parts.append("_shard")
    w = (
        Window.partitionBy(*eff_parts)
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    # floor() explicitly on BOTH engines: a bare long/int division is double
    # division in each, but a later CAST truncates in Spark and ROUNDS in
    # DuckDB — floor-then-cast is the only portable integer division here.
    return base.select(
        "id", *eff_parts, "n_tokens",
        offset.alias("tok_offset"),
        F.floor(offset / F.lit(budget)).cast("long").alias("seq_id"),
        (offset % F.lit(budget)).cast("long").alias("seq_off"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-`size` character chunks with `overlap`
    (RAG/context-window prep): chunk i covers 1-based char range
    [i*step+1, i*step+size] with step = size - overlap; chunks are emitted
    while their start lies inside the text, and an empty document yields
    one empty chunk so every input row stays represented.

    Shape: pure map-side explode — no shuffle, chunks inherit the input
    partitioning, and the text column is the only one widened. The
    sequence is rendered with an explicit +1 step because Spark's
    `sequence(a, b)` REVERSES when b < a instead of returning empty.
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    n_chunks = (
        "greatest(CAST(ceil(CAST(length(_t) AS DOUBLE) "
        f"/ {step}.0) AS INT), 1)"
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .select(
            "id",
            "_t",
            F.expr(f"explode(sequence(0, {n_chunks} - 1, 1))").alias("_i"),
        )
        .select(
            "id",
            F.col("_i").cast("long").alias("chunk_id"),
            (F.col("_i").cast("long") * step + 1).alias("chunk_start"),
            F.expr(f"substr(_t, _i * {step} + 1, {size})").alias("chunk"),
        )
    )


def mixture_stats(
    df: DataFrame,
    text_col: str = "text",
    part_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Data-mixture report per stream: doc count, token count, and each
    stream's share of corpus tokens — the input for sampling-weight
    decisions in any multi-source training mix.

    One groupBy over the stream key; the corpus total joins back as a
    1-row broadcast (no second scan — computed from the grouped frame).
    token_share is a double division of two exact longs: deterministic
    across engines.
    """
    n_tokens = F.expr(
        f"CAST({dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)} AS BIGINT)"
    )
    grouped = (
        df.select(*part_cols, n_tokens.alias("_nt"))
        .groupBy(*part_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
        )
    )
    total = grouped.agg(F.sum("n_tokens").alias("_total"))
    return grouped.crossJoin(F.broadcast(total)).select(
        *part_cols,
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.col("_total").cast("double")
        ).alias("token_share"),
    )


def mixture_sample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_cols: tuple[str, ...] = ("lang", "source"),
    budget_fraction: str = "0.5",
) -> DataFrame:
    """Token-budgeted mixture sampling — the DECISION half of
    mixture_stats: rebalance the corpus to `budget_fraction` of its total
    tokens, spread uniformly across streams, as deterministic per-doc
    keep/drop decisions.

    Each stream's sampling rate is min(1, target_tokens / stream_tokens)
    with target = total * fraction / n_streams (over-budget streams
    down-sample; under-budget streams keep everything — the standard
    token-budget rebalance). The per-doc decision is a hash-Bernoulli:
    keep iff hash_m31(doc_id) < floor(rate * (2^31-1)) — a pure function
    of the id, so re-runs, retries, and the oracle all agree; no RNG
    state anywhere.

    Shape (100 TB): one tiny groupBy over the stream key, a 1-row corpus
    total + stream count broadcast back, then a map-only threshold test
    per row. `budget_fraction` is passed as SQL TEXT so both engines
    parse the identical literal.
    """
    n_tokens = F.expr(
        f"CAST({dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)} AS BIGINT)"
    )
    base = df.select(
        F.col(id_col).alias("id"), *part_cols, n_tokens.alias("doc_tokens")
    )
    grouped = base.groupBy(*part_cols).agg(
        F.sum("doc_tokens").alias("stream_tokens")
    )
    totals = grouped.agg(
        F.sum("stream_tokens").alias("total_tokens"),
        F.count("*").alias("n_streams"),
    )
    rate = (
        f"LEAST(1.0, (CAST(total_tokens AS DOUBLE) * {budget_fraction}"
        " / CAST(n_streams AS DOUBLE)) / CAST(stream_tokens AS DOUBLE))"
    )
    keyed = (
        base.join(F.broadcast(grouped), list(part_cols))
        .join(F.broadcast(totals))
        .select(
            "id",
            *part_cols,
            "doc_tokens",
            F.expr(rate).alias("rate"),
            F.expr(
                dl.hash_m31("CAST(id AS STRING)", dl.SPARK)
            ).alias("_h"),
        )
    )
    return keyed.select(
        F.col("id").alias(id_col),
        *part_cols,
        "doc_tokens",
        "rate",
        (
            F.col("_h")
            < F.expr("CAST(floor(rate * 2147483647.0) AS BIGINT)")
        ).alias("keep"),
    )


# --- DSIR importance resampling ----------------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (Xie et al. use 10k; 256
#                     keeps every bucket populated on the 31-word test vocab)
DSIR_SCALE = 1_000_000  # micro-units for the integer likelihood ratio


def dsir_features(w: str, d: str) -> str:
    """Unigram + adjacent-bigram feature MULTISET (with repeats) over a
    token-array expression — the hashed n-gram feature family of DSIR
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling")."""
    a, b = dl.elem(w, "i", d), dl.elem(w, "(i+1)", d)
    pair = f"concat({a}, ' ', {b})" if d == dl.SPARK else f"{a} || ' ' || {b}"
    bigrams = dl.transform(dl.bigram_idx(w, d), f"i -> {pair}", d)
    if d == dl.SPARK:
        return f"concat({w}, {bigrams})"
    return f"list_concat({w}, {bigrams})"


def dsir_scores(
    df: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-shaped importance scores: rank raw-pool documents by how much
    their hashed n-gram profile looks like the TARGET distribution.

    `target` is a boolean Column marking the in-domain/high-quality subset
    (the "target corpus"); the whole frame is the raw pool. Per hashed
    bucket b the smoothed likelihood ratio is kept in integer micro-units,

        lr_micro[b] = ((t_cnt[b] + 1) * DSIR_SCALE) DIV (r_cnt[b] + 1),

    and a document's score is the mean lr_micro over its feature
    OCCURRENCES — the log-free monotone proxy for DSIR's mean
    log-likelihood ratio (the smoothing normalizers are bucket-constant,
    so ranking is preserved; integers make the surface engine-exact).
    `keep` selects documents scoring above the corpus mean, compared in
    cross-multiplied integers (score_micro * n_docs >= total_score).

    Overflow bound: (t_cnt+1) * DSIR_SCALE must stay under 2^63, i.e.
    < ~9.2e12 occurrences per bucket. At a 100 TB corpus (~1e13-1e14
    feature occurrences) raise `buckets` (Xie et al. use 10^4; occupancy
    per bucket divides accordingly) — the bucket table stays broadcast-
    sized at any realistic width.

    Shape (100 TB): features are hashed to `buckets` longs map-side and
    pre-aggregated to (doc, bucket) counts in ONE shuffle whose output
    both downstream consumers share (ReusedExchange); the 256-row
    likelihood-ratio table BROADCASTS into the scoring join, which then
    needs only a per-doc aggregation. Nothing quadratic, nothing
    driver-side.

    Returns (id_col, n_feats, score_micro, keep) for every input row;
    feature-less documents score 0 / keep=false.
    """
    # Materialize the token array BEFORE building features from it: the
    # bigram transform references the array once per lambda step, and an
    # un-materialized words() expression would re-split the document for
    # every element (measured: 26 s -> 3.3 s warm at sf0.1, with the
    # (doc, bucket) pre-aggregation below).
    feats = (
        df.select(
            F.col(id_col).alias("id"),
            target.alias("_t"),
            F.expr(dl.words(text_col, dl.SPARK)).alias("_w"),
        )
        .select(
            "id",
            "_t",
            F.explode(F.expr(dsir_features("_w", dl.SPARK))).alias("_f"),
        )
        .select(
            "id",
            "_t",
            F.expr(f"({dl.hash60('_f', dl.SPARK)}) % {buckets}").alias(
                "bucket"
            ),
        )
    )
    # One (id, bucket) pre-aggregation feeds BOTH the corpus bucket table
    # and the per-doc scoring — and the scoring join shrinks from feature
    # occurrences to <= docs x buckets rows. The r13 comment claimed the
    # two consumers share the exchange via ReusedExchange; the r14
    # executed-plan capture (plans/r14/curate_dsir_executed.txt) showed
    # 2 Generates — column pruning gives the stats branch (bucket,_t,cnt)
    # and the scoring branch (id,bucket,cnt) DIFFERENT exchange subtrees,
    # so the tokenize+bigram+explode pass ran twice. Materialize the
    # boundary instead (guide §5): the frame is NARROW (4 int/bool
    # columns) so — unlike the LSH shingle-array spill, rejected at sf1 —
    # the write is cheap at scale. Interleaved A/B, hashes identical:
    # 2.78 -> 2.13 s at sf0.1, 4.56 -> 3.81 s at sf1.
    doc_bucket = spill_to_parquet(
        feats.groupBy("id", "_t", "bucket").agg(
            F.count("*").alias("cnt")
        ),
        label="dsir-db",
    )
    stats = doc_bucket.groupBy("bucket").agg(
        F.sum(F.when(F.col("_t"), F.col("cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("t_cnt"),
        F.sum("cnt").alias("r_cnt"),
    )
    lr = stats.select(
        "bucket",
        F.expr(
            dl.idiv(f"(t_cnt + 1) * {DSIR_SCALE}", "(r_cnt + 1)", dl.SPARK)
        ).alias("lr_micro"),
    )
    scored = (
        doc_bucket.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lr_micro")).alias("_score_sum"),
        )
        .select(
            "id",
            "n_feats",
            F.expr(dl.idiv("_score_sum", "n_feats", dl.SPARK)).alias(
                "score_micro"
            ),
        )
    )
    totals = scored.agg(
        F.sum("score_micro").alias("_s"), F.count("*").alias("_c")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(scored, "id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias(
                "n_feats"
            ),
            F.coalesce(F.col("score_micro"), F.lit(0)).cast("long").alias(
                "score_micro"
            ),
            F.coalesce(
                F.col("score_micro") * F.col("_c") >= F.col("_s"),
                F.lit(False),
            ).alias("keep"),
        )
    )


# --- weighted priority sampling ----------------------------------------------

WSAMPLE_SALT = ":wsample"
PRIORITY_SCALE = 1_000_000


def priority_expr(id_col: str, weight_col: str, d: str) -> str:
    """Deterministic priority-sampling key (Duffield-Lund-Thorup):
    priority_i = u_i / w_i with the uniform replaced by the salted id hash
    — bottom-k by this key is a weight-proportional sample that re-runs,
    retries, and the oracle all reproduce exactly. Kept in integers:
    (hash_m31 * PRIORITY_SCALE) DIV max(w, 1); hash < 2^31 so the product
    stays under 2^52."""
    h = dl.hash_m31(f"CAST({id_col} AS STRING) || '{WSAMPLE_SALT}'", d)
    return dl.idiv(
        f"({h}) * {PRIORITY_SCALE}", f"greatest({weight_col}, 1)", d
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Bottom-k rows by the deterministic priority key — a
    weight-proportional sample without replacement.

    Shape (100 TB): the priority is map-only; orderBy+limit plans as
    TakeOrdered (per-partition local top-k, then a k-row merge on one
    reducer) — no full sort shuffle, no RNG state, no driver loop.
    Ties break on the id, so the k-th boundary is unambiguous.
    """
    pri = F.expr(priority_expr(id_col, weight_col, dl.SPARK))
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            pri.alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(k)
    )


# --- deterministic training-order shuffle ------------------------------------

SHUFFLE_SALT = ":shuffle"
SHUFFLE_SHARDS = 8


def shuffle_key_expr(id_col: str, d: str) -> str:
    """Pseudo-random but fully deterministic training-order key: the
    salted id hash. Sorting by (key, id) is the standard pre-training
    global shuffle — reproducible across runs, engines, and retries,
    with no RNG state to coordinate."""
    return dl.hash_m31(f"CAST({id_col} AS STRING) || '{SHUFFLE_SALT}'", d)


def with_shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    shards: int = SHUFFLE_SHARDS,
) -> DataFrame:
    """Attach the shuffle key and a shard assignment (key mod shards).

    Map-only. At scale, `repartitionByRange(shards, "shuffle_key")` +
    `sortWithinPartitions` writes the corpus as shard files in shuffled
    order — one range shuffle, no global sort on a single reducer; the
    shard column here is the hash-mod variant for size-balanced shards
    where contiguous key ranges are not required.
    """
    key = F.expr(shuffle_key_expr(id_col, dl.SPARK))
    return df.select(
        F.col(id_col),
        key.alias("shuffle_key"),
        (key % shards).cast("long").alias("shard"),
    )


# --- corpus drift (distribution shift) ----------------------------------------

DRIFT_BUCKETS = 256
DRIFT_PPM = 1_000_000


def corpus_drift(
    df: DataFrame,
    slice_a: F.Column,
    text_col: str = "text",
    buckets: int = DRIFT_BUCKETS,
) -> DataFrame:
    """Distribution shift between two corpus slices, measured as the
    total-variation distance of their token distributions over a fixed
    hashed vocabulary grid — the monitoring primitive for "did this
    month's crawl drift from the corpus I trained on?".

    Rows where `slice_a` is true form distribution P, the rest Q; each
    token folds into one of `buckets` hash cells, and
    TV = 1/2 * sum_i |P_i - Q_i|. Everything stays integer: per-bucket
    drift numerators are |cnt_a*N_b - cnt_b*N_a| (exact cross-multiplied
    BIGINTs), and the corpus-level tv_ppm divides by a PRE-SCALED
    denominator (2*N_a*N_b DIV 1e6) — deterministic on both engines, no
    float anywhere. Integer-range bound: the cross products cap the
    per-slice token counts at ~3e9 each (cnt_a <= N_a, so
    cnt_a*N_b <= N_a*N_b must stay under 2^63 ≈ 9.2e18); beyond that,
    pre-scale the counts (e.g. to thousands, as q74_anomaly documents
    for its analogous bound) before the cross-multiply — TV is scale-
    invariant, so pre-scaled counts change tv_ppm by at most the
    quantization of the scaling.

    Shape (100 TB): tokenization is map-only; the sole data-size shuffle
    is the `buckets`-cell hash aggregate, which partial-aggregates
    map-side into bounded state exactly like the CMS grid; totals join
    back as a broadcast 1-row aggregate and the final window runs over
    `buckets` rows. Output: (bucket, cnt_a, cnt_b, drift_num, tv_ppm)
    ordered by bucket, tv_ppm constant across rows.
    """
    toks = df.select(
        slice_a.cast("int").alias("in_a"),
        F.explode(F.expr(dl.words(text_col, dl.SPARK))).alias("t"),
    )
    cell = f"(({dl.hash_m31('t', dl.SPARK)}) % {buckets})"
    counts = (
        toks.select(F.expr(cell).alias("bucket"), "in_a")
        .groupBy("bucket")
        .agg(
            F.sum("in_a").cast("long").alias("cnt_a"),
            F.sum(1 - F.col("in_a")).cast("long").alias("cnt_b"),
        )
    )
    totals = counts.agg(
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum("cnt_b").cast("long").alias("nb"),
    )
    den = dl.idiv("2 * na * nb", str(DRIFT_PPM), dl.SPARK)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "cnt_a",
            "cnt_b",
            F.abs(
                F.col("cnt_a") * F.col("nb") - F.col("cnt_b") * F.col("na")
            ).alias("drift_num"),
            F.greatest(F.expr(den), F.lit(1).cast("long")).alias("_den"),
        )
        .select(
            "bucket",
            "cnt_a",
            "cnt_b",
            "drift_num",
            F.expr(dl.idiv("sum(drift_num) OVER ()", "_den", dl.SPARK))
            .alias("tv_ppm"),
        )
        .orderBy("bucket")
    )


# --- objective transforms: span masking (T5) and fill-in-the-middle ----------

SPAN_MASK_BPS = 1500  # mask ~15% of tokens (hash-gated, deterministic)
FIM_PRE, FIM_SUF, FIM_MID = "<fim_prefix>", "<fim_suffix>", "<fim_middle>"


def _span_gate(id_col: str, pos: str, d: str) -> str:
    """Per-(doc, position) mask gate: hash % 10000 < SPAN_MASK_BPS.
    Deterministic and coordination-free like sample_gate_expr."""
    h = dl.hash60(
        f"(CAST({id_col} AS STRING) || ':' || CAST({pos} AS STRING))", d
    )
    return f"(({h}) % 10000 < {SPAN_MASK_BPS})"


def span_mask(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """T5-style span-corruption transform: hash-gate ~15% of token
    positions, collapse each contiguous masked run into one numbered
    sentinel in the input, and emit the masked spans (sentinel-prefixed)
    as the target — the denoising-objective pair, built deterministically
    so every rerun/engine produces the same corruption.

    Shape (100 TB): tokenize map-side; ONE per-doc window sort computes
    run starts (lag) and sentinel numbers (running sum) together; one
    groupBy(id) reassembles both sides from sorted (pos, piece) structs.
    Output: (doc_id, input_text, target_text, n_masked).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(dl.words(text_col, dl.SPARK))).alias(
            "pos", "wd"
        ),
    ).select(
        "id", "pos", "wd",
        F.expr(_span_gate("id", "pos", dl.SPARK)).alias("g"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    marked = toks.select(
        "id", "pos", "wd", "g",
        (
            F.col("g")
            & ~F.coalesce(F.lag("g").over(w), F.lit(False))
        ).alias("rs"),
    ).select(
        "id", "pos", "wd", "g", "rs",
        (F.sum(F.col("rs").cast("long")).over(w) - 1).alias("k"),
    )
    sent = F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    pieces = marked.select(
        "id", "pos", "g",
        F.when(~F.col("g"), F.col("wd"))
        .when(F.col("rs"), sent)
        .otherwise(F.lit(None))
        .alias("inp"),
        F.when(F.col("rs"), F.concat(sent, F.lit(" "), F.col("wd")))
        .when(F.col("g"), F.col("wd"))
        .otherwise(F.lit(None))
        .alias("tgt"),
    )

    agg = pieces.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.struct("pos", F.col("inp").alias("p")))
        ).alias("ia"),
        F.sort_array(
            F.collect_list(F.struct("pos", F.col("tgt").alias("p")))
        ).alias("ta"),
        F.sum(F.col("g").cast("long")).alias("n_masked"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.array_join(
            F.expr("filter(transform(ia, x -> x.p), p -> p IS NOT NULL)"),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.expr("filter(transform(ta, x -> x.p), p -> p IS NOT NULL)"),
            " ",
        ).alias("target_text"),
        "n_masked",
    ).orderBy(id_col)


def fim_exprs(text: str, id_col: str, d: str) -> dict[str, str]:
    """Fill-in-the-middle transform expressions (PSM order): two
    hash-derived character split points, emitted alongside the
    rearranged <fim_prefix>P<fim_suffix>S<fim_middle>M text. Map-only,
    identical on both engines (1-based substr with length clamping)."""
    ln = f"length({text})"
    ha = dl.hash60(f"(CAST({id_col} AS STRING) || ':a')", d)
    hb = dl.hash60(f"(CAST({id_col} AS STRING) || ':b')", d)
    a = f"(({ha}) % greatest({ln} + 1, 1))"
    b = f"({a} + (({hb}) % greatest({ln} - {a} + 1, 1)))"
    return {
        "split_a": f"CAST({a} AS BIGINT)",
        "split_b": f"CAST({b} AS BIGINT)",
        "fim_text": (
            f"'{FIM_PRE}' || substr({text}, 1, {a}) || "
            f"'{FIM_SUF}' || substr({text}, {b} + 1) || "
            f"'{FIM_MID}' || substr({text}, {a} + 1, {b} - {a})"
        ),
    }


def with_fim(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Append the deterministic FIM split columns (map-only)."""
    exprs = fim_exprs(text_col, id_col, dl.SPARK)
    return df.select(
        F.col(id_col),
        *[F.expr(e).alias(n) for n, e in exprs.items()],
    )


# --- temperature (alpha) mixture reweighting ----------------------------------

ALPHA_NUM, ALPHA_DEN = 1, 2  # alpha = 0.5: sqrt-scaling (mT5-style)


PCT_PPM = 1_000_000
QP_KEEP_FRAC_PPM = 600_000  # per-source keep fraction (top 60%)


def quality_percentile_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    keep_frac_ppm: int = QP_KEEP_FRAC_PPM,
) -> DataFrame:
    """Per-group quality-percentile calibration (the FineWeb/RefinedWeb
    per-dump pattern): rank documents WITHIN each source by the quality
    score and keep the top `keep_frac_ppm`/1e6 of each group — a global
    threshold over-prunes clean sources and under-prunes noisy ones, so
    production filters calibrate per domain/dump.

    pct_ppm = (rank-1) * 1e6 // (group_size-1) — integer ppm of the
    doc's position in its group (0 = worst, 1e6 = best); `keep` is an
    integer comparison against the cutoff. The quality score itself is
    the shared dual-dialect fragment (identical doubles both engines),
    so the ordering — tie-broken by id — matches bit-for-bit.

    Boundary semantics (deliberate, mirrored in the oracle): pct_ppm is
    inclusive at 1e6, so the group's best doc always satisfies
    `pct_ppm >= 1e6 - keep_frac_ppm` — keep_frac_ppm=0 still keeps one
    doc per group ("keep the maximum"). For a gate where keep 0% means
    keep NOTHING, use `quality_threshold_gate` (k = floor(n·frac) docs,
    k=0 keeps none).

    Scale CAVEAT [test-scale]: the exact rank is a per-group window
    sort — `row_number().over(partitionBy(source))` sends every row of
    a source to ONE task, and AQE cannot split a window partition.
    Group COUNT is bounded, group SIZE is not: a mega-source (a Common
    Crawl dump is ~90% of a real corpus) makes this a single-task sort
    at 100 TB. Since r10 NO gated key runs this form — the corpus
    surface is `quality_threshold_gate` below (bounded histogram +
    broadcast cutoff, no per-group sort of the full relation); this
    form survives as the `ref_quality_percentile_rank` test surface,
    keep-equivalence-pinned at test scale in tests/test_curation.py.
    """
    from pipegen_spark.operators import text as tx

    if not 0 <= keep_frac_ppm <= PCT_PPM:
        raise ValueError(
            f"keep_frac_ppm must be in [0, {PCT_PPM}], got {keep_frac_ppm}"
        )
    scored = tx.with_quality(
        docs.select(id_col, group_col, text_col), text_col
    ).select(
        id_col,
        group_col,
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("score_micro"),
    )
    w = Window.partitionBy(group_col).orderBy("score_micro", id_col)
    wn = Window.partitionBy(group_col)
    ranked = scored.select(
        id_col,
        group_col,
        "score_micro",
        (F.row_number().over(w) - 1).cast("long").alias("_rn0"),
        (F.count("*").over(wn) - 1).cast("long").alias("_den"),
    )
    # Singleton group: its only doc is trivially the group's best (ppm
    # 1e6, kept) rather than divide-by-zero or worst-ranked.
    pct = (
        f"CASE WHEN _den = 0 THEN {PCT_PPM} ELSE "
        f"{dl.idiv(f'_rn0 * {PCT_PPM}', '_den', dl.SPARK)} END"
    )
    return ranked.select(
        id_col,
        group_col,
        "score_micro",
        F.expr(pct).cast("long").alias("pct_ppm"),
        F.expr(
            f"({pct}) >= {PCT_PPM - keep_frac_ppm}"
        ).alias("keep"),
    ).orderBy(id_col)


QT_CUTOFF_NONE = PCT_PPM + 1  # sentinel cutoff when k=0: no score reaches it


def quality_threshold_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    keep_frac_ppm: int = QP_KEEP_FRAC_PPM,
    materialize: bool = True,
) -> DataFrame:
    """Scale-safe sibling of `quality_percentile_gate`: keep each group's
    top `keep_frac_ppm`/1e6 documents via a per-group score CUTOFF
    instead of a per-doc rank.

    Semantics: k = n_group · keep_frac_ppm // 1e6 docs to keep;
    cutoff_micro = the k-th highest score_micro in the group (counted
    with multiplicity); keep = score_micro >= cutoff_micro. Ties AT the
    cutoff are all kept (tie-inclusive threshold — production filter
    semantics; kept count >= k). keep_frac_ppm=0 gives k=0: no cutoff
    exists, the sentinel QT_CUTOFF_NONE (1e6+1, above any score) is
    surfaced and NOTHING is kept — "keep 0%" really keeps zero, unlike
    the rank form's inclusive-at-1e6 boundary.

    Scale (the point of this operator): score_micro is quantized to
    [0, 1e6], so the EXACT cutoff is computable from a per-(group,
    score) HISTOGRAM — no per-group sort of the full relation anywhere:

    - one map-side-combinable groupBy(group, score) whose output is
      bounded by |groups| × 1,000,001 rows REGARDLESS of corpus size;
    - one window over that bounded histogram (≤ 1e6+1 rows per group in
      a single task — fixed work, not corpus-proportional);
    - |groups| cutoff rows broadcast-joined back onto the map-only
      scored scan.

    A mega-source that makes `quality_percentile_gate`'s exact rank a
    single-task sort at 100 TB costs this form nothing: the skewed
    dimension (docs per source) never appears in a sort, only in a
    pre-aggregated count. Deterministic and engine-identical (unlike
    approx_percentile, whose GK/t-digest sketches differ per engine),
    so it carries a hard DuckDB oracle.
    """
    from pipegen_spark.operators import text as tx

    if not 0 <= keep_frac_ppm <= PCT_PPM:
        raise ValueError(
            f"keep_frac_ppm must be in [0, {PCT_PPM}], got {keep_frac_ppm}"
        )
    # r14 (guide §5, the dsir/entropy discipline): `scored` fans into
    # TWO consumers — the cutoff histogram and the final broadcast-join
    # back onto the per-doc rows — whose column-pruned subtrees differ
    # ((group, score) vs (id, group, score)), so ReuseExchange never
    # dedupes them and the tokenize + quality pass over the full text
    # ran TWICE. The frame is 3 narrow columns x one row per doc, so
    # materializing it once is cheap at any scale while the recompute
    # it replaces is a full-corpus tokenize. Interleaved A/B (sf1):
    # curate_quality_percentile 2.39 -> 1.97 s, curate_ensemble
    # 3.90 -> 3.74 s, hashes identical. `materialize=False` exists for
    # callers whose input is ALREADY a materialized narrow frame inside
    # a wide concurrent DAG (curate_pipeline_e2e: the extra write
    # barrier serialized its stage overlap and measured 14.9 -> 16.1 s
    # at sf1 — the recompute is the cheaper side there).
    scored = tx.with_quality(
        docs.select(id_col, group_col, text_col), text_col
    ).select(
        id_col,
        group_col,
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("score_micro"),
    )
    if materialize:
        scored = spill_to_parquet(scored, label="qgate")
    hist = scored.groupBy(group_col, "score_micro").agg(
        F.count("*").cast("long").alias("_c")
    )
    wg = Window.partitionBy(group_col)
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(F.col("score_micro").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cuts = (
        hist.select(
            group_col,
            "score_micro",
            F.sum("_c").over(wcum).alias("_cum"),
            F.sum("_c").over(wg).alias("_n"),
        )
        .withColumn(
            "_k", F.expr(f"(_n * {keep_frac_ppm}) DIV {PCT_PPM}")
        )
        .where((F.col("_k") > 0) & (F.col("_cum") >= F.col("_k")))
        .groupBy(group_col)
        .agg(F.max("score_micro").alias("cutoff_micro"))
    )
    return (
        scored.join(F.broadcast(cuts), group_col, "left")
        .select(
            id_col,
            group_col,
            "score_micro",
            F.coalesce("cutoff_micro", F.lit(QT_CUTOFF_NONE))
            .cast("long")
            .alias("cutoff_micro"),
        )
        .withColumn(
            "keep", F.col("score_micro") >= F.col("cutoff_micro")
        )
        .orderBy(id_col)
    )


def temperature_weights(
    df: DataFrame, source_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Multi-source sampling weights with temperature alpha = 1/2
    (mT5/multilingual-style): w_s ∝ p_s^alpha, so over-represented
    sources are down-weighted toward sqrt of their natural share.
    alpha = 1/2 makes the power an IEEE sqrt — correctly rounded and
    engine-identical — and every surfaced value is a micro-quantized
    integer (share_ppm exact rational, weight/boost quantized once).

    Shape (100 TB): one source-count aggregate (bounded by source
    cardinality), totals broadcast back as a 1-row aggregate, the rest
    is per-source scalar math. Output: (source, n_docs, share_ppm,
    weight_ppm, boost_micro) ordered by source; weight_ppm sums to
    ~1e6 (floor residue < |sources|).
    """
    counts = df.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    # sq_total accumulates doubles across rows: a plain F.sum would be
    # partial-aggregation-order-dependent (the one IEEE discipline escape
    # flagged in round-4 ADVICE), so collect-sort-fold pins the order —
    # the frame is per-source (bounded cardinality), so collect_list is
    # tiny by construction.
    sq_fold = dl.fold(
        dl.arr_sort("collect_list(sqrt(CAST(n_docs AS DOUBLE)))", dl.SPARK),
        "CAST(0.0 AS DOUBLE)",
        "(acc, x) -> acc + x",
        dl.SPARK,
    )
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.expr(sq_fold).alias("sq_total"),
    )
    micro = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            F.expr(
                dl.idiv("1000000 * n_docs", "total", dl.SPARK)
            ).alias("share_ppm"),
            F.expr(
                micro.format(
                    x="sqrt(CAST(n_docs AS DOUBLE)) / sq_total"
                )
            ).alias("weight_ppm"),
            # boost = weight/share: >1e6 means the source gets
            # oversampled relative to its natural frequency.
            F.expr(
                micro.format(
                    x=(
                        "(sqrt(CAST(n_docs AS DOUBLE)) / sq_total)"
                        " * CAST(total AS DOUBLE)"
                        " / CAST(n_docs AS DOUBLE)"
                    )
                )
            ).alias("boost_micro"),
        )
        .orderBy(source_col)
    )


# --- linear quality classifier (fastText-style) -------------------------------

CLF_BUCKETS = 1 << 16  # hashed feature space (fastText default is 2M bins;
#                        64k keeps collisions realistic on test vocab)
CLF_NEUTRAL = 1000  # weights live in [0, 2000] micro; 1000 = neutral


def clf_weight_expr(bucket: str) -> str:
    """Deterministic per-bucket weight in [0, 2000]: a Knuth
    multiplicative hash of the bucket id. This is the PSEUDO-TRAINED
    stand-in — in production, broadcast-join a (bucket, weight) table
    exported from a trained fastText/logistic model instead (same plan
    shape: the weight table is broadcast-sized at any realistic bin
    count). Non-negative by construction so per-doc averages never hit
    engine-divergent negative integer division; the SQL text is shared
    verbatim by the DuckDB oracle."""
    return f"((({bucket}) * 2654435761) % 2001)"


def classifier_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Classifier-based quality filtering — the third standard filter
    family next to heuristic rules (`gopher_rules`) and importance
    weights (`dsir_scores`): score every document with a linear model
    over hashed unigram+bigram features (the fastText-style architecture
    used by GPT-3/LLaMA/CCNet-lineage quality classifiers; Joulin et al.
    2016, "Bag of Tricks for Efficient Text Classification").

    score = mean over feature OCCURRENCES of w[h(feature) % buckets],
    kept in integer micro-units: sum_w is an exact BIGINT sum,
    avg_micro = sum_w DIV n_feats, and `keep` compares cross-multiplied
    integers (sum_w >= NEUTRAL * n_feats) so no division rounding can
    flip the label. Feature-less docs score NEUTRAL-0 and are dropped.

    Shape (100 TB): features hash map-side (reusing `dsir_features`'s
    multiset); ONE shuffle — the per-doc aggregation; weights are a pure
    arithmetic function of the bucket (or a broadcast join for trained
    weights) so the plan is scan → explode → project → hash-agg, fully
    whole-stage-codegen, nothing driver-side. Overflow: sum_w <=
    2000 * n_feats holds to ~4.6e15 features/doc — unreachable.

    Returns (id_col, n_feats, sum_w, avg_micro, keep).
    """
    feats = (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(dl.words(text_col, dl.SPARK)).alias("_w"),
        )
        .select(
            "id",
            F.explode_outer(
                F.expr(dsir_features("_w", dl.SPARK))
            ).alias("_f"),
        )
        .select(
            "id",
            F.expr(
                "CASE WHEN _f IS NULL THEN NULL ELSE "
                + clf_weight_expr(
                    f"({dl.hash60('_f', dl.SPARK)}) % {buckets}"
                )
                + " END"
            ).alias("_wgt"),
        )
    )
    return (
        feats.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("_wgt").cast("long").alias("n_feats"),
            F.coalesce(F.sum("_wgt"), F.lit(0)).cast("long").alias("sum_w"),
        )
        .select(
            id_col,
            "n_feats",
            "sum_w",
            F.expr(
                f"CASE WHEN n_feats = 0 THEN 0 ELSE "
                f"{dl.idiv('sum_w', 'n_feats', dl.SPARK)} END"
            ).cast("long").alias("avg_micro"),
            (
                (F.col("n_feats") > 0)
                & (F.col("sum_w") >= F.lit(CLF_NEUTRAL) * F.col("n_feats"))
            ).alias("keep"),
        )
    )


# --- Gopher repetition n-gram metrics -----------------------------------------

REP_TOP_N = 2  # "top n-gram char fraction" (Gopher uses n = 2, 3, 4)
REP_DUP_N = 5  # "duplicate n-gram char fraction" (Gopher uses n = 5..10)
REP_PPM = 1_000_000


def rep_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = REP_TOP_N,
    dup_n: int = REP_DUP_N,
) -> DataFrame:
    """Gopher Appendix-A1 repetition metrics beyond `with_repetition`'s
    distinct-ratio: the character-mass fractions that catch boilerplate a
    count ratio misses (Rae et al. 2021; the same metric family ships in
    Dolma and RedPajama-v2 quality signals).

    - top_frac_ppm: chars of the single most frequent `top_n`-gram times
      its occurrence count, over the doc's normalized char total — a doc
      dominated by one repeated phrase scores high even when its distinct
      ratio looks fine.
    - dup_frac_ppm: chars of ALL `dup_n`-grams occurring 2+ times (count
      times gram length, the published approximation that does not
      position-deduplicate overlaps — documented choice, both engines
      identical), capped at 1e6.

    All integer: char totals and gram char masses are exact BIGINTs and
    the fractions are scaled integer divisions; ties for the top gram
    break lexicographically. Docs shorter than n tokens score 0.

    Shape (100 TB): tokenization map-side; per n one explode →
    (doc, gram) hash-agg (partial map-side) → per-doc reduce; the two
    metric frames broadcast NOTHING and re-join the doc spine on id.
    Window for the top gram partitions by doc — bounded by per-doc gram
    cardinality, never corpus-wide.
    """
    spine = df.select(
        F.col(id_col).alias("id"),
        F.expr(dl.words(text_col, dl.SPARK)).alias("_w"),
    ).select(
        "id",
        "_w",
        F.length(F.expr(dl.arr_join("_w", " ", dl.SPARK)))
        .cast("long")
        .alias("total_chars"),
    )

    def grams(n: int) -> DataFrame:
        return spine.select(
            "id",
            "total_chars",
            F.explode(
                F.expr(dl.word_shingles_all("_w", n, dl.SPARK))
            ).alias("g"),
        ).groupBy("id", "total_chars", "g").agg(
            F.count("*").cast("long").alias("cnt")
        )

    w_top = Window.partitionBy("id").orderBy(
        F.col("cnt").desc(), F.col("g")
    )
    top = (
        grams(top_n)
        .withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") == 1)
        .select(
            "id",
            # Capped at 1e6 like dup_frac_ppm: overlapping grams can carry
            # char mass > total_chars (cnt*length(g) counts shared chars
            # once per occurrence), so the raw ratio may exceed 1.
            F.expr(
                f"CASE WHEN total_chars > 0 THEN "
                f"least(CAST({REP_PPM} AS BIGINT), "
                f"{dl.idiv(f'{REP_PPM} * cnt * length(g)', 'total_chars', dl.SPARK)}) "
                f"ELSE 0 END"
            ).cast("long").alias("top_frac_ppm"),
        )
    )
    dup = (
        grams(dup_n)
        .groupBy("id", "total_chars")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("cnt") >= 2,
                        F.col("cnt") * F.length("g").cast("long"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("dup_chars")
        )
        .select(
            "id",
            "dup_chars",
            F.expr(
                f"CASE WHEN total_chars > 0 THEN "
                f"least(CAST({REP_PPM} AS BIGINT), "
                f"{dl.idiv(f'{REP_PPM} * dup_chars', 'total_chars', dl.SPARK)}) "
                f"ELSE 0 END"
            ).cast("long").alias("dup_frac_ppm"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        spine.select("id", "total_chars")
        .join(top, "id", "left")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "total_chars",
            F.coalesce("top_frac_ppm", zero).alias("top_frac_ppm"),
            F.coalesce("dup_chars", zero).alias("dup_chars"),
            F.coalesce("dup_frac_ppm", zero).alias("dup_frac_ppm"),
        )
    )


# --- cross-document boilerplate (round-7) ------------------------------------

BOILER_K = 3  # shingle width in tokens
BOILER_DF = 5  # document frequency at/above which a shingle is boilerplate
BOILER_FLAG_PPM = 500_000  # flag docs that are >= 50% boilerplate windows


def boilerplate_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = BOILER_K,
    df_threshold: int = BOILER_DF,
    flag_ppm: int = BOILER_FLAG_PPM,
) -> DataFrame:
    """Cross-document boilerplate share — the C4/RefinedWeb signal that
    catches templated headers/footers/navigation repeated across MANY
    documents (which within-doc repetition metrics and pairwise near-dup
    both miss): a k-token shingle is *boilerplate* when it appears in at
    least `df_threshold` distinct documents; each doc reports how many
    of its shingle windows are boilerplate and the ppm fraction, with a
    `flagged` verdict at `flag_ppm`.

    Docs with fewer than k tokens have zero windows and report
    (0, 0, 0 ppm, not flagged) — always counted, via the same
    left-join-with-coalesce discipline the near-dup-rate fix
    established.

    Scale: positions explode once (`dedup.shingle_rows`, map-only
    codegen); the document-frequency aggregate runs over DISTINCT
    (doc, shingle) pairs — one shuffle keyed by the shingle; the
    boilerplate set is then a df-filtered frame joined back onto the
    position rows (shingle-keyed equi-join; NOT hint-broadcast — its
    size is corpus-dependent, AQE broadcasts when small); the per-doc
    rollup is one groupBy(id). At trillion-doc scale, swap the shingle
    string for its hash64 fingerprint in the group/join keys (the
    rep_ngram convention) to make every shuffle row fixed-width.
    """
    # r14 (guide §2.4/§1.2 — fewer passes): the shingle stream used to
    # feed TWO consumers (the distinct-doc frequency aggregate and the
    # per-doc occurrence join), whose different column pruning defeats
    # ReuseExchange, so the tokenize+posexplode pass ran twice per
    # query. Aggregating occurrences to one row per (doc, shingle)
    # first lets a window over the shingle key derive the document
    # frequency INSIDE the same subtree — one tokenize pass, and the
    # boilerplate set never joins back (the s-keyed window exchange
    # replaces the old distinct + groupBy(s) + join chain outright).
    # Identical arithmetic: df(s) = rows per s in the (id,s) frame;
    # boiler_hits = Σ c over shingles with df >= threshold.
    # Scale note: the window carries one row per DISTINCT (doc,
    # shingle), the same volume the old distinct shuffled; a single
    # pathologically universal shingle concentrates its df rows in one
    # window partition (no map-side partial) — at trillion-doc scale
    # pre-filter known-universal shingles or split the window key by a
    # doc-hash salt and sum the two levels.
    sh = dd.shingle_rows(docs, text_col, id_col, k, distinct=False)
    tfq = sh.groupBy("id", "s").agg(F.count("*").cast("long").alias("c"))
    w_s = Window.partitionBy("s")
    per_doc = (
        tfq.withColumn("df", F.count("*").over(w_s).cast("long"))
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("df") >= df_threshold, F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("boiler_hits"),
        )
    )
    zero = F.lit(0).cast("long")
    frac = dl.idiv("boiler_hits * 1000000", "n_shingles", dl.SPARK)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_shingles", zero).alias("n_shingles"),
            F.coalesce("boiler_hits", zero).alias("boiler_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "boiler_hits",
            F.when(F.col("n_shingles") > 0, F.expr(frac))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("boiler_frac_ppm"),
        )
        .withColumn(
            "flagged", F.col("boiler_frac_ppm") >= F.lit(flag_ppm)
        )
        .orderBy(id_col)
    )


# --- per-source length histogram (round-7) ------------------------------------

LEN_HIST_MAX_BITS = 20  # documents above 2^19 tokens share the top bucket


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    max_bits: int = LEN_HIST_MAX_BITS,
) -> DataFrame:
    """Per-source token-length histogram in log2 buckets — the batch/
    packing planner's input (sequence-length distribution drives pad
    waste, packing efficiency and max_seq_len choices): for each
    (source, bucket) the doc count and total token mass, with the
    bucket's inclusive token range surfaced as integers.

    Bucket = bit_length(n_tokens) via the integer CASE ladder
    (`dialect.log2_bucket`) — no floating log. Zero-token docs land in
    bucket 0.

    Scale: a map-only tokenize+count projection, then ONE
    map-side-combinable groupBy bounded by |sources| × (max_bits+1)
    output rows regardless of corpus size. Nothing else moves.
    """
    n_tok = dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)
    bucket = dl.log2_bucket("n_tok", max_bits, dl.SPARK)
    return (
        docs.select(
            F.col(group_col),
            F.expr(f"CAST({n_tok} AS BIGINT)").alias("n_tok"),
        )
        .select(
            group_col,
            "n_tok",
            F.expr(bucket).cast("long").alias("bucket"),
        )
        .groupBy(group_col, "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .select(
            group_col,
            "bucket",
            F.expr(
                "CAST(CASE WHEN bucket = 0 THEN 0"
                " ELSE shiftleft(1, CAST(bucket AS INT) - 1) END"
                " AS BIGINT)"
            ).alias("bucket_lo"),
            F.expr(
                "CAST(shiftleft(1, CAST(bucket AS INT)) - 1 AS BIGINT)"
            ).alias("bucket_hi"),
            "n_docs",
            "total_tokens",
        )
        .orderBy(group_col, "bucket")
    )


# --- train/eval split-leakage audit (round-7) ---------------------------------

SPLIT_LEAK_K = 3
SPLIT_LEAK_FLAG_PPM = 500_000


def split_leakage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPLIT_LEAK_K,
    flag_ppm: int = SPLIT_LEAK_FLAG_PPM,
) -> DataFrame:
    """Train→eval leakage audit over the repo's own deterministic split:
    for every val/test document, the fraction of its k-gram fingerprints
    that also occur anywhere in the TRAIN split — the check that the
    held-out sets actually hold anything out (benchmark decontamination
    guards external eval sets; this guards the pipeline's OWN split,
    where near-dups straddling the hash boundary silently inflate eval
    scores).

    Shape: one shingle pass carries the split label; fingerprints are
    60-bit hashes before anything shuffles (the contamination_check
    discipline — 8-byte longs, not n-gram strings). Unlike
    contamination_check, the reference side here is the TRAIN split —
    ~90% of the corpus — so it is NOT hint-broadcast: the overlap is a
    plain fingerprint equi-join (AQE may still broadcast at small
    scale). Eval docs shorter than k tokens report zeros via the
    left-join-coalesce discipline.

    Output: (id, split, n_ngrams, n_leaked, leak_ppm, flagged) for
    every NON-train document.
    """
    labeled = with_split(docs, id_col)
    sh = dd.shingle_rows(
        labeled, text_col, id_col, k, extra_cols=("split",),
        distinct=False,
    ).select("id", "split", F.expr(dl.hash60("s", dl.SPARK)).alias("h"))
    train_fp = (
        sh.where(F.col("split") == "train")
        .select("h")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = sh.where(F.col("split") != "train").select("id", "h").distinct()
    stats = (
        ev.join(train_fp, "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.count("_hit").cast("long").alias("n_leaked"),
        )
    )
    ids = labeled.where(F.col("split") != "train").select(
        F.col(id_col).alias("id"), "split"
    )
    zero = F.lit(0).cast("long")
    ppm = dl.idiv("n_leaked * 1000000", "n_ngrams", dl.SPARK)
    return (
        ids.join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "split",
            F.coalesce("n_ngrams", zero).alias("n_ngrams"),
            F.coalesce("n_leaked", zero).alias("n_leaked"),
        )
        .select(
            id_col,
            "split",
            "n_ngrams",
            "n_leaked",
            F.when(F.col("n_ngrams") > 0, F.expr(ppm))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("leak_ppm"),
        )
        .withColumn("flagged", F.col("leak_ppm") >= F.lit(flag_ppm))
        .orderBy(id_col)
    )


# --- UniMax budget allocation (round-7) ---------------------------------------

UNIMAX_BUDGET_PPM = 950_000  # token budget as ppm of the corpus total
UNIMAX_MAX_EPOCHS = 1  # per-source repeat cap (UniMax N=1 default)


def unimax_allocation(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    budget_ppm: int = UNIMAX_BUDGET_PPM,
    max_epochs: int = UNIMAX_MAX_EPOCHS,
) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): distribute a total
    token budget UNIFORMLY across sources, capping each source at
    `max_epochs` repetitions of its own size — the published
    alternative to temperature sampling that never over-replays small
    sources. The iterative water-filling has a closed form over sources
    sorted by cap ascending: source i saturates iff giving every
    still-unsaturated source an equal share would exceed cap_i, i.e.
    cap_i · (k − i + 1) ≤ B − prefix_{i−1} — an integer
    cross-multiplication; everyone past the saturation point m gets the
    common waterline λ = (B − prefix_m) / (k − m) by exact integer
    division.

    Shape (100 TB): one (source) token-count hash aggregate over the
    scan — the only corpus-sized work; everything after runs on k rows
    (k = source cardinality, bounded by construction — a corpus has
    dozens of sources, not millions), so the single-partition
    prefix-sum window is a k-row sort, not a data sort. Budget is
    derived from the corpus total (budget_ppm), so the allocation is
    scale-free; the total×ppm product is computed with the split-form
    `dl.mul_ppm` (q·ppm + r·ppm DIV 1e6), exact and overflow-free to
    BIGINT-max corpus totals — the naive product would fail-stop under
    ANSI at ~9.7e12 tokens (~40 TB of text). Zero-token sources get
    epochs_ppm = 0 (guarded division), matching the oracle.

    Output: (source, n_tokens, cap_tokens, alloc_tokens, epochs_ppm,
    saturated) ordered by source; Σ alloc ≤ B with floor residue < k.
    """
    n_tok = F.expr(
        dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)
    ).cast("long")
    per = df.select(
        F.col(source_col).alias("source"), n_tok.alias("t")
    ).groupBy("source").agg(F.sum("t").cast("long").alias("n_tokens"))
    per = per.select(
        "source",
        "n_tokens",
        (F.col("n_tokens") * max_epochs).cast("long").alias("cap_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count("*").cast("long").alias("k"),
    )
    w = Window.orderBy("cap_tokens", "source")
    ranked = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "*",
            F.expr(
                dl.mul_ppm("total", budget_ppm, dl.SPARK)
            ).alias("b"),
            F.row_number().over(w).cast("long").alias("i"),
            F.sum("cap_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long").alias("prefix"),
        )
        .withColumn(
            "saturated",
            F.col("cap_tokens") * (F.col("k") - F.col("i") + 1)
            <= F.col("b") - (F.col("prefix") - F.col("cap_tokens")),
        )
    )
    m = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("saturated"), F.col("i"))), F.lit(0)
        ).cast("long").alias("m"),
        F.coalesce(
            F.max(F.when(F.col("saturated"), F.col("prefix"))), F.lit(0)
        ).cast("long").alias("prefix_m"),
    )
    lam = dl.idiv("b - prefix_m", "k - m", dl.SPARK)
    return (
        ranked.crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_tokens",
            "cap_tokens",
            F.when(F.col("saturated"), F.col("cap_tokens"))
            .otherwise(
                F.least(
                    F.when(F.col("k") > F.col("m"), F.expr(lam))
                    .otherwise(F.lit(0).cast("long")),
                    F.col("cap_tokens"),
                )
            )
            .cast("long")
            .alias("alloc_tokens"),
            "saturated",
        )
        .withColumn(
            # An all-empty source has n_tokens = 0 (and alloc 0): emit
            # 0 epochs rather than tripping ANSI DIVIDE_BY_ZERO.
            # Numerator envelope: a SINGLE source beyond ~9.2e12 tokens
            # (~36 TB of text in one source) fail-stops under ANSI —
            # far past any real per-source size; the budget multiply
            # itself is overflow-free via mul_ppm.
            "epochs_ppm",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE "
                + dl.idiv("1000000 * alloc_tokens", "n_tokens", dl.SPARK)
                + " END"
            ),
        )
        .select(
            "source", "n_tokens", "cap_tokens", "alloc_tokens",
            "epochs_ppm", "saturated",
        )
        .orderBy("source")
    )


PREF_PAIRS_CAP = 50  # preference pairs per source (top/bottom halves)


def preference_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    cap: int = PREF_PAIRS_CAP,
) -> DataFrame:
    """Preference-pair construction for preference-optimization training
    (DPO/RLHF reward-model data prep): within each source, the top-half
    documents by the shared quality score become `chosen` and the
    bottom-half `rejected`, paired by intra-extreme rank (best vs
    worst, 2nd-best vs 2nd-worst, ...) and capped at `cap` pairs per
    source. Only STRICT preferences survive (margin_micro > 0) — a
    tied pair carries no training signal. Halving the group guarantees
    the two sides are disjoint; the reversed id tiebreak on the bottom
    rank keeps the pairing deterministic even under score ties.

    Scale: same per-group window-sort caveat as
    `quality_percentile_gate` above — the exact-rank form is the
    deterministic oracle surface at test scale; at mega-source scale
    the extremes would be pre-gated with `quality_threshold_gate`'s
    bounded histogram cutoffs (keep top/bottom frac) before ranking
    only the survivors, whose count `cap` bounds.

    Output: (source, pair_rank, chosen_id, rejected_id, chosen_micro,
    rejected_micro, margin_micro), strict-margin rows only."""
    from pipegen_spark.operators import text as tx

    scored = tx.with_quality(
        docs.select(id_col, group_col, text_col), text_col
    ).select(
        id_col,
        group_col,
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("score_micro"),
    )
    wt = Window.partitionBy(group_col).orderBy(
        F.col("score_micro").desc(), id_col
    )
    wb = Window.partitionBy(group_col).orderBy(
        F.col("score_micro").asc(), F.col(id_col).desc()
    )
    wn = Window.partitionBy(group_col)
    ranked = scored.select(
        id_col,
        group_col,
        "score_micro",
        F.row_number().over(wt).cast("long").alias("_rt"),
        F.row_number().over(wb).cast("long").alias("_rb"),
        F.count("*").over(wn).cast("long").alias("_n"),
    )
    lim = F.expr(f"least(CAST({cap} AS BIGINT), _n DIV 2)")
    chosen = ranked.filter(F.col("_rt") <= lim).select(
        group_col,
        F.col("_rt").alias("pair_rank"),
        F.col(id_col).alias("chosen_id"),
        F.col("score_micro").alias("chosen_micro"),
    )
    rejected = ranked.filter(F.col("_rb") <= lim).select(
        group_col,
        F.col("_rb").alias("pair_rank"),
        F.col(id_col).alias("rejected_id"),
        F.col("score_micro").alias("rejected_micro"),
    )
    return (
        chosen.join(rejected, [group_col, "pair_rank"])
        .select(
            group_col,
            "pair_rank",
            "chosen_id",
            "rejected_id",
            "chosen_micro",
            "rejected_micro",
            (F.col("chosen_micro") - F.col("rejected_micro"))
            .cast("long")
            .alias("margin_micro"),
        )
        .filter(F.col("margin_micro") > 0)
        .orderBy(group_col, "pair_rank")
    )


# --- DoReMi-style domain reweighting (round-8) ---------------------------------

DOREMI_ROUNDS = 3
DOREMI_ETA_DEN = 2  # eta = 1/2 as a rational
DOREMI_SMOOTH_NUM = 1  # uniform smoothing 1/10 (DoReMi's regularizer)
DOREMI_SMOOTH_DEN = 10
DOREMI_LOSS_CAP = 1_000_000  # clamp keeps every product inside BIGINT


def doremi_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = DOREMI_ROUNDS,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023): iterate
    multiplicative weights over the source domains, upweighting domains
    with EXCESS loss against the current mixture — the published
    mixture optimizer whose output feeds `mixture_sample` exactly like
    the temperature / UniMax weights do.

    Two deliberate substitutions keep it engine-exact and model-free:
    (1) the per-domain loss signal is the deficit of the domain's mean
    fastText-style classifier score (`classifier_scores`, already
    oracle-proven) against the best domain — a deterministic stand-in
    for the proxy-vs-reference excess loss the paper measures with two
    trained models; (2) the update is the (1 + eta * excess) POLYNOMIAL
    multiplicative-weights rule (Arora, Hazan & Kale 2012 §2 — the MW
    family DoReMi's exponentiated-gradient update belongs to) instead
    of exp(eta * excess), because exp() is libm and would break the
    bit-exact oracle; both are no-regret updates with the same
    upweight-the-lagging-domain behavior. The excess is deliberately
    ONE-SIDED — `greatest(loss_micro - lbar, 0)` — so domains already
    beating the mixture keep a x1 multiplier and are downweighted only
    indirectly through renormalization (lagging domains grow, the
    normalizer grows, leaders shrink). A signed excess would need a
    positivity floor (1 + eta*excess can cross zero) and would widen
    the raw-weight envelope below; the one-sided form keeps every raw
    weight >= w_i and <= w_i * 1.5e6, which is what the BIGINT bound in
    the next paragraph is sized against.

    Integer envelope: losses clamp to DOREMI_LOSS_CAP (1e6 micro), so
    raw_i = w_i * (1e6 + excess_i/2) <= 1.5e12 and the renormalizing
    (raw_i * 1e6) DIV sum(raw) stays under 1.5e18 < BIGINT max for any
    domain count.

    Shape (100 TB): ONE corpus pass (the classifier-score aggregate,
    already map-side partial) reduces to a k-row domain frame; every
    MW round is then two 1-row broadcast aggregates + a k-row map —
    nothing driver-side, no collect. Output per domain:
    (source, n_docs, loss_micro, w_ppm, w_smooth_ppm), where
    w_smooth_ppm mixes the converged weights with uniform at
    DOREMI_SMOOTH_NUM/DEN (the paper's regularization toward uniform).
    """
    scored = classifier_scores(df, text_col, id_col).join(
        df.select(id_col, source_col), id_col
    )
    per = scored.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("avg_micro").cast("long").alias("score_sum"),
    ).select(
        source_col,
        "n_docs",
        F.expr(dl.idiv("score_sum", "n_docs", dl.SPARK))
        .cast("long")
        .alias("mean_micro"),
    )
    # Truncate lineage at the k-row domain frame (pagerank_fixed's
    # discipline): every MW round hangs frame-wide scalars off this
    # frame, and without the spill each round re-executes the whole
    # corpus classifier aggregate upstream — measured 21.6 s -> ~7 s
    # cold at sf0.01.
    # `best` is an unpartitioned window max (r13), not a broadcast
    # 1-row aggregate: same BIGINT value, but the k-row frame crosses
    # ONE single-partition exchange instead of referencing the corpus
    # aggregate subtree twice (agg side + join side).
    dom = spill_to_parquet(
        per.select(
            source_col,
            "n_docs",
            F.least(
                F.max("mean_micro").over(Window.partitionBy())
                - F.col("mean_micro"),
                F.lit(DOREMI_LOSS_CAP).cast("long"),
            ).alias("loss_micro"),
        ),
        label="doremi",
    )
    # r13 (guide §2.4 "share one exchange", §1.2): every MW round needs
    # two FRAME-WIDE scalars (the mixture loss lbar and the raw-weight
    # normalizer). The previous shape computed each as a 1-row aggregate
    # crossJoin(broadcast(...)) — every scalar was its own
    # BroadcastExchange materialization JOB, serialized 2 per round
    # (measured: 25 Spark jobs / 2.8 s warm for curate_doremi at sf0.1).
    # An UNPARTITIONED window aggregate (`SUM(..) OVER ()`) computes the
    # identical BIGINT sum over the identical k-row frame, and every
    # round's windows share the ONE single-partition exchange over the
    # spilled domain frame — the whole MW unroll is a single job
    # (measured: ~8 jobs / ~1.5 s; byte-identical output). k = domain
    # count, so the single partition holds k rows at any corpus scale.
    # Documented assumption (r13 ADVICE): the 1e6 fixed-point base means
    # k >= 1e6 domains would floor the initial weight to 0 (NULL weights
    # after the first renormalizing DIV). Real corpora have tens-to-
    # thousands of domains; pre-existing behavior, kept — raise the base
    # alongside DOREMI_LOSS_CAP if a >1e6-domain corpus ever appears.
    wall = Window.partitionBy()
    kcol = F.count("*").over(wall).alias("k")
    w = dom.select(
        source_col,
        "n_docs",
        "loss_micro",
        kcol,
        F.expr(dl.idiv("CAST(1000000 AS BIGINT)", "COUNT(*) OVER ()", dl.SPARK))
        .cast("long")
        .alias("w"),
    )
    for _ in range(rounds):
        raw = w.select(
            source_col,
            "n_docs",
            "loss_micro",
            "k",
            (
                F.col("w")
                * (
                    F.lit(1_000_000).cast("long")
                    + F.expr(
                        dl.idiv(
                            "greatest(loss_micro - ("
                            + dl.idiv(
                                "SUM(w * loss_micro) OVER ()",
                                "CAST(1000000 AS BIGINT)",
                                dl.SPARK,
                            )
                            + "), CAST(0 AS BIGINT))",
                            str(DOREMI_ETA_DEN),
                            dl.SPARK,
                        )
                    )
                )
            ).cast("long").alias("raw"),
        )
        w = raw.select(
            source_col,
            "n_docs",
            "loss_micro",
            "k",
            F.expr(
                dl.idiv(
                    "raw * CAST(1000000 AS BIGINT)", "SUM(raw) OVER ()",
                    dl.SPARK,
                )
            ).cast("long").alias("w"),
        )
    uni = dl.idiv("CAST(1000000 AS BIGINT)", "k", dl.SPARK)
    smooth = (
        f"(({DOREMI_SMOOTH_DEN - DOREMI_SMOOTH_NUM} * w"
        f" + {DOREMI_SMOOTH_NUM} * ({uni})) DIV {DOREMI_SMOOTH_DEN})"
    )
    return (
        w.select(
            source_col,
            "n_docs",
            "loss_micro",
            F.col("w").alias("w_ppm"),
            F.expr(smooth).cast("long").alias("w_smooth_ppm"),
        )
        .orderBy(source_col)
    )


# --- word-boundary blocklist filtering (round-8) --------------------------------

#: C4-style banned-list patterns (Raffel et al. 2020 filter a published
#: "bad words" list; the mechanics — word-boundary phrase matching over
#: the lowercased token stream — are what matters, the entries are
#: corpus-appropriate stand-ins). Keys are column slugs, values are
#: space-separated token phrases.
BLOCKLIST: dict[str, str] = {
    "slow": "slow",
    "big_table": "big table",
    "merge_batch": "merge batch",
}


def blocklist_exprs(
    text: str, d: str, patterns: dict[str, str] | None = None
) -> dict[str, str]:
    """Per-pattern word-boundary phrase hit counts over the tokenized
    text — the C4 banned-list mechanic. Tokens are wrapped with the BPE
    DOUBLED-separator representation (' a  b  c ': every token carries
    its own flanking spaces), so a phrase pattern ' big  table ' can
    only match at true token boundaries AND adjacent matches never
    compete for a shared separator — making the non-overlapping
    replace-scan count exact:
    count = (len(s) - len(replace(s, pat, ''))) / len(pat).
    `replace` scans left-to-right non-overlapping identically on both
    engines (property-pinned for the BPE encoder)."""
    patterns = patterns or BLOCKLIST
    for name, phrase in patterns.items():
        words_ = phrase.split()
        if not words_ or any(
            not w.isascii() or not w.isalnum() or w != w.lower()
            for w in words_
        ):
            # The token stream is lowercased [a-z0-9]+, so any other
            # phrase would be a silently-dead entry (and quotes would
            # break the spliced SQL literal): reject loudly.
            raise ValueError(
                f"blocklist entry {name!r}={phrase!r} must be "
                "space-separated lowercase [a-z0-9]+ tokens"
            )
    toks = dl.words(f"COALESCE({text}, '')", d)
    padded = dl.transform(toks, "x -> x || ' '", d)
    wrapped = f"(' ' || {dl.arr_join(padded, ' ', d)})"
    out: dict[str, str] = {"_wrapped": wrapped}
    for name, phrase in patterns.items():
        pat = " " + "  ".join(phrase.split()) + " "
        out[f"hits_{name}"] = (
            f"CAST((length(w) - length(replace(w, '{pat}', '')))"
            f" DIV length('{pat}') AS BIGINT)"
            if d == dl.SPARK
            else f"CAST((length(w) - length(replace(w, '{pat}', '')))"
            f" // length('{pat}') AS BIGINT)"
        )
    return out


def with_blocklist(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """(id, n_tokens, hits_*, n_block_hits, keep): per-pattern counts,
    total, and the C4 keep decision (any hit drops the doc). Map-only —
    the wrapped token string materializes behind a barrier so each
    pattern's count scans it once, not once per reference.

    Shape (100 TB): scan -> tokenize -> fixed number of string scans
    per row; no shuffle, no UDF, fully whole-stage codegen. A large
    blocklist swaps the per-pattern scans for one explode + broadcast
    semi-join against the phrase set (the dedup_setjoin shape); the
    per-pattern-column surface here is the small-list form."""
    from pipegen_spark.operators.text import _barrier

    patterns = patterns or BLOCKLIST
    e = blocklist_exprs(text_col, dl.SPARK, patterns)
    toks = dl.words(f"COALESCE({text_col}, '')", dl.SPARK)
    staged = _barrier(
        df.select(
            F.col(id_col).alias("id"),
            F.expr(f"CAST({dl.size(toks, dl.SPARK)} AS BIGINT)").alias(
                "n_tokens"
            ),
            F.expr(e["_wrapped"]).alias("w"),
        )
    )
    hit_cols = [
        F.expr(e[f"hits_{name}"]).alias(f"hits_{name}") for name in patterns
    ]
    scored = staged.select("id", "n_tokens", *hit_cols)
    total = None
    for name in patterns:
        c = F.col(f"hits_{name}")
        total = c if total is None else total + c
    return scored.select(
        F.col("id").alias(id_col),
        "n_tokens",
        *[f"hits_{name}" for name in patterns],
        total.cast("long").alias("n_block_hits"),
        (total == 0).alias("keep"),
    )


# --- domain-level curation (r10; RefinedWeb/C4 practice) ----------------------

#: Synthetic-domain cardinality. The testdata schema carries no URL
#: column, so the domain is a DETERMINISTIC hash-derived label (the same
#: move as the existing synthetic `source` field): least-of-two 60-bit
#: hashes mod N gives a triangular (Zipf-ish) distribution — P(d_k) =
#: (2(N-k)-1)/N², so d0 holds ~6% of the corpus and the tail thins out —
#: deliberately skewed so the mega-domain code path is exercised the way
#: a real crawl (one CDN/wiki farm dominating) would exercise it.
N_DOMAIN_BUCKETS = 32
#: Blocklist gate thresholds (see domain_blocklist_gate).
DOM_MIN_MEAN_QUALITY_MICRO = 520_000
DOM_MAX_TOKEN_SHARE_PPM = 55_000


def domain_expr(id_col: str, d: str) -> str:
    """Deterministic synthetic domain label ('d0'...'dN-1'), skewed via
    least-of-two-hashes; shared dual-dialect text."""
    ha = dl.hash60(f"(CAST({id_col} AS STRING) || ':dom-a')", d)
    hb = dl.hash60(f"(CAST({id_col} AS STRING) || ':dom-b')", d)
    return (
        f"('d' || CAST(LEAST(({ha}) % {N_DOMAIN_BUCKETS},"
        f" ({hb}) % {N_DOMAIN_BUCKETS}) AS STRING))"
    )


def domain_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-domain corpus-health table — the statistic RefinedWeb/C4-
    style pipelines key curation on (real CC-scale filtering operates
    per URL domain, not per document): doc/token counts, corpus shares,
    mean quality, and the alpha=1/2 temperature mixing weight over the
    domain's token mass (domain-weighted mixing — w_d ∝ sqrt(tokens_d),
    the same mT5 discipline `temperature_weights` applies per source).

    Shape (100 TB): one map stage (domain label + token count + quality
    score per doc) feeding ONE map-side-combinable groupBy(domain) whose
    output is bounded by domain cardinality; totals come back as a
    broadcast 1-row aggregate; the sqrt-sum uses the collect-sort-fold
    pinned-order discipline (bounded frame) so the IEEE total is
    partition-independent. No window over the full relation anywhere.

    Output: (domain, n_docs, total_tokens, mean_quality_micro,
    doc_share_ppm, token_share_ppm, mix_weight_ppm), ordered by domain.
    """
    from pipegen_spark.operators import text as tx

    dom = domain_expr(id_col, dl.SPARK)
    n_tok = dl.size(dl.words(text_col, dl.SPARK), dl.SPARK)
    scored = tx.with_quality(
        df.select(id_col, text_col), text_col
    ).select(
        F.expr(dom).alias("domain"),
        F.expr(f"CAST({n_tok} AS BIGINT)").alias("n_tok"),
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("score_micro"),
    )
    per = scored.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("score_micro").cast("long").alias("_score_sum"),
    )
    sq_fold = dl.fold(
        dl.arr_sort(
            "collect_list(sqrt(CAST(total_tokens AS DOUBLE)))", dl.SPARK
        ),
        "CAST(0.0 AS DOUBLE)",
        "(acc, x) -> acc + x",
        dl.SPARK,
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("_all_docs"),
        F.sum("total_tokens").cast("long").alias("_all_tokens"),
        F.expr(sq_fold).alias("_sq_total"),
    )
    micro = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            "total_tokens",
            F.expr(dl.idiv("_score_sum", "n_docs", dl.SPARK))
            .cast("long")
            .alias("mean_quality_micro"),
            F.expr(dl.idiv("1000000 * n_docs", "_all_docs", dl.SPARK))
            .cast("long")
            .alias("doc_share_ppm"),
            F.expr(
                dl.idiv("1000000 * total_tokens", "_all_tokens", dl.SPARK)
            )
            .cast("long")
            .alias("token_share_ppm"),
            F.expr(
                micro.format(
                    x="sqrt(CAST(total_tokens AS DOUBLE)) / _sq_total"
                )
            ).alias("mix_weight_ppm"),
        )
        .orderBy("domain")
    )


def domain_blocklist_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_mean_quality_micro: int = DOM_MIN_MEAN_QUALITY_MICRO,
    max_token_share_ppm: int = DOM_MAX_TOKEN_SHARE_PPM,
) -> DataFrame:
    """Auto-derived domain blocklist — the two production ban rules
    composed from `domain_stats` itself: (a) LOW-QUALITY domain — mean
    quality below `min_mean_quality_micro` (the data-driven analogue of
    a UT1-style curated ban list); (b) MEGA-DOMAIN cap — token share
    above `max_token_share_ppm` (RefinedWeb-style per-domain cap: one
    CDN/wiki farm must not dominate the mixture). A static curated list
    would swap rule (a) for a broadcast semi-join on domain — identical
    plan shape.

    Shape (100 TB): domain_stats' bounded aggregate, a |domains|-row
    verdict frame broadcast back onto the map-only (doc, domain) scan.
    The skewed docs-per-domain dimension never appears in a sort or a
    single-task window.

    Output: (doc_id, domain, domain_keep, reason) with reason in
    {'ok', 'low_quality', 'mega_domain'} (low_quality wins ties)."""
    stats = domain_stats(df, text_col, id_col)
    verdicts = stats.select(
        "domain",
        (F.col("mean_quality_micro") < min_mean_quality_micro).alias(
            "_lowq"
        ),
        (F.col("token_share_ppm") > max_token_share_ppm).alias("_mega"),
    )
    dom = domain_expr(id_col, dl.SPARK)
    return (
        df.select(F.col(id_col), F.expr(dom).alias("domain"))
        .join(F.broadcast(verdicts), "domain")
        .select(
            id_col,
            "domain",
            (~F.col("_lowq") & ~F.col("_mega")).alias("domain_keep"),
            F.when(F.col("_lowq"), F.lit("low_quality"))
            .when(F.col("_mega"), F.lit("mega_domain"))
            .otherwise(F.lit("ok"))
            .alias("reason"),
        )
        .orderBy(id_col)
    )


# --- PII detection (round-12) -------------------------------------------------
#
# The scrub pass every training-data pipeline runs before release
# (cf. the public C4/Dolma/BigCode pipelines' PII stages): regex
# detectors for the high-volume identifier shapes plus the Luhn
# checkfilter on candidate card-number digit runs (ISO/IEC 7812 —
# a raw \d{16} regex alone flags ~10x too much; the checksum cuts
# random digit runs by 90%). Patterns use conservative syntax valid
# with IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded repetition, \b word boundaries — no
# lookaround, no backreferences. (Distinct from the module-level
# PII_PATTERNS redaction set above, which with_redaction/redact_exprs
# carry for the curate_redact-family surface: these detectors add the
# SSN/card shapes and the checksum stage.)

PII_DETECTORS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn": "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "card": "\\b\\d{16}\\b",
}

#: Redaction applies the detectors SEQUENTIALLY in this fixed order
#: (not as one alternation) — leftmost-first alternation tie-breaks
#: are the one place Java/RE2 semantics could be argued about, and a
#: fixed sequential order removes the question entirely.
PII_REDACT_ORDER = ("email", "ipv4", "ssn", "card")


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc PII surface: detector hit counts, Luhn validity of the
    first card-shaped digit run, and the redacted length (every
    detector hit replaced by the fixed '[PII]' token — length is the
    integer surface that changes iff any replacement changes). One
    distributed projection, no shuffle, no UDF — regexp engines run
    JVM-side inside codegen."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    red = t
    for name in PII_REDACT_ORDER:
        red = F.regexp_replace(red, PII_DETECTORS[name], "[PII]")
    out = df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_DETECTORS["email"]))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(t, F.lit(PII_DETECTORS["ipv4"]))
        .cast("long")
        .alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_DETECTORS["ssn"]))
        .cast("long")
        .alias("n_ssn"),
        F.regexp_count(t, F.lit(PII_DETECTORS["card"]))
        .cast("long")
        .alias("n_cards"),
        F.regexp_extract(t, PII_DETECTORS["card"], 0).alias("_card"),
        F.length(red).cast("long").alias("redacted_len"),
    )
    luhn = F.when(
        F.length(F.col("_card")) == 16,
        F.expr(dl.luhn16("_card", dl.SPARK)),
    ).otherwise(F.lit(0))
    return out.select(
        id_col,
        "n_emails",
        "n_ipv4",
        "n_ssn",
        "n_cards",
        luhn.cast("long").alias("card_luhn_ok"),
        "redacted_len",
    )
