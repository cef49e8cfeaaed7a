"""DuckDB oracle SQL for the training-data operator queries.

Generated from the SAME dialect templates and parameters as the Spark
implementations (functions/dialect.py + queries/training_data.py), so the
two sides compute structurally identical results — including IEEE addition
order for every floating-point fold.
"""

from __future__ import annotations

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators import curation as cu
from pipegen_spark.operators import dedup as dd
from pipegen_spark.operators import text as tx
from pipegen_spark.queries import training_data as td

D = dl.DUCK


def _shingles(k: int) -> str:
    """Shingles over the materialized token column `w` (see the `w` CTE)."""
    return dl.word_shingles("w", k, D)


def _w_cte(extra: str = "lang") -> str:
    """The shared tokenized-documents CTE; `extra` picks the carried
    metadata column (lang for most consumers, source for batch splits)."""
    return (
        f"w AS (SELECT doc_id AS id, {extra}, "
        + dl.words("text", D)
        + " AS w FROM documents)"
    )


_W_CTE = _w_cte()


def _jac(sa: str, sb: str) -> str:
    return (
        f"CAST({dl.intersect_size(sa, sb, D)} AS DOUBLE) / "
        f"CAST({dl.union_size(sa, sb, D)} AS DOUBLE)"
    )


def _minhash_pairs_ctes(w_cte: str | None = None) -> str:
    """Shared CTE chain ending in `pairs(doc_a, doc_b, jac)` (unfiltered);
    consumers apply the threshold. `w_cte` overrides the tokenized-source
    CTE (must emit (id, w)); default is the corpus-wide `documents` one —
    the e2e pipeline (r13) passes its survivor tokenization instead."""
    mh_cols = ",\n           ".join(
        f"{dl.minhash_sig_entry('sh', dd.PERM_A[p], dd.PERM_B[p], D)} AS mh{p}"
        for p in range(dd.N_PERMS)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN {dd._band_key(b, D)}" for b in range(dd.N_BANDS)
    )
    return f"""{w_cte or _W_CTE},
    sh0 AS (SELECT id, {_shingles(td.MINHASH_K)} AS sh FROM w),
    sh AS (
        SELECT MIN(id) AS id, ANY_VALUE(sh) AS sh
        FROM sh0
        GROUP BY md5(array_to_string(list_sort(sh), ','))
    ),
    sig AS (SELECT id, sh, {mh_cols} FROM sh),
    bands AS (
        SELECT id, t.band, CASE t.band {band_cases} END AS bkey
        FROM sig CROSS JOIN (SELECT CAST(r.range AS INT) AS band FROM range(0,{dd.N_BANDS}) r) t
    ),
    cand AS (
        SELECT DISTINCT a.id AS ida, b.id AS idb
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
    ),
    pairs AS (
        SELECT ida AS doc_a, idb AS doc_b, {_jac("A.sa", "B.sb")} AS jac
        FROM cand
        JOIN (SELECT id, sh AS sa FROM sh) A ON cand.ida = A.id
        JOIN (SELECT id, sh AS sb FROM sh) B ON cand.idb = B.id
    )"""


def _minhash_sql() -> str:
    return f"""
    WITH {_minhash_pairs_ctes()}
    SELECT doc_a, doc_b, jac FROM pairs
    WHERE jac >= {td.MINHASH_THRESHOLD}
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """


def _near_dup_rate_sql() -> str:
    """Mirror of curate_near_dup_rate: the shared MinHash chain, a doc →
    set-representative window, and a per-source ppm rollup.

    Shingle-less docs (len(sh)=0, i.e. fewer than MINHASH_K tokens) are
    excluded from the representative window — mirroring the Spark side,
    where shingle_rows emits no rows for them — and re-enter via the
    LEFT JOIN with COALESCE(flag, FALSE): never near-dup, always counted
    (round-7 ADVICE fix; previously every shingle-less doc shared one
    empty-set window key and unrelated docs were flagged mutual dups)."""
    skey = f"md5(array_to_string(list_sort(sh), ','))"
    n_dup = "SUM(CASE WHEN COALESCE(fl.is_near_dup, FALSE) THEN 1 ELSE 0 END)"
    return f"""
    WITH {_minhash_pairs_ctes()},
    dup AS (
        SELECT doc_a AS rep FROM pairs WHERE jac >= {td.MINHASH_THRESHOLD}
        UNION
        SELECT doc_b FROM pairs WHERE jac >= {td.MINHASH_THRESHOLD}
    ),
    m AS (
        SELECT id,
               MIN(id) OVER (PARTITION BY {skey}) AS rep,
               COUNT(*) OVER (PARTITION BY {skey}) AS grp
        FROM sh0
        WHERE {dl.size('sh', D)} > 0
    ),
    fl AS (
        SELECT m.id,
               (m.grp > 1 OR m.rep IN (SELECT rep FROM dup)) AS is_near_dup
        FROM m
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST({n_dup} AS BIGINT) AS n_near_dup,
           CAST({dl.idiv(f"{n_dup} * 1000000", "COUNT(*)", D)} AS BIGINT)
               AS near_dup_ppm
    FROM documents d LEFT JOIN fl ON d.doc_id = fl.id
    GROUP BY d.source
    ORDER BY d.source
    """


def _threshold_sweep_sql() -> str:
    """Mirror of dedup_threshold_sweep: the shared candidate chain with
    no threshold, IEEE-identical floor(jac*20) buckets, top-down
    cumulative over the tiny histogram."""
    return f"""
    WITH {_minhash_pairs_ctes()},
    hist AS (
        SELECT CAST(floor(jac * 20.0) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
    )
    SELECT bucket,
           CAST(bucket * 50000 AS BIGINT) AS jac_lo_ppm,
           n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_pairs_ge
    FROM hist ORDER BY bucket
    """


def _triangles_sql() -> str:
    """Mirror of graph.triangle_counts over the minhash near-dup pairs:
    wedges (a,b)+(b,c) closed by (a,c), all three corners credited.
    `dup` MATERIALIZED so the wedge/closing joins don't re-inline the
    whole minhash chain three times."""
    return f"""
    WITH {_minhash_pairs_ctes()},
    dup AS MATERIALIZED (
        SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs
        WHERE jac >= {td.MINHASH_THRESHOLD}
    ),
    tri AS (
        SELECT x.a, x.b, y.b AS c
        FROM dup x
        JOIN dup y ON x.b = y.a
        JOIN dup z ON z.a = x.a AND z.b = y.b
    ),
    corner AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    pn AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corner GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM dup UNION ALL SELECT b FROM dup
        ) t GROUP BY node
    )
    SELECT deg.node, deg.degree,
           CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM deg LEFT JOIN pn ON deg.node = pn.node
    ORDER BY deg.node
    """


def _containment_sql() -> str:
    """Same CTE chain; the verified measure is Broder containment
    |A∩B| / min(|A|,|B|) (see operators/dedup._containment_col)."""
    cont = (
        f"CAST({dl.intersect_size('A.sa', 'B.sb', D)} AS DOUBLE) / "
        f"CAST(LEAST({dl.size('A.sa', D)}, {dl.size('B.sb', D)}) AS DOUBLE)"
    )
    return f"""
    WITH {_minhash_pairs_ctes()},
    cpairs AS (
        SELECT ida AS doc_a, idb AS doc_b, {cont} AS containment
        FROM cand
        JOIN (SELECT id, sh AS sa FROM sh) A ON cand.ida = A.id
        JOIN (SELECT id, sh AS sb FROM sh) B ON cand.idb = B.id
    )
    SELECT doc_a, doc_b, containment FROM cpairs
    WHERE containment >= {td.CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """


def _reach_ctes(nodes: str = "documents") -> str:
    """The connected-components CTE chain (edge-seeded recursion over
    the thresholded pair graph); `nodes` is the relation whose doc_id
    set labels singletons — `documents` for the corpus-wide dedup
    oracles, the survivor CTE for the e2e pipeline (r13)."""
    return f"""
    dup AS MATERIALIZED (
        SELECT doc_a, doc_b FROM pairs WHERE jac >= {td.MINHASH_THRESHOLD}
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION
        SELECT doc_b, doc_a FROM dup
    ),
    reach(id, lbl) AS (
        SELECT src, CAST(src AS BIGINT) FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
    ),
    lab0 AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    lab AS (
        SELECT d.doc_id,
               COALESCE(l.cluster_id, CAST(d.doc_id AS BIGINT)) AS cluster_id
        FROM {nodes} d LEFT JOIN lab0 l ON d.doc_id = l.id
    )
"""


_REACH_CTES = _reach_ctes()


def _clusters_sql() -> str:
    """Connected components of the near-dup pair graph via WITH RECURSIVE
    reachability: cluster_id(v) = MIN over nodes that can reach v =
    component minimum (edges are undirected). The recursion is seeded from
    EDGE ENDPOINTS only — the same |V(pairs)|-not-|corpus| cut the Spark
    loop makes — with singletons labeling themselves in a final left join,
    and `dup`/`edges` MATERIALIZED so the recursion doesn't re-inline the
    whole minhash pipeline per round (measured: 14.4 s original → 29 s
    edge-seeded-unmaterialized → 2.0 s with both; every node in a
    pair-component is an edge node, so the labels are unchanged)."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    {_REACH_CTES}
    SELECT l.doc_id, l.cluster_id, c.cluster_size
    FROM lab l JOIN (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM lab GROUP BY cluster_id
    ) c USING (cluster_id)
    ORDER BY l.doc_id
    """


def _lpa_sql() -> str:
    """Mirror of dedup_lpa: the shared thresholded pair chain, then
    LPA_ROUNDS synchronous label-propagation rounds unrolled as CTEs —
    each round is (count per (dst, label)) -> (per-dst winner by count
    DESC, label ASC), the exact MIN-struct the Spark side aggregates.
    Docs off the pair graph label themselves via the final LEFT JOIN."""
    rounds = []
    prev = "l0"
    for r in range(1, td.LPA_ROUNDS + 1):
        rounds.append(f"""m{r} AS (
        SELECT e.dst AS id, l.lbl, COUNT(*) AS c
        FROM edges e JOIN {prev} l ON e.src = l.id
        GROUP BY e.dst, l.lbl
    ),
    l{r} AS (
        SELECT id, lbl FROM (
            SELECT id, lbl,
                   ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY c DESC, lbl
                   ) AS rn
            FROM m{r}
        ) t WHERE rn = 1
    )""")
        prev = f"l{r}"
    body = ",\n    ".join(rounds)
    return f"""
    WITH {_minhash_pairs_ctes()},
    dup AS MATERIALIZED (
        SELECT doc_a, doc_b FROM pairs WHERE jac >= {td.MINHASH_THRESHOLD}
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION
        SELECT doc_b, doc_a FROM dup
    ),
    l0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS lbl
           FROM edges),
    {body},
    lab AS (
        SELECT d.doc_id,
               COALESCE(l.lbl, CAST(d.doc_id AS BIGINT)) AS community
        FROM documents d LEFT JOIN {prev} l ON d.doc_id = l.id
    )
    SELECT lab.doc_id, lab.community, s.community_size
    FROM lab JOIN (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM lab GROUP BY community
    ) s USING (community)
    ORDER BY lab.doc_id
    """


def _keep_best_sql() -> str:
    """Clusters CTE chain (see _clusters_sql, edge-seeded recursion) +
    quality score + one window: keep = rank 1 by (quality DESC, doc_id)
    within each cluster."""
    q = tx.quality_exprs("text", D)
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    {_REACH_CTES},
    sized AS (
        SELECT l.doc_id, l.cluster_id, c.cluster_size
        FROM lab l JOIN (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM lab GROUP BY cluster_id
        ) c USING (cluster_id)
    ),
    q AS (SELECT doc_id, {q['quality_score']} AS quality_score FROM documents)
    SELECT s.doc_id, s.cluster_id, s.cluster_size, q.quality_score,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY q.quality_score DESC, s.doc_id) = 1
               AS keep
    FROM sized s JOIN q USING (doc_id)
    ORDER BY s.doc_id
    """


def _simhash_sql() -> str:
    """Join-based simhash oracle mirroring operators/dedup.py with_simhash:
    unnest tokens -> hash60 once per token -> 60 conditional SUMs per doc ->
    sign-pack. The previous form rendered dd.simhash_expr (60 list_reduce
    folds, each re-tokenizing + re-md5-ing the document) — the ~minutes-scale
    DuckDB query that truncated the round-1 driver gate. Same values: bit_j =
    sign(sum over the token MULTISET of (2*bit_j(hash60(t)) - 1)); tokenless
    docs get simhash 0 via the LEFT JOIN coalesce (Spark: explode_outer)."""
    bit_sums = ",\n               ".join(
        f"SUM((({dl.shr('h', str(j), D)}) & 1) * 2 - 1) AS b{j}"
        for j in range(dd.SIMHASH_BITS)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {dl.shl('CAST(1 AS BIGINT)', j, D)}"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(dd.SIMHASH_BITS)
    )
    band_keys = " ".join(
        f"WHEN {i} THEN ({dl.shr('simhash', str(i * dd.SIMHASH_BAND_BITS), D)}"
        f" & {(1 << dd.SIMHASH_BAND_BITS) - 1})"
        for i in range(dd.SIMHASH_BANDS)
    )
    return f"""
    WITH tok AS (
        SELECT id, {dl.hash60("t", D)} AS h FROM (
            SELECT doc_id AS id, unnest({dl.words("text", D)}) AS t
            FROM documents
        ) u
    ),
    sums AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
    sig AS (
        SELECT d.doc_id AS id,
               COALESCE(s.simhash, CAST(0 AS BIGINT)) AS simhash
        FROM documents d
        LEFT JOIN (SELECT id, ({sim_terms}) AS simhash FROM sums) s
          ON d.doc_id = s.id
    ),
    bands AS (
        SELECT id, simhash, t.band, CASE t.band {band_keys} END AS bkey
        FROM sig CROSS JOIN (SELECT CAST(r.range AS INT) AS band FROM range(0,{dd.SIMHASH_BANDS}) r) t
    ),
    pairs AS (
        SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {td.SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """


def _ngram_sql() -> str:
    """Join-based n-gram Jaccard oracle mirroring operators/dedup.py
    ngram_jaccard_pairs: shingle ROWS -> equi-join on (block, shingle) ->
    hash-agg intersection counts -> jac = inter/(na+nb-inter). The previous
    form did all-pairs list_intersect/list_distinct over raw string arrays —
    the measured ~190s DuckDB query that blew the round-1 driver budget.
    Identical values: only pairs sharing >= 1 shingle materialize, which is
    exactly the jac > 0 support set (threshold > 0)."""
    return f"""
    WITH {_W_CTE},
    sh AS (
        SELECT DISTINCT id, blk, s FROM (
            SELECT id, lang AS blk, unnest({_shingles(td.NGRAM_N)}) AS s
            FROM w
        ) u
    ),
    sizes AS (
        SELECT id, blk, CAST(COUNT(*) AS BIGINT) AS n
        FROM sh GROUP BY id, blk
    ),
    inter AS (
        SELECT a.id AS ida, b.id AS idb, CAST(COUNT(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b
          ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT doc_a, doc_b, jac FROM (
        SELECT i.ida AS doc_a, i.idb AS doc_b,
               CAST(i.inter AS DOUBLE)
                   / CAST(na.n + nb.n - i.inter AS DOUBLE) AS jac
        FROM inter i
        JOIN sizes na ON i.ida = na.id
        JOIN sizes nb ON i.idb = nb.id
    ) p WHERE jac >= {td.NGRAM_THRESHOLD}
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """



def _tfidf_cos_sql() -> str:
    """tf-idf shingle-cosine oracle mirroring operators/dedup.py
    tfidf_cosine_pairs stage for stage: multiset shingle tf, df, the
    clipped integer idf weight, rare-feature candidate join, the
    all-shared-features numerator, and the identical floor'd
    double-sqrt cosine expression (exact BIGINT inputs on both sides,
    so the doubles agree bitwise)."""
    k = dd.TFIDF_COS_K
    cap = dd.TFIDF_COS_IDF_CAP_MILLI
    shingles = dl.word_shingles_all("w", k, D)
    cos = (
        "CAST(floor(1000000.0 * CAST(num AS DOUBLE) / "
        "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) AS BIGINT)"
    )
    return f"""
    WITH {_W_CTE},
    sh AS (SELECT id, unnest({shingles}) AS s FROM w),
    tf AS (
        SELECT id, s, CAST(COUNT(*) AS BIGINT) AS c
        FROM sh GROUP BY id, s
    ),
    dfq AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY s
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    wt AS (
        SELECT tf.id, tf.s, dfq.dfq,
               tf.c * LEAST({dl.idiv("1000 * nd.n_docs", "dfq.dfq", D)},
                            CAST({cap} AS BIGINT)) AS w
        FROM tf JOIN dfq ON tf.s = dfq.s CROSS JOIN nd
    ),
    norms AS (
        SELECT id, CAST(SUM(w * w) AS BIGINT) AS nrm FROM wt GROUP BY id
    ),
    rare AS (SELECT id, s FROM wt WHERE dfq <= {dd.TFIDF_COS_DF_CAP}),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.id AS ida, b.id AS idb
        FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
    ),
    num AS (
        SELECT c.ida, c.idb,
               CAST(SUM(wa.w * wb.w) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM cand c
        JOIN wt wa ON wa.id = c.ida
        JOIN wt wb ON wb.id = c.idb AND wb.s = wa.s
        GROUP BY c.ida, c.idb
    )
    SELECT doc_a, doc_b, shared, num, cos_micro FROM (
        SELECT n.ida AS doc_a, n.idb AS doc_b, n.shared, n.num,
               {cos} AS cos_micro
        FROM num n
        JOIN (SELECT id, nrm AS na FROM norms) a ON n.ida = a.id
        JOIN (SELECT id, nrm AS nb FROM norms) b ON n.idb = b.id
    ) p
    WHERE cos_micro >= {dd.TFIDF_COS_THRESHOLD_MICRO}
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """



def _unimax_sql() -> str:
    """UniMax waterfill oracle mirroring operators/curation.py
    unimax_allocation: same k-row sort, prefix-sum saturation predicate
    and integer waterline division."""
    b_ppm = cu.UNIMAX_BUDGET_PPM
    e = cu.UNIMAX_MAX_EPOCHS
    words = dl.words("text", D)
    return f"""
    WITH per AS (
        SELECT source,
               CAST(SUM(len({words})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    caps AS (
        SELECT source, n_tokens,
               CAST(n_tokens * {e} AS BIGINT) AS cap_tokens
        FROM per
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM caps
    ),
    ranked AS (
        SELECT c.*, t.k,
               {dl.mul_ppm("t.total", b_ppm, D)} AS b,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
               CAST(SUM(cap_tokens) OVER (w ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
        FROM caps c CROSS JOIN tot t
        WINDOW w AS (ORDER BY cap_tokens, source)
    ),
    sat AS (
        SELECT *,
               cap_tokens * (k - i + 1) <= b - (prefix - cap_tokens)
                   AS saturated
        FROM ranked
    ),
    m AS (
        SELECT COALESCE(MAX(CASE WHEN saturated THEN i END), 0) AS m,
               COALESCE(MAX(CASE WHEN saturated THEN prefix END), 0)
                   AS prefix_m
        FROM sat
    )
    SELECT source, n_tokens, cap_tokens,
           CAST(CASE WHEN saturated THEN cap_tokens
                ELSE LEAST(CASE WHEN k > m.m
                           THEN {dl.idiv("b - m.prefix_m", "k - m.m", D)}
                           ELSE 0 END, cap_tokens)
           END AS BIGINT) AS alloc_tokens,
           CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE
           {dl.idiv("1000000 * (CASE WHEN saturated THEN cap_tokens ELSE LEAST(CASE WHEN k > m.m THEN " + dl.idiv("b - m.prefix_m", "k - m.m", D) + " ELSE 0 END, cap_tokens) END)", "n_tokens", D)}
           END AS epochs_ppm,
           saturated
    FROM sat CROSS JOIN m
    ORDER BY source
    """

def _setjoin_sql() -> str:
    """Prefix-filtered exact set-similarity join oracle mirroring
    operators/dedup.setjoin_jaccard_pairs step for step: global shingle
    frequency -> per-doc (cnt, hash, s) ordering -> prefix rows
    (sz - ceil(t*sz) + 1 rarest) -> candidate equi-join with the
    integer length filter -> exact array verify with the integer
    cross-multiplied threshold. jac surfaces as integer millionths."""
    num, den = td.SETJOIN_NUM, td.SETJOIN_DEN
    h = dl.hash_m31("r.s", D)
    inter = dl.intersect_size("A.sa", "B.sb", D)
    return f"""
    WITH {_W_CTE},
    shr AS (
        SELECT DISTINCT id, s FROM (
            SELECT id, unnest({_shingles(td.SETJOIN_N)}) AS s FROM w
        ) u
    ),
    freq AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt FROM shr GROUP BY s
    ),
    ranked AS (
        SELECT r.id, r.s, f.cnt, {h} AS hh
        FROM shr r JOIN freq f ON r.s = f.s
    ),
    pref AS (
        SELECT id, s, sz FROM (
            SELECT id, s,
                   ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY cnt, hh, s
                   ) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS sz
            FROM ranked
        ) r
        WHERE rn <= sz - (({num} * sz + {den - 1}) // {den}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.id AS ida, b.id AS idb, a.sz AS na, b.sz AS nb
        FROM pref a JOIN pref b
          ON a.s = b.s AND a.id < b.id
         AND {den} * LEAST(a.sz, b.sz) >= {num} * GREATEST(a.sz, b.sz)
    ),
    sh AS (SELECT id, list_sort({_shingles(td.SETJOIN_N)}) AS arr FROM w),
    verified AS (
        SELECT c.ida AS doc_a, c.idb AS doc_b,
               CAST({inter} AS BIGINT) AS i,
               c.na + c.nb - CAST({inter} AS BIGINT) AS u
        FROM cand c
        JOIN (SELECT id, arr AS sa FROM sh) A ON c.ida = A.id
        JOIN (SELECT id, arr AS sb FROM sh) B ON c.idb = B.id
    )
    SELECT doc_a, doc_b, (1000000 * i) // u AS jac_micro
    FROM verified WHERE {den} * i >= {num} * u
    ORDER BY doc_a, doc_b LIMIT {td.PAIR_LIMIT}
    """


def _emb_dup_sql() -> str:
    cos = dl.cosine_double("a.embedding", "b.embedding", dl.size("a.embedding", D), D)
    return f"""
    SELECT vec_a, vec_b, cos FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ) p WHERE cos >= {td.EMB_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b LIMIT {td.PAIR_LIMIT}
    """


def _brute_force_sql() -> str:
    cos = dl.cosine_double("q.qv", "e.embedding", dl.size("q.qv", D), D)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {td.N_QUERY_VECS}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    ) t WHERE rnk <= {td.TOPK_BRUTE}
    ORDER BY query_id, rnk
    """


def _knn_planes_ctes() -> str:
    """Shared CTEs for the size-parameterized LSH plane count: bdef
    computes b = min(BASE + ceil(log2(ceil(n/N0))), MAX) from COUNT(*)
    with a CASE ladder (integer-exact mirror of
    training_data.knn_plane_count — (q-1).bit_length() unrolled to the
    clamp), then `planes` selects the first b plane vectors. At the
    declared base size this reduces to the historical 4-plane index."""
    n0 = td.KNN_BASE_N
    ladder = " ".join(
        f"WHEN q <= {1 << e} THEN {e}"
        for e in range(td.KNN_PLANES_MAX - td.KNN_PLANES_BASE)
    )
    clamp = td.KNN_PLANES_MAX - td.KNN_PLANES_BASE
    return f"""planes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS bit,
               embedding AS pv
        FROM embeddings
        WHERE vec_id BETWEEN {td.KNN_PLANE_LO}
              AND {td.KNN_PLANE_LO} + (
                  SELECT {td.KNN_PLANES_BASE}
                         + CASE {ladder} ELSE {clamp} END
                  FROM (SELECT (COUNT(*) + {n0 - 1}) // {n0} AS q
                        FROM embeddings) t
              ) - 1
    )"""


def _knn_graph_sql() -> str:
    """Mirror of similarity.knn_graph (within-bucket all-corpus kNN)."""
    dot = dl.dot_double("e.embedding", "p.pv", td.EMB_DIM, D)
    cos = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    return f"""
    WITH {_knn_planes_ctes()},
    buckets AS (
        SELECT e.vec_id AS id,
               CAST(SUM(CASE WHEN {dot} > 0
                        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    bv AS (SELECT b.id, b.bucket, e.embedding AS v
           FROM buckets b JOIN embeddings e ON b.id = e.vec_id),
    scored AS (
        SELECT a.id AS src_id, b.id AS neighbor_id, {cos} AS cos
        FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.id <> b.id
    )
    SELECT src_id AS vec_id, neighbor_id, CAST(rnk AS INT) AS rnk, cos
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    ) t WHERE rnk <= {td.KNN_GRAPH_K}
    ORDER BY vec_id, rnk
    """


def _hard_negatives_sql() -> str:
    """Mirror of similarity.hard_negatives (within-bucket cross-label
    top-1 per anchor — knn_graph's bucket/cosine machinery plus the
    label filter)."""
    dot = dl.dot_double("e.embedding", "p.pv", td.EMB_DIM, D)
    cos = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    return f"""
    WITH {_knn_planes_ctes()},
    buckets AS (
        SELECT e.vec_id AS id,
               CAST(SUM(CASE WHEN {dot} > 0
                        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    bv AS (SELECT b.id, b.bucket, e.embedding AS v, e.label AS lbl
           FROM buckets b JOIN embeddings e ON b.id = e.vec_id),
    scored AS (
        SELECT a.id AS src_id, a.lbl AS src_lbl,
               b.id AS neg_id, b.lbl AS neg_lbl, {cos} AS cos
        FROM bv a JOIN bv b
          ON a.bucket = b.bucket AND a.lbl <> b.lbl
    )
    SELECT src_id AS vec_id, CAST(src_lbl AS BIGINT) AS label,
           neg_id, CAST(neg_lbl AS BIGINT) AS neg_label, cos
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                     ORDER BY cos DESC, neg_id) AS rnk
        FROM scored
    ) t WHERE rnk = 1
    ORDER BY vec_id
    """


def _audio_fp_sql() -> str:
    """Mirror of multimodal_audio_fp: the md5-reconstructed frame
    energies, LAG-compared, bit-packed, then the fingerprint-partition
    dup stats (same surface pattern as multimodal_phash)."""
    return f"""
    {_wav_energy_ctes()},
    lagged AS (
        SELECT doc_id, win, energy,
               LAG(energy) OVER (PARTITION BY doc_id ORDER BY win) AS prev
        FROM frames
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN energy > prev
                        THEN (CAST(1 AS BIGINT) << CAST(win - 1 AS INT))
                        ELSE 0 END) AS BIGINT) AS audio_fp
        FROM lagged WHERE prev IS NOT NULL
        GROUP BY doc_id
    )
    SELECT doc_id, audio_fp,
           CAST(COUNT(*) OVER (PARTITION BY audio_fp) AS BIGINT)
               AS n_same_fp,
           (ROW_NUMBER() OVER (PARTITION BY audio_fp ORDER BY doc_id) > 1)
               AS is_fp_dup
    FROM fp ORDER BY doc_id
    """


def _preference_pairs_sql() -> str:
    """Mirror of curation.preference_pairs (top/bottom halves by the
    shared quality score, rank-paired, strict margins)."""
    q = tx.quality_exprs("text", D)
    score_micro = (
        f"CAST(floor(({q['quality_score']}) * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
    WITH scored AS (
        SELECT doc_id, source, {score_micro} AS score_micro FROM documents
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY score_micro DESC, doc_id) AS rt,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY score_micro ASC, doc_id DESC) AS rb,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM scored
    ),
    chosen AS (
        SELECT source, CAST(rt AS BIGINT) AS pair_rank,
               doc_id AS chosen_id, score_micro AS chosen_micro
        FROM ranked WHERE rt <= least({cu.PREF_PAIRS_CAP}, n // 2)
    ),
    rejected AS (
        SELECT source, CAST(rb AS BIGINT) AS pair_rank,
               doc_id AS rejected_id, score_micro AS rejected_micro
        FROM ranked WHERE rb <= least({cu.PREF_PAIRS_CAP}, n // 2)
    )
    SELECT c.source, c.pair_rank, chosen_id, rejected_id,
           chosen_micro, rejected_micro,
           CAST(chosen_micro - rejected_micro AS BIGINT) AS margin_micro
    FROM chosen c JOIN rejected r
      ON c.source = r.source AND c.pair_rank = r.pair_rank
    WHERE chosen_micro - rejected_micro > 0
    ORDER BY c.source, c.pair_rank
    """


def _bitext_sql() -> str:
    """Mirror of similarity.bitext_margin (bucketed cross-lingual
    candidates, micro-quantized cosine, integer top-k means, ratio
    margin, per-source top-1)."""
    from pipegen_spark.operators.similarity import BITEXT_K

    dot = dl.dot_double("e.embedding", "p.pv", td.EMB_DIM, D)
    cos = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    den = f"({dl.idiv('s_sum', 's_cnt', D)} + {dl.idiv('t_sum', 't_cnt', D)})"
    margin = dl.idiv("pm.cos_micro * 2000000", den, D)
    return f"""
    WITH {_knn_planes_ctes()},
    buckets AS (
        SELECT e.vec_id AS id,
               CAST(SUM(CASE WHEN {dot} > 0
                        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    bv AS (
        SELECT b.id, b.bucket, e.embedding AS v, (d.lang = 'en') AS is_src
        FROM buckets b
        JOIN embeddings e ON b.id = e.vec_id
        JOIN documents d ON b.id = d.doc_id
    ),
    pm AS MATERIALIZED (
        SELECT src_id, tgt_id, cos_micro FROM (
            SELECT a.id AS src_id, b.id AS tgt_id,
                   CAST(floor({cos} * 1000000.0 + 0.5) AS BIGINT)
                       AS cos_micro
            FROM bv a JOIN bv b
              ON a.bucket = b.bucket AND a.is_src AND NOT b.is_src
        ) q WHERE cos_micro > 0
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY cos_micro DESC, tgt_id) AS rs,
               ROW_NUMBER() OVER (PARTITION BY tgt_id
                                  ORDER BY cos_micro DESC, src_id) AS rt
        FROM pm
    ),
    stats AS (
        SELECT *,
               CAST(SUM(CASE WHEN rs <= {BITEXT_K} THEN cos_micro END)
                    OVER (PARTITION BY src_id) AS BIGINT) AS s_sum,
               CAST(SUM(CASE WHEN rs <= {BITEXT_K} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY src_id) AS BIGINT) AS s_cnt,
               CAST(SUM(CASE WHEN rt <= {BITEXT_K} THEN cos_micro END)
                    OVER (PARTITION BY tgt_id) AS BIGINT) AS t_sum,
               CAST(SUM(CASE WHEN rt <= {BITEXT_K} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY tgt_id) AS BIGINT) AS t_cnt
        FROM ranked
    ),
    scored AS (
        SELECT pm.src_id, pm.tgt_id, pm.cos_micro,
               CAST({margin} AS BIGINT) AS margin_ppm
        FROM stats pm
    )
    SELECT src_id AS vec_id, tgt_id, cos_micro, margin_ppm
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                     ORDER BY margin_ppm DESC, tgt_id) AS rnk
        FROM scored
    ) f WHERE rnk = 1
    ORDER BY vec_id
    """


# (_quality_percentile_sql removed in r10: the exact-rank form is no
# longer any gated key's oracle — it survives Spark-side as the
# ref_quality_percentile_rank test surface, equivalence-pinned against
# the threshold gate in tests/test_curation.py.)


def _length_stats_sql() -> str:
    """Mirror of curation.length_histogram (log2-bucket CASE ladder,
    bounded (source, bucket) rollup)."""
    n_tok = dl.size(dl.words("text", D), D)
    bucket = dl.log2_bucket("n_tok", cu.LEN_HIST_MAX_BITS, D)
    return f"""
    WITH t AS (
        SELECT source, CAST({n_tok} AS BIGINT) AS n_tok FROM documents
    ),
    b AS (SELECT source, n_tok, CAST({bucket} AS BIGINT) AS bucket FROM t)
    SELECT source, bucket,
           CAST(CASE WHEN bucket = 0 THEN 0
                ELSE (1 << (bucket - 1)) END AS BIGINT) AS bucket_lo,
           CAST((1 << bucket) - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM b GROUP BY source, bucket
    ORDER BY source, bucket
    """


def _chardiv_sql() -> str:
    """Mirror of text.char_diversity (per-char explode, integer Simpson
    collision index, left-join-coalesce for empty docs)."""
    simpson = dl.idiv(
        "p._coll * 1000000", "p.n_chars * (p.n_chars - 1)", D
    )
    return f"""
    WITH chars AS (
        SELECT doc_id AS id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ) t WHERE ch <> '' GROUP BY doc_id, ch
    ),
    p AS (
        SELECT id, CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS distinct_chars,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS _coll
        FROM chars GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(p.distinct_chars, 0) AS BIGINT)
               AS distinct_chars,
           CAST(CASE WHEN COALESCE(p.n_chars, 0) >= 2 THEN {simpson}
                ELSE 0 END AS BIGINT) AS simpson_ppm,
           CAST(CASE WHEN COALESCE(p.n_chars, 0) >= 2
                THEN 1000000 - ({simpson})
                ELSE 0 END AS BIGINT) AS diversity_ppm
    FROM documents d LEFT JOIN p ON d.doc_id = p.id
    ORDER BY d.doc_id
    """


def _split_leakage_sql() -> str:
    """Mirror of curation.split_leakage: the deterministic split label,
    per-(doc, fingerprint) distinct rows, plain (non-broadcast) overlap
    join against the train fingerprint set."""
    split = cu.split_expr("doc_id", D)
    shingles = dl.word_shingles_all("w", cu.SPLIT_LEAK_K, D)
    h = dl.hash60("s", D)
    ppm = dl.idiv("st.n_leaked * 1000000", "st.n_ngrams", D)
    return f"""
    WITH labeled AS (
        SELECT doc_id AS id, text, {split} AS split FROM documents
    ),
    w AS (SELECT id, split, {dl.words('text', D)} AS w FROM labeled),
    pos AS (SELECT id, split, unnest({shingles}) AS s FROM w),
    fp AS (SELECT DISTINCT id, split, {h} AS h FROM pos),
    train AS (SELECT DISTINCT h FROM fp WHERE split = 'train'),
    ev AS (SELECT id, h FROM fp WHERE split <> 'train'),
    st AS (
        SELECT ev.id,
               CAST(COUNT(*) AS BIGINT) AS n_ngrams,
               CAST(SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_leaked
        FROM ev LEFT JOIN train t ON ev.h = t.h
        GROUP BY ev.id
    )
    SELECT l.id AS doc_id, l.split,
           CAST(COALESCE(st.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(st.n_leaked, 0) AS BIGINT) AS n_leaked,
           CAST(CASE WHEN COALESCE(st.n_ngrams, 0) > 0 THEN {ppm}
                ELSE 0 END AS BIGINT) AS leak_ppm,
           (CASE WHEN COALESCE(st.n_ngrams, 0) > 0 THEN {ppm}
                ELSE 0 END) >= {cu.SPLIT_LEAK_FLAG_PPM} AS flagged
    FROM labeled l LEFT JOIN st ON l.id = st.id
    WHERE l.split <> 'train'
    ORDER BY l.id
    """


def _rake_sql() -> str:
    """Mirror of text.rake_keywords: islands from pos − row_number,
    ordered string_agg phrase assembly, integer deg/freq token scores,
    distinct phrases, per-doc top-k."""
    stop_arr = "[" + ",".join(f"'{s}'" for s in tx.STOPWORDS) + "]"
    tscore = dl.idiv("deg * 1000000", "freq", D)
    return f"""
    WITH tok AS (
        SELECT id, pos, tok FROM (
            SELECT doc_id AS id,
                   unnest({dl.words('text', D)}) AS tok,
                   generate_subscripts({dl.words('text', D)}, 1) AS pos
            FROM documents
        ) t WHERE NOT {dl.contains(stop_arr, 'tok', D)}
    ),
    isl AS (
        SELECT id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY id ORDER BY pos)
                   AS island
        FROM tok
    ),
    phr AS (
        SELECT id, island,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM isl GROUP BY id, island
    ),
    ts AS (
        SELECT o.id, o.tok,
               CAST({tscore} AS BIGINT) AS tscore
        FROM (
            SELECT i.id, i.tok,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(p.plen) AS BIGINT) AS deg
            FROM isl i JOIN phr p
              ON i.id = p.id AND i.island = p.island
            GROUP BY i.id, i.tok
        ) o
    ),
    scored AS (
        SELECT DISTINCT s.id, p.phrase, p.plen, s.score_micro
        FROM (
            SELECT i.id, i.island,
                   CAST(SUM(t.tscore) AS BIGINT) AS score_micro
            FROM isl i JOIN ts t ON i.id = t.id AND i.tok = t.tok
            GROUP BY i.id, i.island
        ) s JOIN phr p ON s.id = p.id AND s.island = p.island
    ),
    ranked AS (
        SELECT id, phrase, plen, score_micro,
               ROW_NUMBER() OVER (PARTITION BY id
                    ORDER BY score_micro DESC, phrase) AS rnk
        FROM scored
    )
    SELECT id AS doc_id, CAST(rnk AS BIGINT) AS rnk, phrase, plen,
           score_micro
    FROM ranked WHERE rnk <= {tx.RAKE_TOPK}
    ORDER BY doc_id, rnk
    """


def _vocab_growth_sql() -> str:
    """Mirror of text.vocab_growth (per-(source, token) counts, bounded
    per-source rollup, integer ppm ratios)."""
    ttr = dl.idiv("n_types * 1000000", "n_tokens", D)
    hapax = dl.idiv("n_hapax * 1000000", "n_types", D)
    return f"""
    WITH toks AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT source, unnest({dl.words('text', D)}) AS tok
            FROM documents
        ) t GROUP BY source, tok
    ),
    per AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM toks GROUP BY source
    )
    SELECT source, n_tokens, n_types, n_hapax,
           CAST({ttr} AS BIGINT) AS ttr_ppm,
           CAST({hapax} AS BIGINT) AS hapax_ppm
    FROM per ORDER BY source
    """


def _boilerplate_sql() -> str:
    """Mirror of curation.boilerplate_stats: per-position shingle rows,
    distinct-doc frequency, df-filtered boilerplate set joined back,
    per-doc rollup with the left-join-coalesce guard for docs shorter
    than k tokens."""
    shingles = dl.word_shingles_all("w", cu.BOILER_K, D)
    return f"""
    WITH {_W_CTE},
    pos AS (SELECT id, unnest({shingles}) AS s FROM w),
    bset AS (
        SELECT s FROM (
            SELECT s, COUNT(DISTINCT id) AS df FROM pos GROUP BY s
        ) WHERE df >= {cu.BOILER_DF}
    ),
    per AS (
        SELECT pos.id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN bset.s IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS boiler_hits
        FROM pos LEFT JOIN bset ON pos.s = bset.s
        GROUP BY pos.id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(per.boiler_hits, 0) AS BIGINT) AS boiler_hits,
           CAST(CASE WHEN COALESCE(per.n_shingles, 0) > 0
                THEN {dl.idiv('per.boiler_hits * 1000000',
                              'per.n_shingles', D)}
                ELSE 0 END AS BIGINT) AS boiler_frac_ppm,
           (CASE WHEN COALESCE(per.n_shingles, 0) > 0
                THEN {dl.idiv('per.boiler_hits * 1000000',
                              'per.n_shingles', D)}
                ELSE 0 END) >= {cu.BOILER_FLAG_PPM} AS flagged
    FROM documents d LEFT JOIN per ON d.doc_id = per.id
    ORDER BY d.doc_id
    """


def _quality_threshold_sql() -> str:
    """Mirror of curation.quality_threshold_gate: per-source cutoff from
    the bounded (source, score_micro) histogram — k = n·frac // 1e6,
    cutoff = k-th highest score counted with multiplicity (MAX score
    whose descending cumulative count >= k), keep = score >= cutoff,
    k=0 -> sentinel cutoff 1e6+1 keeps nothing."""
    q = tx.quality_exprs("text", D)
    score_micro = (
        f"CAST(floor(({q['quality_score']}) * 1000000.0 + 0.5) AS BIGINT)"
    )
    k = dl.idiv(f"n * {cu.QP_KEEP_FRAC_PPM}", str(cu.PCT_PPM), D)
    return f"""
    WITH scored AS (
        SELECT doc_id, source, {score_micro} AS score_micro FROM documents
    ),
    hist AS (
        SELECT source, score_micro, CAST(COUNT(*) AS BIGINT) AS c
        FROM scored GROUP BY source, score_micro
    ),
    cum AS (
        SELECT source, score_micro,
               SUM(c) OVER (PARTITION BY source ORDER BY score_micro DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM hist
    ),
    cuts AS (
        SELECT source, MAX(score_micro) AS cutoff_micro
        FROM cum
        WHERE {k} > 0 AND cumc >= {k}
        GROUP BY source
    )
    SELECT s.doc_id, s.source, s.score_micro,
           CAST(COALESCE(c.cutoff_micro, {cu.QT_CUTOFF_NONE}) AS BIGINT)
               AS cutoff_micro,
           (s.score_micro >=
               COALESCE(c.cutoff_micro, {cu.QT_CUTOFF_NONE})) AS keep
    FROM scored s LEFT JOIN cuts c ON s.source = c.source
    ORDER BY s.doc_id
    """


def _ensemble_sql() -> str:
    """Mirror of queries.training_data.curate_ensemble — the three
    standalone filter oracles embedded verbatim as CTE subqueries and
    joined on doc_id, so the ensemble is composition on BOTH engines.
    Since the r10 re-point the percentile signal is the histogram-
    cutoff threshold-gate oracle (the production plan; the former
    separate curate_ensemble_threshold key is retired)."""
    return f"""
    WITH g AS ({_gopher_sql()}),
    c AS ({_classifier_sql()}),
    p AS ({_quality_threshold_sql()})
    SELECT g.doc_id,
           g.gopher_keep,
           c.keep AS clf_keep,
           p.keep AS pct_keep,
           (g.gopher_keep AND c.keep AND p.keep) AS keep
    FROM g JOIN c ON g.doc_id = c.doc_id
           JOIN p ON g.doc_id = p.doc_id
    ORDER BY g.doc_id
    """


def _calibration_sql() -> str:
    """Mirror of queries.training_data.curate_calibration: the
    classifier and Gopher oracles embedded verbatim, fixed-width
    integer score buckets, per-bucket observed pass rate."""
    from pipegen_spark.queries.training_data import CAL_BUCKET_WIDTH

    return f"""
    WITH c AS ({_classifier_sql()}),
    g AS ({_gopher_sql()})
    SELECT {dl.idiv("c.avg_micro", str(CAL_BUCKET_WIDTH), D)} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           {dl.idiv("1000000 * CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS BIGINT)", "CAST(COUNT(*) AS BIGINT)", D)}
               AS pass_ppm
    FROM c JOIN g ON c.doc_id = g.doc_id
    GROUP BY bucket
    ORDER BY bucket
    """

def _range_sql() -> str:
    """Mirror of similarity.range_search (exact cosine radius search)."""
    cos = dl.cosine_double("q.qv", "e.embedding", td.EMB_DIM, D)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {td.N_QUERY_VECS})
    SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id AND {cos} >= {td.RANGE_COS_THRESHOLD}
    ORDER BY q.query_id, neighbor_id
    """


def _dim_stats_sql() -> str:
    """Mirror of embeddings.dim_stats (scaled-long sums, micro-unit
    mean/variance, dead-dimension flag)."""
    import pipegen_spark.operators.embeddings as em

    x = dl.elem("e.embedding", "(CAST(r.range AS INT) + 1)", D)
    mean = f"((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / {em.MEAN_SCALE})"
    ex2 = f"((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) / {em.MEAN_SCALE})"
    var = f"({ex2} - ({mean} * {mean}))"
    return f"""
    WITH s AS (
        SELECT CAST(r.range AS INT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM({em.scaled_long_expr(x)}) AS s1,
               SUM({em.scaled_long_expr(f"CAST({x} AS DOUBLE) * CAST({x} AS DOUBLE)")}) AS s2
        FROM embeddings e CROSS JOIN range(0, {td.EMB_DIM}) r
        GROUP BY pos
    )
    SELECT pos, n,
           CAST(floor(({mean}) * 1000000.0 + 0.5) AS BIGINT) AS mean_micro,
           CAST(floor(({var}) * 1000000.0 + 0.5) AS BIGINT) AS var_micro,
           (CAST(floor(({var}) * 1000000.0 + 0.5) AS BIGINT) < 10)
               AS dead_dim
    FROM s
    ORDER BY pos
    """


def _outliers_sql() -> str:
    """Mirror of embeddings.centroid_outliers (scaled-long mean vector,
    micro-unit distances, cross-multiplied integer flag)."""
    import pipegen_spark.operators.embeddings as em

    val = dl.elem("v", "(CAST(r.range AS INT) + 1)", D)
    d2 = dl.dist2_double("v.v", "m.mv", td.EMB_DIM, D)
    return f"""
    WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    s AS (
        SELECT CAST(r.range AS INT) AS pos,
               SUM({em.scaled_long_expr(val)}) AS s, COUNT(*) AS n
        FROM v CROSS JOIN range(0, {td.EMB_DIM}) r
        GROUP BY pos
    ),
    m AS (
        SELECT list(mm ORDER BY pos) AS mv FROM (
            SELECT pos, {em.mean_expr("s", "n")} AS mm FROM s) t
    ),
    dist AS (
        SELECT v.id,
               CAST(floor(({d2}) * 1000000.0 + 0.5) AS BIGINT)
                   AS dist2_micro
        FROM v CROSS JOIN m
    ),
    st AS (SELECT SUM(dist2_micro) AS s2, COUNT(*) AS n2 FROM dist)
    SELECT d.id AS vec_id, d.dist2_micro,
           (d.dist2_micro * 2 * st.n2 > 3 * st.s2) AS outlier
    FROM dist d CROSS JOIN st
    ORDER BY vec_id
    """


def _lsh_sql() -> str:
    dot = dl.dot_double("e.embedding", "p.pv", dl.size("e.embedding", D), D)
    cos = dl.cosine_double("q.qv", "bv.v", dl.size("q.qv", D), D)
    return f"""
    WITH planes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS bit,
               embedding AS pv
        FROM embeddings WHERE vec_id BETWEEN {td.PLANE_LO} AND {td.PLANE_HI}
    ),
    buckets AS (
        SELECT e.vec_id AS id,
               CAST(SUM(CASE WHEN {dot} > 0
                        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    bv AS (SELECT b.id, b.bucket, e.embedding AS v
           FROM buckets b JOIN embeddings e ON b.id = e.vec_id),
    q AS (SELECT id AS query_id, bucket, v AS qv FROM bv
          WHERE id < {td.N_QUERY_VECS}),
    scored AS (
        SELECT q.query_id, bv.id AS neighbor_id, {cos} AS cos
        FROM bv JOIN q ON bv.bucket = q.bucket AND bv.id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    ) t WHERE rnk <= {td.TOPK_LSH}
    ORDER BY query_id, rnk
    """


def _ivf_sql() -> str:
    d2 = dl.dist2_double("e.embedding", "c.cv", dl.size("e.embedding", D), D)
    cos = dl.cosine_double("cd.qv", "cd.v", dl.size("cd.qv", D), D)
    return f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id BETWEEN {td.CENTROID_LO} AND {td.CENTROID_HI}
    ),
    scored AS (
        SELECT e.vec_id AS id, e.embedding AS v, c.cid, {d2} AS d2
        FROM embeddings e CROSS JOIN cents c
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
        FROM scored
    ),
    assigned AS (SELECT id, v, cid AS list_id FROM ranked WHERE rn = 1),
    probes AS (
        SELECT id AS query_id, v AS qv, cid AS list_id FROM ranked
        WHERE rn <= {td.IVF_NPROBE} AND id < {td.N_QUERY_VECS}
    ),
    cand AS (
        SELECT q.query_id, q.qv, a.id, a.v
        FROM assigned a JOIN probes q ON a.list_id = q.list_id
        WHERE a.id <> q.query_id
    ),
    sc AS (SELECT query_id, id AS neighbor_id, {cos} AS cos FROM cand cd)
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM sc
    ) t WHERE rnk <= {td.TOPK_IVF}
    ORDER BY query_id, rnk
    """


def _contamination_sql() -> str:
    mod = td.CONTAM_BENCH_MOD
    return f"""
    WITH {_W_CTE},
    sh AS (SELECT id, {_shingles(td.CONTAM_N)} AS sh FROM w),
    rows AS (
        SELECT DISTINCT id, {dl.hash60('s', D)} AS h
        FROM (SELECT id, unnest(sh) AS s FROM sh) t
    ),
    bench AS (SELECT DISTINCT h FROM rows WHERE id % {mod} = 0),
    perdoc AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_ngrams
        FROM rows GROUP BY id
    ),
    hits AS (
        SELECT r.id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM rows r JOIN bench b ON r.h = b.h
        GROUP BY r.id
    )
    SELECT d.doc_id,
           COALESCE(p.n_ngrams, 0) AS n_ngrams,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           CASE WHEN COALESCE(p.n_ngrams, 0) > 0
                THEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                     / CAST(p.n_ngrams AS DOUBLE)
                ELSE 0.0 END AS contamination,
           (CASE WHEN COALESCE(p.n_ngrams, 0) > 0
                 THEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                      / CAST(p.n_ngrams AS DOUBLE)
                 ELSE 0.0 END) >= {td.CONTAM_THRESHOLD} AS is_contaminated
    FROM documents d
    LEFT JOIN perdoc p ON d.doc_id = p.id
    LEFT JOIN hits h ON d.doc_id = h.id
    WHERE d.doc_id % {mod} <> 0
    ORDER BY d.doc_id
    """


def _sample_sql() -> str:
    gate = cu.sample_gate_expr(
        "doc_id", "lang", td.SAMPLE_RATES_BPS, td.SAMPLE_DEFAULT_BPS, D
    )
    return (
        f"SELECT doc_id, lang, source FROM documents WHERE {gate} "
        "ORDER BY doc_id"
    )


def _pack_sql() -> str:
    n_tok = f"CAST({dl.size(dl.words('text', D), D)} AS BIGINT)"
    b = td.PACK_BUDGET
    return f"""
    WITH base AS (
        SELECT doc_id AS id, lang, source, {n_tok} AS n_tokens FROM documents
    ),
    cum AS (
        SELECT id, lang, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
        FROM base
    )
    SELECT id AS doc_id, lang, source, n_tokens, tok_offset,
           CAST(floor(tok_offset / {b}) AS BIGINT) AS seq_id,
           CAST(tok_offset % {b} AS BIGINT) AS seq_off
    FROM cum ORDER BY doc_id
    """


def _tfidf_sql() -> str:
    terms = td.TFIDF_TERMS
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    # Rational idf, not ln(): transcendentals are implementation-defined
    # (JVM vs libm differ by 1 ulp); + - * / are IEEE-exact everywhere.
    score = " + ".join(
        f"(CAST(COALESCE(tf.tf{i}, 0) AS DOUBLE)"
        f" * ((CAST(nd.n_docs - dfr.df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(dfr.df{i} AS DOUBLE) + 0.5)))"
        for i in range(len(terms))
    )
    tf_out = ", ".join(
        f"COALESCE(tf.tf{i}, 0) AS tf{i}" for i in range(len(terms))
    )
    return f"""
    WITH {_W_CTE},
    tok AS (
        SELECT id, t FROM (SELECT id, unnest(w) AS t FROM w) u
        WHERE t IN ({in_list})
    ),
    tf AS (SELECT id, {tf_cols} FROM tok GROUP BY id),
    dfr AS (SELECT {df_cols} FROM (SELECT DISTINCT id, t FROM tok) u),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT d.doc_id, {tf_out}, ({score}) AS tfidf
    FROM documents d
    LEFT JOIN tf ON d.doc_id = tf.id
    CROSS JOIN dfr CROSS JOIN nd
    ORDER BY tfidf DESC, d.doc_id LIMIT {td.TFIDF_TOPK}
    """


def _emb_normalize_sql() -> str:
    """One row per vector (vec_id, nrm, unit_md5) — same per-element
    divide as operators/embeddings.l2_normalize, folded to an in-engine
    md5 over the micro-quantized (floor(x*1e6), IEEE-identical) unit
    elements; the exploded-rows form this replaced made result
    collection the dominant measured cost."""
    norm = f"sqrt({dl.norm2_double('v', dl.size('v', D), D)})"
    unit = dl.transform(
        "v",
        "x -> CASE WHEN nrm = 0.0 THEN 0.0"
        " ELSE CAST(x AS DOUBLE) / nrm END",
        D,
    )
    digest = "md5(" + dl.arr_join(
        dl.transform(
            unit,
            "u -> CAST(CAST(floor(u * 1000000.0) AS BIGINT) AS VARCHAR)",
            D,
        ),
        ",",
        D,
    ) + ")"
    return f"""
    WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    n AS (SELECT id, v, {norm} AS nrm FROM v)
    SELECT id AS vec_id, nrm, {digest} AS unit_md5
    FROM n ORDER BY vec_id
    """


def _emb_quantize_sql() -> str:
    """One row per vector (vec_id, maxabs, q_md5) — same half-up
    quantization as operators/embeddings.quantize_int8, int8 codes
    folded to an in-engine md5 (see _emb_normalize_sql)."""
    maxabs = dl.arr_max(
        dl.transform("v", "x -> abs(CAST(x AS DOUBLE))", D), D
    )
    q = dl.transform(
        "v",
        "x -> CASE WHEN maxabs = 0.0 THEN 0 ELSE"
        " CAST(floor(((CAST(x AS DOUBLE) * 127.0) / maxabs) + 0.5)"
        " AS INT) END",
        D,
    )
    digest = "md5(" + dl.arr_join(
        dl.transform(q, "c -> CAST(c AS VARCHAR)", D), ",", D
    ) + ")"
    return f"""
    WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    m AS (SELECT id, v, {maxabs} AS maxabs FROM v)
    SELECT id AS vec_id, maxabs, {digest} AS q_md5
    FROM m ORDER BY vec_id
    """


def _kmeans_chain(seed_where: str | None = None) -> tuple[list[str], str]:
    """Lloyd unrolled to KMEANS_ITERS as a CTE chain — the same broadcast-
    assign / exact-scaled-mean steps as operators/embeddings.py. Returns
    (ctes, final_assignment_cte) where the final CTE carries
    (id, v, cluster_id, d2); consumed by _emb_kmeans_sql and
    _semdedup_sql. `seed_where` overrides the seed-selection predicate
    (default: the fixed vec_id < KMEANS_K; the auto-k SemDeDup variant
    passes a corpus-size-derived bound via a scalar subquery)."""
    import pipegen_spark.operators.embeddings as em

    d2 = dl.dist2_double("v.v", "c.cv", dl.size("v.v", D), D)
    val = dl.elem("v", "(CAST(r.range AS INT) + 1)", D)
    seed_where = seed_where or f"vec_id < {td.KMEANS_K}"
    ctes = [
        "v AS (SELECT vec_id AS id, embedding AS v FROM embeddings)",
        f"""c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE {seed_where})""",
    ]
    for it in range(td.KMEANS_ITERS):
        ctes.append(f"""a{it} AS (
        SELECT id, v, cid AS cluster_id, d2 FROM (
            SELECT v.id, v.v, c.cid, {d2} AS d2,
                   ROW_NUMBER() OVER (PARTITION BY v.id
                                      ORDER BY {d2}, c.cid) AS rn
            FROM v CROSS JOIN c{it} c
        ) t WHERE rn = 1
    )""")
        if it == td.KMEANS_ITERS - 1:
            break
        ctes.append(f"""s{it + 1} AS (
        SELECT cluster_id, CAST(r.range AS INT) AS pos,
               SUM({em.scaled_long_expr(val)}) AS s,
               COUNT(*) AS n
        FROM a{it} CROSS JOIN range(0, {td.EMB_DIM}) r
        GROUP BY cluster_id, pos
    )""")
        ctes.append(f"""c{it + 1} AS (
        SELECT cluster_id AS cid, list(m ORDER BY pos) AS cv FROM (
            SELECT cluster_id, pos, {em.mean_expr('s', 'n')} AS m FROM s{it + 1}
        ) t GROUP BY cluster_id
    )""")
    return ctes, f"a{td.KMEANS_ITERS - 1}"


def _emb_kmeans_sql() -> str:
    ctes, last = _kmeans_chain()
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT id AS vec_id, cluster_id, d2 FROM {last}"
        " ORDER BY vec_id\n    "
    )


def _jl_sql() -> str:
    """Mirror of embeddings.jl_project — the identical literal-sign
    chains (generated from the same jl_signs matrix) in DuckDB text."""
    import pipegen_spark.operators.embeddings as em

    signs = em.jl_signs(td.EMB_DIM, em.JL_OUT_DIM)
    scale = f"sqrt(CAST({em.JL_OUT_DIM} AS DOUBLE))"
    cols = ",\n           ".join(
        f"CAST(floor((({em.jl_sum_expr('embedding', row, D)}) / {scale})"
        f" * 1000000.0 + 0.5) AS BIGINT) AS p{j}"
        for j, row in enumerate(signs)
    )
    return f"""
    SELECT vec_id,
           {cols}
    FROM embeddings ORDER BY vec_id
    """


def _cluster_sample_sql() -> str:
    """Mirror of embeddings.cluster_balanced_sample: the shared kmeans
    chain, a k-row per-cluster count, and the salted hash gate."""
    import pipegen_spark.operators.embeddings as em

    ctes, last = _kmeans_chain()
    ctes.append(f"""cnt AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cluster
        FROM {last} GROUP BY cluster_id
    )""")
    cap_ppm = dl.idiv(f"{em.CBAL_CAP} * 1000000", "cnt.n_cluster", D)
    rate = f"LEAST(1000000, {cap_ppm})"
    gate = dl.hash60(f"(CAST(t.id AS STRING) || '{em.CBAL_SALT}')", D)
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT t.id AS vec_id, t.cluster_id, cnt.n_cluster,
           CAST({rate} AS BIGINT) AS rate_ppm,
           (({gate}) % 1000000) < ({rate}) AS keep
    FROM {last} t JOIN cnt ON t.cluster_id = cnt.cluster_id
    ORDER BY vec_id
    """
    )


def _semdedup_sql(auto_k: bool = False) -> str:
    """SemDeDup: the kmeans assignment chain, then within-cluster cosine
    pruning (pairs meet through the cluster_id equi-join only). With
    `auto_k`, k derives from the corpus size (k = max(KMEANS_K,
    ceil(n / SEMDEDUP_TARGET_CLUSTER)) — the scale-safe form measured in
    bench_history/scale_sf1.json: fixed k made the pair join ~x15 on a
    x10 corpus; size-proportional k keeps expected cluster size, and so
    pair volume PER ROW, constant)."""
    if auto_k:
        kdef = (
            f"kdef AS (SELECT GREATEST(CAST({td.KMEANS_K} AS BIGINT), "
            f"CAST((COUNT(*) + {td.SEMDEDUP_TARGET_CLUSTER} - 1)"
            f" // {td.SEMDEDUP_TARGET_CLUSTER} AS BIGINT)) AS k"
            " FROM embeddings)"
        )
        ctes, last = _kmeans_chain("vec_id < (SELECT k FROM kdef)")
        ctes.insert(0, kdef)
    else:
        ctes, last = _kmeans_chain()
    cos = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    ctes.append(f"""pairs AS (
        SELECT b.id AS id, COUNT(*) AS n
        FROM {last} a JOIN {last} b
          ON a.cluster_id = b.cluster_id AND a.id < b.id
        WHERE ({cos}) >= {td.EMB_DUP_THRESHOLD}
        GROUP BY b.id
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT t.id AS vec_id, t.cluster_id,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_sem_dups,
           (COALESCE(p.n, 0) > 0) AS is_semantic_dup
    FROM {last} t LEFT JOIN pairs p ON t.id = p.id
    ORDER BY vec_id
    """
    )


def _semdedup_ivf_sql(trained: bool = False) -> str:
    """Mirror of embeddings.semantic_dedup_ivf: the auto-k fine sample,
    the fixed coarse CENTROID block, both (d2, id)-total-ordered
    argmins (vector→cell, fine→cell, then vector→fine WITHIN its
    cell), the -(cell+1) empty-cell fallback label, and the identical
    within-cluster keep-first pair pass. With `trained`, the fine
    centroids are the shared unrolled-Lloyd chain's final c{{i}} frame
    (kmeans_centroids' output) instead of the raw sample rows — the
    trained-quantizer composition dedup_semantic_ivf_trained gates."""
    d2vc = dl.dist2_double("v.embedding", "c.ccv", td.EMB_DIM, D)
    d2fc = dl.dist2_double("f.fv", "c.ccv", td.EMB_DIM, D)
    d2vf = dl.dist2_double("vc.v", "fc.fv", td.EMB_DIM, D)
    cos = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    if trained:
        kctes, _ = _kmeans_chain("vec_id < (SELECT k FROM kdef)")
        kctes = kctes[:-1]  # final assignment CTE unused for training
        lloyd = ",\n    ".join(kctes)
        fine = f"""{lloyd},
    fine AS (
        SELECT cid AS fid, cv AS fv FROM c{td.KMEANS_ITERS - 1}
    )"""
    else:
        fine = f"""fine AS (
        SELECT vec_id AS fid, embedding AS fv FROM embeddings
        WHERE vec_id < (SELECT k FROM kdef)
    )"""
    return f"""
    WITH kdef AS (SELECT GREATEST(CAST({td.KMEANS_K} AS BIGINT),
        CAST((COUNT(*) + {td.SEMDEDUP_TARGET_CLUSTER} - 1)
         // {td.SEMDEDUP_TARGET_CLUSTER} AS BIGINT)) AS k
        FROM embeddings),
    coarse AS (
        SELECT vec_id AS ccid, embedding AS ccv FROM embeddings
        WHERE vec_id BETWEEN {td.CENTROID_LO} AND {td.CENTROID_HI}
    ),
    {fine},
    vc AS MATERIALIZED (
        SELECT id, v, cell FROM (
            SELECT v.vec_id AS id, v.embedding AS v, c.ccid AS cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {d2vc}, c.ccid
                   ) AS rn
            FROM embeddings v CROSS JOIN coarse c
        ) t WHERE rn = 1
    ),
    fc AS MATERIALIZED (
        SELECT fid, fv, cell FROM (
            SELECT f.fid, f.fv, c.ccid AS cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.fid
                       ORDER BY {d2fc}, c.ccid
                   ) AS rn
            FROM fine f CROSS JOIN coarse c
        ) t WHERE rn = 1
    ),
    matched AS (
        SELECT id, fine_id FROM (
            SELECT vc.id, fc.fid AS fine_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY vc.id
                       ORDER BY {d2vf}, fc.fid
                   ) AS rn
            FROM vc JOIN fc ON vc.cell = fc.cell
        ) t WHERE rn = 1
    ),
    lab AS MATERIALIZED (
        SELECT vc.id, vc.v,
               CAST(COALESCE(m.fine_id, -(vc.cell + 1)) AS BIGINT)
                   AS cluster_id
        FROM vc LEFT JOIN matched m ON vc.id = m.id
    ),
    pairs AS (
        SELECT b.id AS id, COUNT(*) AS n
        FROM lab a JOIN lab b
          ON a.cluster_id = b.cluster_id AND a.id < b.id
        WHERE ({cos}) >= {td.EMB_DUP_THRESHOLD}
        GROUP BY b.id
    )
    SELECT t.id AS vec_id, t.cluster_id,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_sem_dups,
           (COALESCE(p.n, 0) > 0) AS is_semantic_dup
    FROM lab t LEFT JOIN pairs p ON t.id = p.id
    ORDER BY vec_id
    """


def _bm25_chain() -> str:
    """Shared CTE chain ending at `joined` (per-doc tf/df/dlen + corpus
    stats, score-ready): consumed by _bm25_sql and _hybrid_sql."""
    terms = td.TFIDF_TERMS
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    tf_out = ", ".join(
        f"COALESCE(tf.tf{i}, 0) AS tf{i}" for i in range(len(terms))
    )
    # Pre-coalesce tf{i}/df{i} into plain columns so the shared score text
    # (bm25_score_expr) resolves identically on both engines.
    return f"""{_W_CTE},
    tok AS (
        SELECT id, t FROM (SELECT id, unnest(w) AS t FROM w) u
        WHERE t IN ({in_list})
    ),
    tfr AS (SELECT id, {tf_cols} FROM tok GROUP BY id),
    dfr AS (SELECT {df_cols} FROM (SELECT DISTINCT id, t FROM tok) u),
    lens AS (SELECT id, CAST({dl.size('w', D)} AS BIGINT) AS dlen FROM w),
    gstats AS (
        SELECT CAST(SUM(dlen) AS BIGINT) AS sum_dlen,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM lens
    ),
    joined AS (
        SELECT l.id AS doc_id, l.dlen, {tf_out},
               dfr.*, gstats.sum_dlen, gstats.n_docs
        FROM lens l
        LEFT JOIN tfr tf ON l.id = tf.id
        CROSS JOIN dfr CROSS JOIN gstats
    )"""


def _bm25_sql() -> str:
    terms = td.TFIDF_TERMS
    return f"""
    WITH {_bm25_chain()}
    SELECT doc_id, dlen, {", ".join(f"tf{i}" for i in range(len(terms)))},
           {tx.bm25_score_expr(len(terms))} AS bm25
    FROM joined
    ORDER BY bm25 DESC, doc_id LIMIT {td.TFIDF_TOPK}
    """


def _hybrid_sql() -> str:
    """Mirror of queries/training_data.simsearch_hybrid: BM25 ranks +
    dense cosine ranks fused by the shared rrf_expr text."""
    from pipegen_spark.operators import similarity as sim_ops

    cos = dl.cosine_double("embedding", "qv", td.EMB_DIM, D)
    return f"""
    WITH {_bm25_chain()},
    scored AS (
        SELECT doc_id, {tx.bm25_score_expr(len(td.TFIDF_TERMS))} AS bm25
        FROM joined
    ),
    qv AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {td.HYBRID_QUERY_VEC}),
    dense AS (
        SELECT vec_id AS doc_id, {cos} AS cos
        FROM embeddings CROSS JOIN qv
    ),
    lexr AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS r_lex
        FROM scored
    ),
    denser AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
                    AS BIGINT) AS r_dense
        FROM dense
    )
    SELECT l.doc_id, l.r_lex, d.r_dense,
           {sim_ops.rrf_expr(td.RRF_K)} AS rrf
    FROM lexr l JOIN denser d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, l.doc_id LIMIT {td.HYBRID_TOPK}
    """


def _repetition_sql() -> str:
    exprs = cu.repetition_exprs("text", D, w="w")
    cols = ", ".join(f"{e} AS {n}" for n, e in exprs.items())
    return (
        f"WITH {_W_CTE} SELECT id AS doc_id, {cols} FROM w ORDER BY doc_id"
    )


def _redact_sql() -> str:
    exprs = cu.redact_exprs("text", D)
    cols = ", ".join(
        f"{exprs[f'n_{name}']} AS n_{name}" for name in cu.PII_PATTERNS
    )
    return (
        f"SELECT doc_id, {cols}, md5({exprs['redacted']}) AS redacted_md5 "
        "FROM documents ORDER BY doc_id"
    )


def _proj_sql(exprs: dict[str, str]) -> str:
    cols = ", ".join(f"{e} AS {n}" for n, e in exprs.items())
    return f"SELECT doc_id, {cols} FROM documents ORDER BY doc_id"


def _prefix_sql() -> str:
    w = dl.words("text", D)
    prefix = dl.arr_join(dl.slice_(w, 1, td.PREFIX_K, D), " ", D)
    return f"""
    SELECT doc_id, prefix_hash, is_prefix_dup, n_same_prefix FROM (
        SELECT doc_id,
               md5({prefix}) AS prefix_hash,
               ROW_NUMBER() OVER (PARTITION BY md5({prefix})
                                  ORDER BY doc_id) > 1 AS is_prefix_dup,
               CAST(COUNT(*) OVER (PARTITION BY md5({prefix})) AS BIGINT)
                   AS n_same_prefix
        FROM documents
    ) t ORDER BY doc_id
    """


def _vocab_sql() -> str:
    return f"""
    WITH {_W_CTE},
    tok AS (SELECT id, unnest(w) AS t FROM w)
    SELECT t AS token,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS df
    FROM tok GROUP BY t
    ORDER BY tf DESC, token LIMIT {td.VOCAB_TOPK}
    """


def _chunk_sql() -> str:
    step = td.CHUNK_SIZE - td.CHUNK_OVERLAP
    n_chunks = (
        "greatest(CAST(ceil(CAST(length(text) AS DOUBLE) "
        f"/ {step}.0) AS BIGINT), 1)"
    )
    chunk = f"substr(text, CAST(chunk_id * {step} + 1 AS INT), {td.CHUNK_SIZE})"
    return f"""
    WITH c AS (
        SELECT doc_id, text,
               unnest(range(0, {n_chunks})) AS chunk_id
        FROM documents
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {step} + 1 AS BIGINT) AS chunk_start,
           CAST(length({chunk}) AS BIGINT) AS n_chunk_chars,
           md5({chunk}) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_id
    """


def _normalize_sql() -> str:
    ne = tx.normalize_exprs("text", D)
    norm = ne["norm_text"]
    return f"""
    SELECT doc_id,
           {ne['n_norm_chars']} AS n_norm_chars,
           md5({norm}) AS norm_md5,
           substr({norm}, 1, 40) AS norm_head
    FROM documents ORDER BY doc_id
    """


def _mix_sql() -> str:
    n_tok = f"CAST({dl.size(dl.words('text', D), D)} AS BIGINT)"
    return f"""
    WITH base AS (SELECT lang, source, {n_tok} AS nt FROM documents),
    g AS (
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM base GROUP BY lang, source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM g)
    SELECT lang, source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share
    FROM g CROSS JOIN t ORDER BY lang, source
    """


def _winnow_sql() -> str:
    k, w = tx.WINNOW_K, tx.WINNOW_W
    w40, poscap = (1 << 40), (1 << 20)
    words = dl.words("text", D)
    gram = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {j}) OVER wd" for j in range(1, k)]
    )
    h40 = f"({dl.hash60('gram', D)} % {w40})"
    return f"""
    WITH warr AS (SELECT doc_id AS id, {words} AS wa FROM documents),
    tok AS (
        SELECT id, unnest(wa) AS tok,
               unnest(range(1, len(wa) + 1)) AS pos
        FROM warr
    ),
    g AS (
        SELECT id, pos, {gram} AS gram,
               COUNT(*) OVER (PARTITION BY id) AS n_tok
        FROM tok WINDOW wd AS (PARTITION BY id ORDER BY pos)
    ),
    keyed AS (
        SELECT id, pos,
               ({w40 - 1} - {h40}) * {poscap} + pos AS key,
               n_tok - {k - 1} AS n_gram
        FROM g WHERE pos <= n_tok - {k - 1}
    ),
    sel AS (
        SELECT id, pos, n_gram,
               MAX(key) OVER (PARTITION BY id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {w - 1} FOLLOWING) AS selkey
        FROM keyed
    ),
    fp AS (
        SELECT DISTINCT id, selkey FROM sel
        WHERE pos <= GREATEST(1, n_gram - {w - 1})
    ),
    fph AS (
        SELECT id, {w40 - 1} - (selkey // {poscap}) AS fp_hash FROM fp
    )
    SELECT id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(fp_hash) AS BIGINT) AS fp_checksum,
           CAST(MIN(fp_hash) AS BIGINT) AS fp_min,
           CAST(MAX(fp_hash) AS BIGINT) AS fp_max
    FROM fph GROUP BY id ORDER BY doc_id
    """


def _recall_sql() -> str:
    k = td.TOPK_LSH
    dot = dl.dot_double("e.embedding", "p.pv", dl.size("e.embedding", D), D)
    cos_b = dl.cosine_double("q.qv", "e.embedding", dl.size("q.qv", D), D)
    cos_l = dl.cosine_double("q.qv", "bv.v", dl.size("q.qv", D), D)
    return f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id < {td.N_QUERY_VECS}),
    scored_b AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {cos_b} AS cos
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id
    ),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rnk
            FROM scored_b
        ) t WHERE rnk <= {k}
    ),
    planes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS bit,
               embedding AS pv
        FROM embeddings
        WHERE vec_id BETWEEN {td.RECALL_PLANE_LO} AND {td.RECALL_PLANE_HI}
    ),
    buckets AS (
        SELECT e.vec_id AS id,
               CAST(SUM(CASE WHEN {dot} > 0
                        THEN (CAST(1 AS BIGINT) << p.bit)
                        ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    bv AS (SELECT b.id, b.bucket, e.embedding AS v
           FROM buckets b JOIN embeddings e ON b.id = e.vec_id),
    q2 AS (SELECT id AS query_id, bucket, v AS qv FROM bv
           WHERE id < {td.N_QUERY_VECS}),
    scored_l AS (
        SELECT q.query_id, bv.id AS neighbor_id, {cos_l} AS cos
        FROM bv JOIN q2 q ON bv.bucket = q.bucket AND bv.id <> q.query_id
    ),
    lshk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                          AS rnk
            FROM scored_l
        ) t WHERE rnk <= {k}
    )
    SELECT b.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS recall_at_k
    FROM brute b LEFT JOIN lshk l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
    """


def _span_sql() -> str:
    n = dd.SPAN_N
    # Occurrence (NON-distinct) spans: `_shingles`/word_shingles dedups
    # per doc by design (right for Jaccard sets, wrong for counting), so
    # the span list is built inline here.
    body = " || ' ' || ".join(
        dl.elem("w", f"(i+{j})" if j else "i", D) for j in range(n)
    )
    idx = dl.seq("1", f"{dl.size('w', D)}-{n - 1}", D)
    occ_spans = dl.transform(idx, f"i -> {body}", D)
    return f"""
    WITH {_W_CTE},
    occ AS (
        SELECT id, unnest({occ_spans}) AS s FROM w
        WHERE {dl.size('w', D)} >= {n}
    ),
    per AS (
        SELECT {dl.hash60('s', D)} AS h, id, COUNT(*) AS c
        FROM occ GROUP BY 1, 2
    ),
    tagged AS (
        SELECT id, c, (COUNT(*) OVER (PARTITION BY h)) >= 2 AS dup
        FROM per
    )
    SELECT id AS doc_id,
           CAST(SUM(c) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN dup THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST(COUNT(*) AS BIGINT) AS n_unique_spans,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_unique,
           CAST(SUM(CASE WHEN dup THEN c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE) AS dup_ratio
    FROM tagged GROUP BY id ORDER BY doc_id
    """


def _substring_sql() -> str:
    """Mirror of operators/dedup.span_dedup_text: same span strings
    (element-joined, non-distinct), same 60-bit fingerprints, same
    (doc_id, pos)->BIGINT canonical key, same token-coverage filter."""
    n = dd.SPAN_N
    body = " || ' ' || ".join(
        dl.elem("w", f"(i+{j})" if j else "i", D) for j in range(n)
    )
    idx = dl.seq("1", f"{dl.size('w', D)}-{n - 1}", D)
    occ_spans = dl.transform(idx, f"i -> {body}", D)
    tok_idx = dl.seq("1", dl.size("toks", D), D)
    covered = dl.filter_(
        "COALESCE(d.ds, [])", f"s -> s <= p AND p <= s + {n - 1}", D
    )
    kept = dl.filter_(
        dl.transform(
            tok_idx,
            f"p -> CASE WHEN {dl.size(covered, D)} = 0 "
            f"THEN {dl.elem('toks', 'p', D)} END",
            D,
        ),
        "x -> x IS NOT NULL",
        D,
    )
    return f"""
    WITH {_W_CTE},
    base AS (SELECT id, w AS toks FROM w),
    occ AS (
        SELECT id, unnest({occ_spans}) AS s, unnest({idx}) AS pos
        FROM w WHERE {dl.size('w', D)} >= {n}
    ),
    hocc AS (SELECT id, pos, {dl.hash60('s', D)} AS h FROM occ),
    tagged AS (
        SELECT id, pos,
               COUNT(*) OVER (PARTITION BY h) AS cnt,
               MIN(id * 4294967296 + pos) OVER (PARTITION BY h) AS mk,
               id * 4294967296 + pos AS k
        FROM hocc
    ),
    dropped AS (
        SELECT id, list_sort(list(pos)) AS ds FROM tagged
        WHERE cnt >= 2 AND k <> mk GROUP BY id
    ),
    fin AS (
        SELECT b.id, b.toks, {kept} AS kept
        FROM base b LEFT JOIN dropped d ON b.id = d.id
    )
    SELECT id AS doc_id,
           CAST({dl.size('toks', D)} AS BIGINT) AS n_tokens,
           CAST({dl.size('kept', D)} AS BIGINT) AS n_kept,
           {dl.arr_join('kept', ' ', D)} AS dedup_text
    FROM fin ORDER BY doc_id
    """


def _top_direction_sql() -> str:
    """Mirror of embeddings.top_direction: the _gram_sql quantization
    (full symmetric matrix via the mirrored upper triangle), then
    POWER_ROUNDS matvec/renormalize CTE pairs with the same
    divide-by-(max DIV scale) integer rule."""
    from pipegen_spark.operators import embeddings as em

    s_ = 1 << em.GRAM_SCALE_BITS
    dim = td.EMB_DIM
    scale = em.POWER_SCALE
    ctes = [
        f"""q AS (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {s_}.0 + 0.5)
                        AS BIGINT)) AS q
        FROM embeddings
    )""",
        f"""gup AS (
        SELECT i, j, CAST(SUM((q[i]) * (q[j])) AS BIGINT) AS gram
        FROM q,
             UNNEST(range(1, {dim + 1})) AS t(i),
             UNNEST(range(1, {dim + 1})) AS u(j)
        WHERE j >= i
        GROUP BY i, j
    )""",
        """gfull AS MATERIALIZED (
        SELECT i, j, gram FROM gup
        UNION ALL
        SELECT j AS i, i AS j, gram FROM gup WHERE i <> j
    )""",
        f"""v0 AS (
        SELECT CAST(r.range AS BIGINT) AS k,
               CAST({scale} AS BIGINT) AS v
        FROM range(1, {dim + 1}) r
    )""",
    ]
    for t in range(1, em.POWER_ROUNDS + 1):
        ctes.append(f"""u{t} AS MATERIALIZED (
        SELECT g.i, CAST(SUM(g.gram * v.v) AS BIGINT) AS u
        FROM gfull g JOIN v{t - 1} v ON g.j = v.k
        GROUP BY g.i
    )""")
        ctes.append(f"""m{t} AS (
        SELECT CAST(MAX(ABS(u)) AS BIGINT) AS m FROM u{t}
    )""")
        ctes.append(f"""v{t} AS MATERIALIZED (
        SELECT i AS k,
               CAST(u // GREATEST(m // {scale}, CAST(1 AS BIGINT))
                    AS BIGINT) AS v
        FROM u{t} CROSS JOIN m{t}
    )""")
    joined = ",\n    ".join(ctes)
    last = em.POWER_ROUNDS
    return f"""
    WITH {joined}
    SELECT k AS dim_idx, v AS comp, m AS gnorm
    FROM v{last} CROSS JOIN m{last}
    ORDER BY dim_idx
    """


def _gram_sql() -> str:
    """Mirror of operators/embeddings.gram_matrix: same per-coordinate
    fixed-point quantization, integer sums, upper triangle."""
    from pipegen_spark.operators import embeddings as em

    s = 1 << em.GRAM_SCALE_BITS
    dim = td.EMB_DIM
    return f"""
    WITH q AS (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {s}.0 + 0.5)
                        AS BIGINT)) AS q
        FROM embeddings
    ),
    terms AS (
        SELECT i, j, (q[i]) * (q[j]) AS v
        FROM q,
             UNNEST(range(1, {dim + 1})) AS t(i),
             UNNEST(range(1, {dim + 1})) AS u(j)
        WHERE j >= i
    )
    SELECT i AS dim_i, j AS dim_j,
           CAST(SUM(v) AS BIGINT) AS gram,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM terms GROUP BY i, j ORDER BY dim_i, dim_j
    """


def _rarity_sql() -> str:
    """Mirror of operators/text.rarity_scores (max_freq from
    td.RARITY_MAX_FREQ)."""
    return f"""
    WITH {_W_CTE},
    tok AS (SELECT id, unnest(w) AS t FROM w),
    freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY t),
    per AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN f <= {td.RARITY_MAX_FREQ} THEN 1 ELSE 0
                        END) AS BIGINT) AS n_rare
        FROM tok JOIN freq USING (t) GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_rare, 0) AS BIGINT) AS n_rare,
           CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(p.n_rare, 0) AS DOUBLE)
                     / CAST(p.n_tokens AS DOUBLE) END AS rare_ratio
    FROM documents d LEFT JOIN per p ON d.doc_id = p.id
    ORDER BY d.doc_id
    """


def _budget_sql() -> str:
    """Mirror of operators/curation.mixture_sample (budget_fraction 0.5
    over (lang, source) streams)."""
    rate = (
        "LEAST(1.0, (CAST(total_tokens AS DOUBLE) * 0.5"
        " / CAST(n_streams AS DOUBLE)) / CAST(stream_tokens AS DOUBLE))"
    )
    return f"""
    WITH base AS (
        SELECT doc_id AS id, lang, source,
               CAST({dl.size(dl.words('text', D), D)} AS BIGINT)
                   AS doc_tokens
        FROM documents
    ),
    grouped AS (
        SELECT lang, source, CAST(SUM(doc_tokens) AS BIGINT)
                   AS stream_tokens
        FROM base GROUP BY lang, source
    ),
    totals AS (
        SELECT CAST(SUM(stream_tokens) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_streams
        FROM grouped
    ),
    keyed AS (
        SELECT b.id, b.lang, b.source, b.doc_tokens,
               {rate} AS rate,
               {dl.hash_m31('CAST(id AS STRING)', D)} AS h
        FROM base b
        JOIN grouped g ON b.lang = g.lang AND b.source = g.source
        CROSS JOIN totals
    )
    SELECT id AS doc_id, lang, source, doc_tokens, rate,
           h < CAST(floor(rate * 2147483647.0) AS BIGINT) AS keep
    FROM keyed ORDER BY doc_id
    """


def _gopher_sql() -> str:
    # Needs BOTH the raw text (line/symbol rules) and the token array, so
    # it materializes its own CTE instead of reusing _W_CTE.
    exprs = cu.gopher_exprs("text", D, w="w", **td.GOPHER_TUNE)
    cols = ", ".join(f"{e} AS {n}" for n, e in exprs.items())
    cte = (
        "w AS (SELECT doc_id AS id, text, "
        + dl.words("text", D)
        + " AS w FROM documents)"
    )
    return f"WITH {cte} SELECT id AS doc_id, {cols} FROM w ORDER BY doc_id"


def _incremental_sql() -> str:
    toks = dl.words("text", D)
    prefix = dl.arr_join(dl.slice_(toks, 1, td.PREFIX_K, D), " ", D)
    is_new = dl.rlike("source", td.NEW_BATCH_PATTERN, D)
    return f"""
    WITH h AS (
        SELECT doc_id, source, md5(text) AS content_hash,
               md5({prefix}) AS prefix_hash
        FROM documents
    ),
    n AS (SELECT * FROM h WHERE {is_new}),
    re AS (SELECT DISTINCT content_hash, 1 AS _ex FROM h WHERE NOT {is_new}),
    rp AS (SELECT DISTINCT prefix_hash, 1 AS _pr FROM h WHERE NOT {is_new})
    SELECT n.doc_id, n.content_hash,
           (_ex IS NOT NULL) AS ref_exact_dup,
           (_pr IS NOT NULL) AS ref_prefix_dup
    FROM n
    LEFT JOIN re USING (content_hash)
    LEFT JOIN rp USING (prefix_hash)
    ORDER BY n.doc_id
    """


def _pq_codes_ctes() -> str:
    """Shared CTE chain mirroring embeddings.pq_encode, ending in
    `codes(id, pq_code, recon_err)`: per-(vector, codeword) integer
    sub-distances, per-subspace argmin by (dist, codeword index), packed
    3-bit code + residual sum."""
    from pipegen_spark.operators import embeddings as em

    sub_dim = td.EMB_DIM // td.PQ_M
    ds = ",\n               ".join(
        em.pq_subdist_expr("v", "cv", s, sub_dim, 15, D) + f" AS d{s}"
        for s in range(td.PQ_M)
    )
    unpivot = ", ".join(
        f"STRUCT_PACK(s := {s}, d := d{s})" for s in range(td.PQ_M)
    )
    return f"""c AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cidx,
               embedding AS cv
        FROM embeddings
        WHERE vec_id BETWEEN {td.PQ_CENT_LO} AND {td.PQ_CENT_HI}
    ),
    p AS (
        SELECT e.vec_id AS id, c.cidx,
               {ds}
        FROM (SELECT vec_id, embedding AS v FROM embeddings) e
        CROSS JOIN c
    ),
    u AS (
        SELECT id, cidx, x.s AS s, x.d AS d
        FROM p, UNNEST([{unpivot}]) AS t(x)
    ),
    best AS (
        SELECT id, s, cidx, d,
               row_number() OVER (PARTITION BY id, s ORDER BY d, cidx)
                   AS rn
        FROM u
    ),
    codes AS (
        SELECT id,
               CAST(SUM(cidx * (CAST(1 AS BIGINT) << (3 * s))) AS BIGINT)
                   AS pq_code,
               CAST(SUM(d) AS BIGINT) AS recon_err
        FROM best WHERE rn = 1
        GROUP BY id
    )"""


def _pq_sql() -> str:
    return f"""
    WITH {_pq_codes_ctes()}
    SELECT id AS vec_id, pq_code, recon_err
    FROM codes ORDER BY vec_id
    """


def _pq_adc_ctes() -> str:
    """Shared CTE chain (on top of _pq_codes_ctes) mirroring
    similarity.pq_adc_topk, ending in `adc_scored(query_id, neighbor_id,
    adc_dist)`: per-query LUT of integer sub-distances to every
    codeword, codes unpacked to (s, cidx) triples, ADC score = sum of
    the m LUT hits. Consumed by BOTH _pq_adc_sql and _pq_recall_sql so
    the recall measurement can never drift from the ranking it grades."""
    from pipegen_spark.operators import embeddings as em

    sub_dim = td.EMB_DIM // td.PQ_M
    lut_unpivot = ", ".join(
        "STRUCT_PACK(s := {s}, d := {d})".format(
            s=s, d=em.pq_subdist_expr("qv", "cv", s, sub_dim, 15, D)
        )
        for s in range(td.PQ_M)
    )
    return f"""{_pq_codes_ctes()},
    q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < {td.N_QUERY_VECS}
    ),
    lut AS (
        SELECT query_id, cidx, x.s AS s, x.d AS d
        FROM (SELECT * FROM q CROSS JOIN c),
             UNNEST([{lut_unpivot}]) AS t(x)
    ),
    ce AS (
        SELECT id AS neighbor_id, CAST(r.range AS INT) AS s,
               (pq_code >> (3 * CAST(r.range AS INT))) & 7 AS cidx
        FROM codes CROSS JOIN range(0,{td.PQ_M}) r
    ),
    adc_scored AS (
        SELECT query_id, neighbor_id, CAST(SUM(d) AS BIGINT) AS adc_dist
        FROM ce JOIN lut USING (s, cidx)
        WHERE neighbor_id <> query_id
        GROUP BY query_id, neighbor_id
    )"""


def _ivfpq_sql() -> str:
    """Mirror of similarity.ivfpq_topk (IVFADC): coarse assignment with
    (d2, cid) tie-break, residuals, residual codebook from the disjoint
    sample rows, per-subspace argmin encode, per-(query, probed-list)
    residual LUT, ADC sum, top-k. res/cb/ce/qp/lut are MATERIALIZED —
    each is referenced downstream more than once and the residual
    subtree is the expensive part."""
    from pipegen_spark.operators import embeddings as em

    sub_dim = td.EMB_DIM // td.PQ_M
    d2_vc = dl.dist2_double("v", "cv", td.EMB_DIM, D)
    d2_qc = dl.dist2_double("qv", "cv", td.EMB_DIM, D)
    rsub = dl.arr_sub("v", "cv", td.EMB_DIM, D)
    qsub = dl.arr_sub("qv", "cv", td.EMB_DIM, D)
    ds = ",\n               ".join(
        em.pq_subdist_expr("rv", "rcv", s, sub_dim, 15, D) + f" AS d{s}"
        for s in range(td.PQ_M)
    )
    lds = ",\n               ".join(
        em.pq_subdist_expr("qr", "rcv", s, sub_dim, 15, D) + f" AS d{s}"
        for s in range(td.PQ_M)
    )
    unpivot = ", ".join(
        f"STRUCT_PACK(s := {s}, d := d{s})" for s in range(td.PQ_M)
    )
    return f"""
    WITH cents AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id BETWEEN {td.CENTROID_LO} AND {td.CENTROID_HI}
    ),
    vv AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    asg AS MATERIALIZED (
        SELECT id, cid AS list_id FROM (
            SELECT vv.id, c.cid,
                   row_number() OVER (PARTITION BY vv.id
                                      ORDER BY {d2_vc}, c.cid) AS rn
            FROM vv CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    res AS MATERIALIZED (
        SELECT a.id, a.list_id, {rsub} AS rv
        FROM asg a
        JOIN vv ON vv.id = a.id
        JOIN cents c ON c.cid = a.list_id
    ),
    cb AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
                   AS cidx,
               rv AS rcv
        FROM res WHERE id BETWEEN {td.IVFPQ_CB_LO} AND {td.IVFPQ_CB_HI}
    ),
    p AS (
        SELECT r.id, r.list_id, cb.cidx,
               {ds}
        FROM res r CROSS JOIN cb
    ),
    u AS (
        SELECT id, list_id, cidx, x.s AS s, x.d AS d
        FROM p, UNNEST([{unpivot}]) AS t(x)
    ),
    ce AS MATERIALIZED (
        SELECT id AS neighbor_id, list_id, s, cidx FROM (
            SELECT id, list_id, s, cidx,
                   row_number() OVER (PARTITION BY id, s
                                      ORDER BY d, cidx) AS rn
            FROM u
        ) WHERE rn = 1
    ),
    qp AS MATERIALIZED (
        SELECT query_id, cid AS list_id, {qsub} AS qr FROM (
            SELECT q.id AS query_id, c.cid, c.cv, q.v AS qv,
                   row_number() OVER (PARTITION BY q.id
                                      ORDER BY {d2_qc}, c.cid) AS rn
            FROM (SELECT * FROM vv WHERE id < {td.N_QUERY_VECS}) q
            CROSS JOIN cents c
        ) WHERE rn <= {td.IVF_NPROBE}
    ),
    lut AS MATERIALIZED (
        SELECT query_id, list_id, cidx, x.s AS s, x.d AS d
        FROM (
            SELECT pr.query_id, pr.list_id, cb.cidx,
               {lds}
            FROM qp pr CROSS JOIN cb
        ), UNNEST([{unpivot}]) AS t(x)
    ),
    adc AS (
        SELECT l.query_id, ce.neighbor_id,
               CAST(SUM(l.d) AS BIGINT) AS adc_dist
        FROM ce
        JOIN lut l ON ce.list_id = l.list_id AND ce.s = l.s
                   AND ce.cidx = l.cidx
        WHERE ce.neighbor_id <> l.query_id
        GROUP BY l.query_id, ce.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rnk
        FROM adc
    )
    WHERE rnk <= {td.TOPK_IVF}
    ORDER BY query_id, rnk
    """


def _pq_adc_sql() -> str:
    return f"""
    WITH {_pq_adc_ctes()}
    SELECT query_id, neighbor_id, adc_dist,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rnk
        FROM adc_scored
    )
    WHERE rnk <= {td.TOPK_IVF}
    ORDER BY query_id, rnk
    """


_BIGRAM_CTES = f"""
    w AS (SELECT doc_id AS id, {dl.words("text", D)} AS w FROM documents),
    occ AS (
        SELECT id, {dl.elem("w", "i", D)} AS w1,
               {dl.elem("w", "i + 1", D)} AS w2
        FROM (SELECT id, w, unnest({dl.bigram_idx("w", D)}) AS i FROM w)
    ),
    uni AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest({dl.words("text", D)}) AS t FROM documents)
        GROUP BY t
    ),
    big AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM occ GROUP BY w1, w2
    )"""


def _textrank_sql() -> str:
    """Mirror of text.textrank_keywords: distinct non-stopword adjacent
    pairs -> symmetric edge set -> graph.pagerank_fixed's integer-mass
    rounds unrolled as CTEs (the q61 oracle pattern on string node ids)
    -> top-k by (rank desc, word)."""
    from pipegen_spark.operators import graph as _gr

    iters = tx.TEXTRANK_ITERS
    words = dl.words("text", D)
    stop_arr = "[" + ",".join(f"'{w}'" for w in tx.STOPWORDS) + "]"
    tele = (
        f"(({_gr.PR_DAMP_DEN - _gr.PR_DAMP_NUM} * "
        f"CAST({_gr.PR_SCALE} AS BIGINT)) // ({_gr.PR_DAMP_DEN} * t.n))"
    )
    damp = (
        f"(({_gr.PR_DAMP_NUM} * COALESCE(c.s, CAST(0 AS BIGINT))) "
        f"// {_gr.PR_DAMP_DEN})"
    )
    ctes = [
        f"""wt AS (SELECT {words} AS w FROM documents)""",
        f"""pairs AS (
        SELECT DISTINCT {dl.elem('w', 'i', D)} AS w1,
                        {dl.elem('w', 'i + 1', D)} AS w2
        FROM (SELECT w, unnest({dl.bigram_idx('w', D)}) AS i FROM wt)
        WHERE {dl.elem('w', 'i', D)} <> {dl.elem('w', 'i + 1', D)}
          AND NOT {dl.contains(stop_arr, dl.elem('w', 'i', D), D)}
          AND NOT {dl.contains(stop_arr, dl.elem('w', 'i + 1', D), D)}
    )""",
        """edges AS (
        SELECT w1 AS src, w2 AS dst FROM pairs
        UNION
        SELECT w2 AS src, w1 AS dst FROM pairs
    )""",
        "nodes AS (SELECT DISTINCT src AS id FROM edges)",
        "outdeg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS od"
        " FROM edges GROUP BY src)",
        "ncnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        f"r0 AS (SELECT id, CAST({_gr.PR_SCALE} AS BIGINT) // n AS r"
        " FROM nodes CROSS JOIN ncnt)",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""c{i} AS (
        SELECT e.dst AS id, CAST(SUM(r.r // o.od) AS BIGINT) AS s
        FROM edges e JOIN r{i - 1} r ON e.src = r.id
        JOIN outdeg o ON e.src = o.id
        GROUP BY e.dst
    )""")
        ctes.append(f"""r{i} AS (
        SELECT n.id, CAST({tele} + {damp} AS BIGINT) AS r
        FROM nodes n CROSS JOIN ncnt t LEFT JOIN c{i} c ON n.id = c.id
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT id AS word, r AS rank_micro, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT id, r,
               row_number() OVER (ORDER BY r DESC, id) AS rnk
        FROM r{iters}
    )
    WHERE rnk <= {tx.TEXTRANK_TOPK}
    ORDER BY rnk
    """


def _pmi_sql() -> str:
    lift = dl.idiv(
        f"b.c_xy * t.n_tokens * CAST({tx.PMI_SCALE} AS BIGINT)",
        "u1.c * u2.c",
        D,
    )
    return f"""
    WITH {_BIGRAM_CTES},
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
    SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
           CAST({lift} AS BIGINT) AS pmi_micro
    FROM big b
    JOIN uni u1 ON b.w1 = u1.t
    JOIN uni u2 ON b.w2 = u2.t
    CROSS JOIN tot t
    WHERE b.c_xy >= {td.PMI_MIN_COUNT}
    ORDER BY pmi_micro DESC, b.w1, b.w2
    LIMIT {td.PMI_TOPK}
    """


def _lm_bigram_sql() -> str:
    cond = dl.idiv(f"b.c_xy * CAST({tx.PMI_SCALE} AS BIGINT)", "u.c", D)
    return f"""
    WITH {_BIGRAM_CTES},
    per AS (
        SELECT o.id, CAST({cond} AS BIGINT) AS cm
        FROM occ o
        JOIN big b ON o.w1 = b.w1 AND o.w2 = b.w2
        JOIN uni u ON o.w1 = u.t
    ),
    agg AS (
        SELECT id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(cm) AS BIGINT) AS sum_cond_micro,
               CAST(MIN(cm) AS BIGINT) AS min_cond_micro,
               CAST(SUM(CASE WHEN cm < {td.LM_RARE_MICRO} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rare
        FROM per GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           COALESCE(sum_cond_micro, 0) AS sum_cond_micro,
           COALESCE(min_cond_micro, 0) AS min_cond_micro,
           COALESCE(n_rare, 0) AS n_rare
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.id
    ORDER BY d.doc_id
    """


def _perplexity_sql() -> str:
    """Mirror of text.perplexity_scores: the shared bigram CTEs, the
    clamped micro-unit conditional per DISTINCT pair, then the
    fixed-point log2 as LOG2_FRAC_BITS chained squaring CTEs (the exact
    shift/compare sequence the Spark side unrolls as columns), one
    occurrence join + per-doc aggregate, and the CCNet bucket CASE."""
    zb = tx._LOG2_Z_BITS
    two = 1 << (zb + 1)
    exp = tx.log2_exp_case("p_micro", 20)
    cond = dl.idiv(f"b.c_xy * CAST({tx.PMI_SCALE} AS BIGINT)", "u.c", D)
    rounds = []
    prev = "s0"
    for r in range(1, tx.LOG2_FRAC_BITS + 1):
        rounds.append(f"""s{r} AS (
        SELECT w1, w2, p_micro,
               CASE WHEN zz >= {two} THEN zz >> 1 ELSE zz END AS z,
               lg * 2 + CASE WHEN zz >= {two} THEN 1 ELSE 0 END AS lg
        FROM (SELECT w1, w2, p_micro, (z * z) >> {zb} AS zz, lg
              FROM {prev}) t
    )""")
        prev = f"s{r}"
    body = ",\n    ".join(rounds)
    mean = dl.idiv(
        "sum_nl * CAST(1000 AS BIGINT)",
        f"n_bigrams * CAST({1 << tx.LOG2_FRAC_BITS} AS BIGINT)",
        D,
    )
    return f"""
    WITH {_BIGRAM_CTES},
    p AS (
        SELECT b.w1, b.w2,
               GREATEST(CAST({cond} AS BIGINT), CAST(1 AS BIGINT))
                   AS p_micro
        FROM big b JOIN uni u ON b.w1 = u.t
    ),
    s0 AS (
        SELECT w1, w2, p_micro,
               (p_micro << {zb}) >> e AS z,
               CAST(e AS BIGINT) AS lg
        FROM (SELECT *, {exp} AS e FROM p) t
    ),
    {body},
    scored AS (
        SELECT w1, w2, p_micro,
               {tx.L2_ONE_MICRO_FP} - lg AS nl
        FROM {prev}
    ),
    agg AS (
        SELECT o.id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(s.nl) AS BIGINT) AS sum_nl,
               CAST(MIN(s.p_micro) AS BIGINT) AS min_p_micro
        FROM occ o JOIN scored s ON o.w1 = s.w1 AND o.w2 = s.w2
        GROUP BY o.id
    )
    SELECT d.doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           CAST(COALESCE({mean}, 0) AS BIGINT) AS mean_bits_milli,
           COALESCE(min_p_micro, 0) AS min_p_micro,
           CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 'tail'
                WHEN {mean} < {td.CCNET_HEAD_MILLI} THEN 'head'
                WHEN {mean} < {td.CCNET_TAIL_MILLI} THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.id
    ORDER BY d.doc_id
    """


def _log2_chain_ctes(src: str, out: str, max_bits: int) -> str:
    """Generic fixed-point-log2 CTE chain: `src` must expose a BIGINT
    column v >= 1; emits CTEs ending in `{out}(v, lg)` with lg =
    log2_fp(v) in 2^-LOG2_FRAC_BITS units — the same shift-and-square
    sequence as text._with_log2_fp / log2_fp_py, including the r10
    mantissa pre-reduction (v >> (e-32) when e > 32) that extends the
    valid domain to all of BIGINT without the `<< 30` overflowing."""
    zb = tx._LOG2_Z_BITS
    two = 1 << (zb + 1)
    exp = tx.log2_exp_case("v", max_bits)
    parts = [f"""{out}_s0 AS (
        SELECT v, ((v >> r) << {zb}) >> (e - r) AS z, CAST(e AS BIGINT) AS lg
        FROM (SELECT v, e, CASE WHEN e > 32 THEN e - 32 ELSE 0 END AS r
              FROM (SELECT v, {exp} AS e FROM {src}) t0
        ) t
    )"""]
    prev = f"{out}_s0"
    for r in range(1, tx.LOG2_FRAC_BITS + 1):
        parts.append(f"""{out}_s{r} AS (
        SELECT v, CASE WHEN zz >= {two} THEN zz >> 1 ELSE zz END AS z,
               lg * 2 + CASE WHEN zz >= {two} THEN 1 ELSE 0 END AS lg
        FROM (SELECT v, (z * z) >> {zb} AS zz, lg FROM {prev}) t
    )""")
        prev = f"{out}_s{r}"
    parts.append(f"{out} AS (SELECT v, lg FROM {prev})")
    return ",\n    ".join(parts)


def _entropy_sql() -> str:
    """Mirror of text.entropy_scores: per-(doc, token) counts, the
    distinct-value log2 chain (counts ∪ doc lengths ∪ type counts),
    H_fp = L(n) - (Σ c·L(c)) DIV n, milli-bits + ppm-normalized."""
    scale = 1 << tx.LOG2_FRAC_BITS
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({dl.words("text", D)}) AS t
        FROM documents
    ),
    cnt AS (
        SELECT id, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY id, t
    ),
    per AS (
        SELECT id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM cnt GROUP BY id
    ),
    vals AS (
        SELECT DISTINCT v FROM (
            SELECT c AS v FROM cnt
            UNION ALL SELECT n FROM per
            UNION ALL SELECT n_types FROM per
        ) u
    ),
    {_log2_chain_ctes("vals", "lg", 63)},
    csum AS (
        SELECT cnt.id, CAST(SUM(cnt.c * lg.lg) AS BIGINT) AS clg
        FROM cnt JOIN lg ON cnt.c = lg.v
        GROUP BY cnt.id
    ),
    h AS (
        SELECT per.id, per.n, per.n_types,
               ln.lg - (csum.clg // per.n) AS h_fp,
               lt.lg AS lt
        FROM per
        JOIN csum ON per.id = csum.id
        JOIN lg ln ON per.n = ln.v
        JOIN lg lt ON per.n_types = lt.v
    )
    SELECT d.doc_id,
           COALESCE(h.n, 0) AS n_tokens,
           COALESCE(h.n_types, 0) AS n_types,
           COALESCE((h.h_fp * 1000) // {scale}, 0) AS entropy_milli_bits,
           COALESCE(CASE WHEN h.lt > 0
                         THEN (h.h_fp * 1000000) // h.lt
                         ELSE 0 END, 0) AS norm_entropy_ppm
    FROM documents d LEFT JOIN h ON d.doc_id = h.id
    ORDER BY d.doc_id
    """


def _kl_drift_sql() -> str:
    """Mirror of text.kl_drift_scores: (source, token) + (token) count
    tables, the distinct-value log2 chain, then per source the SPLIT
    milli-bit scaling (text.kl_milli_expr — the exact trunc-division
    identity that avoids ×1000 over the full term sum). Both engines
    truncate integer division toward zero, so the occasional
    truncation-noise negative is identical."""
    kl = tx.kl_milli_expr("terms.tsum", "ns.n_s", "ln.lg", "ls.lg", D)
    return f"""
    WITH tok AS (
        SELECT source AS src, unnest({dl.words("text", D)}) AS t
        FROM documents
    ),
    st AS (
        SELECT src, t, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM tok GROUP BY src, t
    ),
    ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
    ns AS (
        SELECT src, CAST(SUM(c_st) AS BIGINT) AS n_s,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM st GROUP BY src
    ),
    n1 AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM ns),
    vals AS (
        SELECT DISTINCT v FROM (
            SELECT c_st AS v FROM st
            UNION ALL SELECT c_t FROM ct
            UNION ALL SELECT n_s FROM ns
            UNION ALL SELECT n FROM n1
        ) u
    ),
    {_log2_chain_ctes("vals", "lg", 63)},
    terms AS (
        SELECT st.src,
               CAST(SUM(st.c_st * (a.lg - b.lg)) AS BIGINT) AS tsum
        FROM st
        JOIN lg a ON st.c_st = a.v
        JOIN ct ON st.t = ct.t
        JOIN lg b ON ct.c_t = b.v
        GROUP BY st.src
    )
    SELECT ns.src AS source, ns.n_s AS n_tokens, ns.n_types,
           CAST({kl} AS BIGINT) AS kl_milli_bits
    FROM terms
    JOIN ns ON terms.src = ns.src
    JOIN lg ls ON ns.n_s = ls.v
    CROSS JOIN n1
    JOIN lg ln ON n1.n = ln.v
    ORDER BY source
    """


def _multimodal_features_sql() -> str:
    """Mirror of multimodal.fake_decode: 8 features = consecutive 4-hex-char
    fields of sha256(payload), feat_norm = sum of their squares. Each field
    is < 2^16, each square < 2^32, 8 terms — BIGINT-exact."""
    feats = [
        f"CAST(('0x' || substr(sha, {i * 4 + 1}, 4)) AS BIGINT)"
        for i in range(8)
    ]
    norm = " + ".join(f"({f} * {f})" for f in feats)
    return f"""
    WITH b AS (
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha
        FROM documents
    )
    SELECT media_id, n_bytes, sha AS content_sha,
           CAST(8 AS INTEGER) AS feat_dim,
           CAST({norm} AS BIGINT) AS feat_norm
    FROM b ORDER BY media_id
    """


def _multimodal_png_sql() -> str:
    """Expected output of the REAL PNG decode chain, computed from
    `md5(text)` hex alone (round-7: converts the query from rows-only to
    a hard hash gate). The encoded pixels are the 16-byte md5 digest
    tiled to 144 bytes = exactly 9 copies, so the decoder's 8-bin
    histogram (bin = byte >> 5) is 9 × the digest-byte histogram and
    feat_norm = Σ(9·c_b)² = 81 × Σ c_b². Any bug anywhere in the Spark
    side's encode → zlib → filter → decode path perturbs the histogram
    and fails the value hash. Bounds: c_b ≤ 16 → feat_norm ≤ 81·256,
    trivially BIGINT-exact."""
    byte = "CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id, md5(COALESCE(text, '')) AS hx FROM documents
    ),
    b AS (
        SELECT doc_id, {byte} // 32 AS bin
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i FROM range(0, 16) r
        ) t
    ),
    hist AS (
        SELECT doc_id, bin, COUNT(*) AS c FROM b GROUP BY doc_id, bin
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS feat_dim,
           CAST(81 * SUM(c * c) AS BIGINT) AS feat_norm
    FROM hist GROUP BY doc_id ORDER BY doc_id
    """


def _multimodal_gif_sql() -> str:
    """Expected output of the REAL GIF encode → LZW → decode chain,
    computed from `md5(text)` hex alone (round-11, sibling of
    `_multimodal_png_sql`). Pixels are an 8-entry grayscale palette
    indexed by digest bytes mod 8 tiled 9x over a 16x9 screen; palette
    entry i lands all 3 RGB bytes in histogram bin i, so
    feat_norm = 729 × Σ d_b² over the digest-byte mod-8 histogram.
    Bounds: d_b ≤ 16 → feat_norm ≤ 729·2048, trivially BIGINT-exact."""
    byte = "CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id, md5(COALESCE(text, '')) AS hx FROM documents
    ),
    b AS (
        SELECT doc_id, {byte} % 8 AS bin
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i FROM range(0, 16) r
        ) t
    ),
    hist AS (
        SELECT doc_id, bin, COUNT(*) AS c FROM b GROUP BY doc_id, bin
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS feat_dim,
           CAST(729 * SUM(c * c) AS BIGINT) AS feat_norm
    FROM hist GROUP BY doc_id ORDER BY doc_id
    """


def _gif_frames_sql() -> str:
    """Expected output of the ANIMATED-GIF compositing chain
    (round-12, `multimodal_gif_frames`): frame j's indices are
    md5(text || ':' || j) bytes mod 8 tiled over 144 positions with
    transparent index 7 and disposal keep, so the visible index at
    (position p, frame j) is the LAST non-7 index among frames <= j —
    a running MAX of (j*8 + idx) over the frame axis, decoded back
    with % 8 — and background (palette entry 0, RGB (1,1,1)) where
    nothing ever drew. frame_norm = 9 x Σ count² over the 8 visible
    bins. Only the 16 distinct digest positions are expanded (the
    144-position tiling is 9 identical copies, so counts scale by 9
    and frame_norm = 9 x Σ (9 c_b)² = 729 x Σ c_b²)."""
    byte = "CAST(('0x' || substr(hx, 2 * (p % 16) + 1, 2)) AS INT)"
    return f"""
    WITH d AS (
        SELECT doc_id, COALESCE(text, '') AS t FROM documents
    ),
    fr AS (
        SELECT doc_id, j, md5(t || ':' || j) AS hx
        FROM d CROSS JOIN (
            SELECT CAST(r.range AS INT) AS j FROM range(0, 4) r
        ) jr
    ),
    px AS (
        SELECT doc_id, j, p, {byte} % 8 AS idx
        FROM fr CROSS JOIN (
            SELECT CAST(r.range AS INT) AS p FROM range(0, 16) r
        ) pr
    ),
    vis AS (
        SELECT doc_id, j, p,
               MAX(CASE WHEN idx <> 7 THEN j * 8 + idx END) OVER (
                   PARTITION BY doc_id, p ORDER BY j
               ) AS lastv
        FROM px
    ),
    hist AS (
        SELECT doc_id, j, COALESCE(lastv % 8, 0) AS bin, COUNT(*) AS c
        FROM vis GROUP BY doc_id, j, 3
    ),
    norms AS (
        SELECT doc_id,
               CAST(j AS BIGINT) AS frame_idx,
               CAST(729 * SUM(c * c) AS BIGINT) AS frame_norm
        FROM hist GROUP BY doc_id, j
    )
    SELECT doc_id, frame_idx, frame_norm,
           CAST(
               COALESCE(
                   frame_norm <> LAG(frame_norm) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx
                   ),
                   TRUE
               ) AS BIGINT
           ) AS is_cut
    FROM norms ORDER BY doc_id, frame_idx
    """


def _multimodal_wav_sql() -> str:
    """Expected output of the REAL WAV decode chain from `md5(text)` hex
    (round-7 hard gate, sibling of `_multimodal_png_sql`). The encoded
    samples are the digest tiled to 128 bytes = exactly 8 copies read as
    little-endian int16, so the decoder's amplitude-octave histogram
    (bucket = min(bit_length(|s|) >> 1, 7)) is 8 × the histogram over
    the digest's own 8 int16 samples and feat_norm = 64 × Σ c_b². The
    bucket is computed with an integer CASE ladder over |s| ranges
    ([0,2) → 0, [2,8) → 1, …, [8192,32768] → 7), no floating log."""
    lo = "CAST(('0x' || substr(hx, 4 * i + 1, 2)) AS INT)"
    hi = "CAST(('0x' || substr(hx, 4 * i + 3, 2)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id, md5(COALESCE(text, '')) AS hx FROM documents
    ),
    u AS (
        SELECT doc_id, {lo} + 256 * {hi} AS uval
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i FROM range(0, 8) r
        ) t
    ),
    a AS (
        SELECT doc_id,
               ABS(uval - CASE WHEN uval >= 32768 THEN 65536 ELSE 0 END)
                   AS amp
        FROM u
    ),
    hist AS (
        SELECT doc_id,
               CASE WHEN amp < 2 THEN 0 WHEN amp < 8 THEN 1
                    WHEN amp < 32 THEN 2 WHEN amp < 128 THEN 3
                    WHEN amp < 512 THEN 4 WHEN amp < 2048 THEN 5
                    WHEN amp < 8192 THEN 6 ELSE 7 END AS bucket,
               COUNT(*) AS c
        FROM a GROUP BY doc_id, 2
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS feat_dim,
           CAST(64 * SUM(c * c) AS BIGINT) AS feat_norm
    FROM hist GROUP BY doc_id ORDER BY doc_id
    """



def _frame_sample_sql() -> str:
    """Mirror of queries.training_data.multimodal_frame_sample: the
    frame-timestamp explode (generate_series — inclusive endpoint, same
    as Spark's sequence(); the duration is always a stride multiple so
    the endpoint rule cannot diverge), the md5-derived 60-bit frame
    signature, and the per-media LAG keyframe flag."""
    from pipegen_spark.queries.training_data import FRAME_EVERY_MS

    sig = dl.hash60(
        "concat(CAST(media_id AS VARCHAR), ':',"
        " CAST(frame_ts_ms AS VARCHAR))",
        D,
    )
    return f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(1000 + (n_chars % 10) * 500 AS BIGINT) AS dur
        FROM documents
    ),
    frames AS (
        SELECT media_id, CAST(u.f AS BIGINT) AS frame_ts_ms
        FROM media,
             unnest(generate_series(0, dur, {FRAME_EVERY_MS})) AS u(f)
    ),
    sigs AS (
        SELECT media_id, frame_ts_ms, {sig} AS frame_sig,
               LAG({sig}) OVER (
                   PARTITION BY media_id ORDER BY frame_ts_ms
               ) AS prev_sig
        FROM frames
    )
    SELECT media_id, frame_ts_ms, frame_sig,
           (prev_sig IS NULL OR (frame_sig % 10) < (prev_sig % 10))
               AS is_keyframe
    FROM sigs
    ORDER BY media_id, frame_ts_ms
    """


def _mjpeg_frames_sql() -> str:
    """Mirror of queries.training_data.multimodal_mjpeg_frames: the
    per-doc frame fan-out (2 + n_chars % 3 frames), the container
    timestamp stride (1000/MJPEG_FPS ms), the md5-derived 60-bit frame
    signature, and the per-media LAG scene-cut flag are all analytic;
    the AVI demux + JPEG decode claims are lossy-codec property
    columns (all-true — same oracle style as the jpeg family)."""
    from pipegen_spark.queries.training_data import MJPEG_FPS

    stride = 1000 // MJPEG_FPS
    sig = dl.hash60(
        "concat(CAST(media_id AS VARCHAR), ':',"
        " CAST(frame_idx AS VARCHAR))",
        D,
    )
    return f"""
    WITH media AS (
        SELECT doc_id AS media_id, 2 + (n_chars % 3) AS n_frames
        FROM documents
    ),
    frames AS (
        SELECT media_id, CAST(u.f AS INT) AS frame_idx
        FROM media,
             unnest(generate_series(0, n_frames - 1)) AS u(f)
    ),
    sigs AS (
        SELECT media_id, frame_idx, {sig} AS frame_sig,
               LAG({sig}) OVER (
                   PARTITION BY media_id ORDER BY frame_idx
               ) AS prev_sig
        FROM frames
    )
    SELECT media_id, frame_idx,
           CAST(frame_idx * {stride} AS BIGINT) AS frame_ts_ms,
           frame_sig,
           (prev_sig IS NULL OR (frame_sig % 10) < (prev_sig % 10))
               AS is_scene_cut,
           TRUE AS container_ok, TRUE AS decode_ok
    FROM sigs
    ORDER BY media_id, frame_idx
    """


def _wav_energy_ctes() -> str:
    """Shared WITH-clause body reconstructing the REAL WAV decode
    chain's windowed frame energies from md5() hex alone (see
    queries.training_data._wav_energy_frames: block j of the payload is
    md5(text || ':' || j) as 8 LE int16 samples, so sample (j, i) and
    its window are analytically known — any codec/container bug shifts
    a sample and flips an integer energy). Ends with the `frames` CTE
    (doc_id, win, n_samples, energy)."""
    from pipegen_spark.queries.training_data import (
        WAV_ENERGY_BLOCKS,
        WAV_ENERGY_WIN,
    )

    per_block = 8  # int16 samples per md5 digest
    lo = "CAST(('0x' || substr(hx, 4 * i + 1, 2)) AS INT)"
    hi = "CAST(('0x' || substr(hx, 4 * i + 3, 2)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id,
               CAST(b.range AS BIGINT) AS j,
               md5(COALESCE(text, '') || ':' || CAST(b.range AS INT))
                   AS hx
        FROM documents CROSS JOIN range(0, {WAV_ENERGY_BLOCKS}) b
    ),
    u AS (
        SELECT doc_id, j, CAST(t.i AS BIGINT) AS i,
               {lo} + 256 * {hi} AS uval
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i
            FROM range(0, {per_block}) r
        ) t
    ),
    s AS (
        SELECT doc_id,
               (j * {per_block} + i) // {WAV_ENERGY_WIN} AS win,
               CAST(uval - CASE WHEN uval >= 32768 THEN 65536 ELSE 0 END
                    AS BIGINT) AS sv
        FROM u
    ),
    frames AS (
        SELECT doc_id, win,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(sv * sv) AS BIGINT) AS energy
        FROM s GROUP BY doc_id, win
    )"""


def _wav_energy_sql() -> str:
    return f"""
    {_wav_energy_ctes()}
    SELECT doc_id, win, n_samples, energy
    FROM frames ORDER BY doc_id, win
    """


def _patches_sql() -> str:
    """Mirror of multimodal_patches: every decoded byte reconstructed
    analytically (byte b = md5(text || ':' || b DIV 16)[b % 16], PNG is
    lossless), then the identical patch-grid/channel bookkeeping and
    integer sums."""
    from pipegen_spark.queries.training_data import (
        PATCH_IMG_H,
        PATCH_IMG_W,
        PATCH_P,
    )

    w0, pp = PATCH_IMG_W, PATCH_P
    n_bytes = PATCH_IMG_W * PATCH_IMG_H * 3
    n_blocks = n_bytes // 16
    grid_w = w0 // pp
    byte_val = "CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS BIGINT)"
    return f"""
    WITH h AS (
        SELECT doc_id,
               CAST(b.range AS BIGINT) AS j,
               md5(COALESCE(text, '') || ':' || CAST(b.range AS INT))
                   AS hx
        FROM documents CROSS JOIN range(0, {n_blocks}) b
    ),
    px AS (
        SELECT doc_id,
               j * 16 + t.i AS b,
               {byte_val} AS s
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i FROM range(0, 16) r
        ) t
    ),
    tagged AS (
        SELECT doc_id,
               ((b // 3) // {w0} // {pp}) * {grid_w}
                   + ((b // 3) % {w0}) // {pp} AS patch_id,
               b % 3 AS channel,
               s
        FROM px
    )
    SELECT doc_id, patch_id, channel,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(s) AS BIGINT) AS s_sum,
           CAST(SUM(s * s) AS BIGINT) AS s_sq
    FROM tagged GROUP BY doc_id, patch_id, channel
    ORDER BY doc_id, patch_id, channel
    """


def _resample_sql() -> str:
    """Mirror of multimodal_resample: the decoded samples reconstructed
    analytically from md5() hex (the _wav_energy_ctes sample math, kept
    at per-sample resolution), LEAD for the neighbor, the same
    unsigned-shifted linear interpolation, and the same ordered md5
    fold — every resampled value is hash-checked."""
    from pipegen_spark.queries.training_data import (
        RESAMPLE_P,
        RESAMPLE_Q,
        WAV_ENERGY_BLOCKS,
    )

    n_in = WAV_ENERGY_BLOCKS * 8
    p_, q_ = RESAMPLE_P, RESAMPLE_Q
    n_out = (p_ * (n_in - 1) - 1) // q_ + 1
    per_block = 8
    lo = "CAST(('0x' || substr(hx, 4 * i + 1, 2)) AS INT)"
    hi = "CAST(('0x' || substr(hx, 4 * i + 3, 2)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id,
               CAST(b.range AS BIGINT) AS j,
               md5(COALESCE(text, '') || ':' || CAST(b.range AS INT))
                   AS hx
        FROM documents CROSS JOIN range(0, {WAV_ENERGY_BLOCKS}) b
    ),
    u AS (
        SELECT doc_id, j, CAST(t.i AS BIGINT) AS i,
               {lo} + 256 * {hi} AS uval
        FROM h CROSS JOIN (
            SELECT CAST(r.range AS INT) AS i
            FROM range(0, {per_block}) r
        ) t
    ),
    sm AS (
        SELECT doc_id, j * {per_block} + i AS pos,
               CAST((uval + 32768) % 65536 AS BIGINT) AS a
        FROM u
    ),
    led AS (
        SELECT doc_id, pos, a,
               LEAD(a) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM sm
    ),
    tf AS (
        SELECT doc_id, CAST(r.range AS BIGINT) AS t,
               (CAST(r.range AS BIGINT) * {q_}) // {p_} AS pos,
               (CAST(r.range AS BIGINT) * {q_}) % {p_} AS frac
        FROM documents CROSS JOIN range(0, {n_out}) r
    ),
    outp AS (
        SELECT tf.doc_id, tf.t,
               CAST((led.a * ({p_} - tf.frac)
                     + COALESCE(led.b, led.a) * tf.frac) // {p_}
                    - 32768 AS BIGINT) AS v
        FROM tf JOIN led ON led.doc_id = tf.doc_id AND led.pos = tf.pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(v * v) AS BIGINT) AS energy,
           md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY t))
               AS resamp_md5
    FROM outp GROUP BY doc_id
    ORDER BY doc_id
    """


def _vad_segments_sql() -> str:
    """Mirror of multimodal_vad_segments: the same md5-reconstructed
    frame energies, thresholded and merged into contiguous active
    segments via the identical gaps-and-islands bookkeeping."""
    from pipegen_spark.queries.training_data import VAD_THRESHOLD

    return f"""
    {_wav_energy_ctes()},
    active AS (
        SELECT doc_id, win, energy,
               win - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY win
               ) AS isl
        FROM frames WHERE energy >= {VAD_THRESHOLD}
    )
    SELECT doc_id,
           CAST(MIN(win) AS BIGINT) AS seg_start,
           CAST(MAX(win) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_wins,
           CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM active GROUP BY doc_id, isl
    ORDER BY doc_id, seg_start
    """

def _bloom_sql() -> str:
    """Mirror of dedup.bloom_admission: 1024-bit / 32x32-bit-word Bloom
    filter over reference prefix fingerprints, k=3 salted probes, exact
    semi-join ground truth and the false_positive surface."""
    prefix = dl.arr_join(dl.slice_("w", 1, td.PREFIX_K, D), " ", D)
    h = dl.hash_m31(prefix, D)
    pos_list = ", ".join(dd.bloom_positions("h", D))
    return f"""
    WITH {_w_cte('source')},
    keyed AS (SELECT id, source, {h} AS h FROM w),
    refk AS (
        SELECT h FROM keyed
        WHERE NOT regexp_matches(source, '{td.NEW_BATCH_PATTERN}')
    ),
    bits AS (SELECT unnest([{pos_list}]) AS pos FROM refk),
    wt AS (
        SELECT pos // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
        FROM bits GROUP BY 1
    ),
    probe AS (
        SELECT id, h, unnest([{pos_list}]) AS pos FROM keyed
        WHERE regexp_matches(source, '{td.NEW_BATCH_PATTERN}')
    ),
    hits AS (
        SELECT id, h,
               MIN(CASE WHEN mask IS NULL THEN 0
                   ELSE (mask >> CAST(pos % 32 AS INT)) & 1 END) AS all_set
        FROM probe LEFT JOIN wt ON pos // 32 = wt.word
        GROUP BY id, h
    ),
    refd AS (SELECT DISTINCT h FROM refk)
    SELECT hits.id AS doc_id,
           all_set = 1 AS bloom_hit,
           refd.h IS NOT NULL AS exact_dup,
           (all_set = 1 AND refd.h IS NULL) AS false_positive
    FROM hits LEFT JOIN refd ON hits.h = refd.h
    ORDER BY doc_id
    """


def _cms_sql() -> str:
    """Mirror of sketches.cms_heavy_hitters: identical d x w count-min
    grid from the shared hash, min-over-rows estimate, exact count and
    overcount alongside."""
    from pipegen_spark.operators import sketches as sk

    h = dl.hash_m31("t", D)
    bucket_cases = " ".join(
        f"WHEN {j} THEN {sk.cms_bucket('h', j, D)}" for j in range(sk.CMS_D)
    )
    return f"""
    WITH toks AS (
        SELECT unnest({dl.words("text", D)}) AS t FROM documents
    ),
    th AS (SELECT t, {h} AS h FROM toks),
    cells AS (
        SELECT CAST(r.range AS INT) AS j, h
        FROM th CROSS JOIN range(0,{sk.CMS_D}) r
    ),
    sketch AS (
        SELECT j, CASE j {bucket_cases} END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    cand AS (
        SELECT t, ANY_VALUE(h) AS h, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM th GROUP BY t
    ),
    probes AS (
        SELECT t, true_count, CAST(r.range AS INT) AS j,
               CASE CAST(r.range AS INT) {bucket_cases} END AS bucket
        FROM cand CROSS JOIN range(0,{sk.CMS_D}) r
    ),
    est AS (
        SELECT t, true_count, CAST(MIN(cnt) AS BIGINT) AS est_count
        FROM probes JOIN sketch USING (j, bucket)
        GROUP BY t, true_count
    )
    SELECT t AS token, true_count, est_count,
           est_count - true_count AS overcount
    FROM est
    ORDER BY est_count DESC, token
    LIMIT {td.CMS_TOPK}
    """


def _shuffle_sql() -> str:
    """Mirror of curation.with_shuffle_order."""
    key = cu.shuffle_key_expr("doc_id", D)
    return f"""
    SELECT doc_id, CAST({key} AS BIGINT) AS shuffle_key,
           CAST(({key}) % {cu.SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM documents
    ORDER BY shuffle_key, doc_id
    """


def _diversity_sql() -> str:
    """Mirror of text.ngram_diversity: per-(lang, n) distinct-n ratios
    over ALL n-gram occurrences (multiset shingles, n = 1..3)."""
    levels = []
    for n in range(1, tx.DIVERSITY_MAX_N + 1):
        grams = dl.word_shingles_all("w", n, D)
        levels.append(
            f"SELECT lang AS grp, CAST({n} AS BIGINT) AS n,"
            f" unnest({grams}) AS s FROM w"
        )
    union = "\n        UNION ALL ".join(levels)
    return f"""
    WITH {_W_CTE},
    grams AS (
        {union}
    ),
    per AS (
        SELECT grp, n, s, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams GROUP BY grp, n, s
    )
    SELECT grp, n,
           CAST(SUM(cnt) AS BIGINT) AS total_grams,
           CAST(COUNT(*) AS BIGINT) AS distinct_grams,
           ({tx.DIVERSITY_PPM} * CAST(COUNT(*) AS BIGINT))
               // CAST(SUM(cnt) AS BIGINT) AS diversity_ppm
    FROM per GROUP BY grp, n
    ORDER BY grp, n
    """


def _drift_sql() -> str:
    """Mirror of curation.corpus_drift (en vs non-en token TV distance):
    hashed 256-cell counts -> cross-multiplied integer drift numerators
    -> ppm via the pre-scaled denominator. CASTs pin every aggregate to
    BIGINT (DuckDB SUM widens to HUGEINT)."""
    b = cu.DRIFT_BUCKETS
    cell = f"(({dl.hash_m31('t', D)}) % {b})"
    return f"""
    WITH {_W_CTE},
    toks AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
               unnest(w) AS t
        FROM w
    ),
    counts AS (
        SELECT {cell} AS bucket,
               CAST(SUM(in_a) AS BIGINT) AS cnt_a,
               CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b
        FROM toks GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
               CAST(SUM(cnt_b) AS BIGINT) AS nb
        FROM counts
    )
    SELECT bucket, cnt_a, cnt_b,
           ABS(cnt_a * nb - cnt_b * na) AS drift_num,
           CAST(
               CAST(SUM(ABS(cnt_a * nb - cnt_b * na)) OVER () AS BIGINT)
               // GREATEST((2 * na * nb) // {cu.DRIFT_PPM}, 1)
           AS BIGINT) AS tv_ppm
    FROM counts CROSS JOIN tot
    ORDER BY bucket
    """


def _span_mask_sql() -> str:
    """Mirror of curation.span_mask: positional tokens -> hash mask gate
    -> run starts via LAG -> sentinel numbering via running sum ->
    ordered string_agg reassembly (COALESCE'd: all-NULL groups must give
    '' like Spark's array_join-over-empty)."""
    gate = cu._span_gate("id", "pos", D)
    sent = "'<extra_id_' || k || '>'"
    return f"""
    WITH {_W_CTE},
    toks AS (
        -- parallel unnests of equal-length lists zip positionally
        SELECT id, CAST(unnest(range(0, len(w))) AS BIGINT) AS pos,
               unnest(w) AS wd
        FROM w
    ),
    gated AS (SELECT id, pos, wd, {gate} AS g FROM toks),
    runs AS (
        SELECT id, pos, wd, g,
               (g AND NOT COALESCE(
                   LAG(g) OVER (PARTITION BY id ORDER BY pos), false
               )) AS rs
        FROM gated
    ),
    marked AS (
        SELECT id, pos, wd, g, rs,
               SUM(CASE WHEN rs THEN 1 ELSE 0 END)
                   OVER (PARTITION BY id ORDER BY pos) - 1 AS k
        FROM runs
    ),
    pieces AS (
        SELECT id, pos, g,
               CASE WHEN NOT g THEN wd
                    WHEN rs THEN {sent}
                    ELSE NULL END AS inp,
               CASE WHEN rs THEN {sent} || ' ' || wd
                    WHEN g THEN wd
                    ELSE NULL END AS tgt
        FROM marked
    )
    SELECT id AS doc_id,
           COALESCE(string_agg(inp, ' ' ORDER BY pos), '') AS input_text,
           COALESCE(string_agg(tgt, ' ' ORDER BY pos), '') AS target_text,
           CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
    FROM pieces GROUP BY id ORDER BY doc_id
    """


def _bpe_pairs_sql() -> str:
    """Mirror of text.bpe_pair_counts: token multiset -> adjacent char
    pairs -> top-k counts."""
    ln = "length(wd)"
    idx = dl.filter_(
        dl.seq("1", f"greatest({ln} - 1, 1)", D),
        f"i -> i <= ({ln}) - 1",
        D,
    )
    pairs = dl.transform(idx, "i -> substr(wd, i, 2)", D)
    return f"""
    WITH {_W_CTE},
    toks AS (SELECT unnest(w) AS wd FROM w),
    pairs AS (SELECT unnest({pairs}) AS pair FROM toks)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT {tx.BPE_TOPK}
    """


def _bpe_train_sql() -> str:
    """Mirror of text.bpe_train: one CTE pair (pair counts -> best
    merge) per round, chained through the shared wrapped-symbol-string
    representation. v/b CTEs are MATERIALIZED — each is referenced
    more than once, and DuckDB's per-reference re-inlining would
    otherwise replay the whole merge chain exponentially."""
    rounds = tx.BPE_TRAIN_ROUNDS
    words = dl.words("text", D)
    nope = "'#NOPE#'"  # no-op replace pattern once merges run dry
    parts = [
        f"""
    WITH v1 AS MATERIALIZED (
        SELECT regexp_replace(wd, '(.)', ' \\1 ', 'g') AS w, wc
        FROM (
            SELECT wd, CAST(COUNT(*) AS BIGINT) AS wc
            FROM (SELECT unnest({words}) AS wd FROM documents)
            GROUP BY wd
        )
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    p{r} AS (
        SELECT {dl.elem('sy', 'i', D)} AS x,
               {dl.elem('sy', 'i + 1', D)} AS y,
               CAST(SUM(wc) AS BIGINT) AS cnt
        FROM (
            SELECT regexp_split_to_array(trim(w), '  ') AS sy, wc
            FROM v{r}
        ) t, unnest({dl.bigram_idx('sy', D)}) u(i)
        GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
        SELECT {r} AS merge_rank, x, y, cnt FROM p{r}
        ORDER BY cnt DESC, x, y LIMIT 1
    )"""
        )
        if r < rounds:
            parts.append(
                f""",
    v{r + 1} AS MATERIALIZED (
        SELECT replace(
                   w,
                   COALESCE((SELECT ' ' || x || '  ' || y || ' '
                             FROM b{r}), {nope}),
                   COALESCE((SELECT ' ' || x || y || ' '
                             FROM b{r}), {nope})
               ) AS w,
               wc
        FROM v{r}
    )"""
            )
    union = " UNION ALL ".join(
        f"SELECT * FROM b{r}" for r in range(1, rounds + 1)
    )
    parts.append(
        f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, x AS sym_x,
           y AS sym_y, cnt AS pair_count, x || y AS merged
    FROM ({union}) ORDER BY merge_rank
    """
    )
    return "".join(parts)


def _bpe_encode_sql() -> str:
    """Mirror of text.bpe_encode_stats: the SAME merge-training CTE
    ladder as _bpe_train_sql (b1..bN hold the learned merges), then the
    distinct vocabulary is wrapped and encoded through one chained
    replace per merge (scalar subqueries against b{r}, #NOPE#-coalesced
    once merges run dry — identical no-op semantics to the Spark side's
    literal chain simply being shorter), and per-(doc, word) counts
    join the encoded types back for the per-doc aggregate."""
    rounds = tx.BPE_TRAIN_ROUNDS
    words = dl.words("text", D)
    nope = "'#NOPE#'"
    parts = [
        f"""
    WITH v1 AS MATERIALIZED (
        SELECT regexp_replace(wd, '(.)', ' \\1 ', 'g') AS w, wc
        FROM (
            SELECT wd, CAST(COUNT(*) AS BIGINT) AS wc
            FROM (SELECT unnest({words}) AS wd FROM documents)
            GROUP BY wd
        )
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    p{r} AS (
        SELECT {dl.elem('sy', 'i', D)} AS x,
               {dl.elem('sy', 'i + 1', D)} AS y,
               CAST(SUM(wc) AS BIGINT) AS cnt
        FROM (
            SELECT regexp_split_to_array(trim(w), '  ') AS sy, wc
            FROM v{r}
        ) t, unnest({dl.bigram_idx('sy', D)}) u(i)
        GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
        SELECT {r} AS merge_rank, x, y, cnt FROM p{r}
        ORDER BY cnt DESC, x, y LIMIT 1
    )"""
        )
        if r < rounds:
            parts.append(
                f""",
    v{r + 1} AS MATERIALIZED (
        SELECT replace(
                   w,
                   COALESCE((SELECT ' ' || x || '  ' || y || ' '
                             FROM b{r}), {nope}),
                   COALESCE((SELECT ' ' || x || y || ' '
                             FROM b{r}), {nope})
               ) AS w,
               wc
        FROM v{r}
    )"""
            )
    parts.append(
        f""",
    occ AS MATERIALIZED (
        SELECT doc_id AS id, wd, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest({words}) AS wd FROM documents)
        GROUP BY doc_id, wd
    ),
    e0 AS (
        SELECT wd, regexp_replace(wd, '(.)', ' \\1 ', 'g') AS w
        FROM (SELECT DISTINCT wd FROM occ)
    )"""
    )
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    e{r} AS (
        SELECT wd, replace(
                   w,
                   COALESCE((SELECT ' ' || x || '  ' || y || ' '
                             FROM b{r}), {nope}),
                   COALESCE((SELECT ' ' || x || y || ' '
                             FROM b{r}), {nope})
               ) AS w
        FROM e{r - 1}
    )"""
        )
    parts.append(
        f""",
    enc AS MATERIALIZED (
        SELECT wd,
               CAST(len(regexp_split_to_array(trim(w), '  ')) AS BIGINT)
                   AS toks,
               CAST(length(wd) AS BIGINT) AS wlen
        FROM e{rounds}
    ),
    per AS (
        SELECT id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(SUM(c * wlen) AS BIGINT) AS n_chars_az,
               CAST(SUM(c * toks) AS BIGINT) AS n_bpe_tokens
        FROM occ JOIN enc USING (wd) GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(n_words, 0) AS n_words,
           COALESCE(n_chars_az, 0) AS n_chars_az,
           COALESCE(n_bpe_tokens, 0) AS n_bpe_tokens,
           COALESCE(
               {dl.idiv('n_bpe_tokens * CAST(1000000 AS BIGINT)',
                        'n_chars_az', D)},
               0
           ) AS tok_per_char_ppm
    FROM documents d LEFT JOIN per ON per.id = d.doc_id
    ORDER BY d.doc_id
    """
    )
    return "".join(parts)


def _fim_sql() -> str:
    """Mirror of curation.with_fim."""
    e = cu.fim_exprs("text", "doc_id", D)
    return f"""
    SELECT doc_id,
           {e['split_a']} AS split_a,
           {e['split_b']} AS split_b,
           {e['fim_text']} AS fim_text
    FROM documents ORDER BY doc_id
    """


def _wsample_sql() -> str:
    """Mirror of curation.weighted_sample over (doc_id, n_chars)."""
    pri = cu.priority_expr("doc_id", "n_chars", D)
    return f"""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           CAST({pri} AS BIGINT) AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT {td.WSAMPLE_K}
    """


def _pq_recall_sql() -> str:
    """Mirror of simsearch_pq_recall: ADC top-k (the shared _pq_adc_ctes
    chain) vs exact top-k under the same integer-quantized L2 metric."""
    from pipegen_spark.operators import embeddings as em

    sub_dim = td.EMB_DIM // td.PQ_M
    dist = "(" + " + ".join(
        em.pq_subdist_expr("q.qv", "e.embedding", s, sub_dim, 15, D)
        for s in range(td.PQ_M)
    ) + ")"
    return f"""
    WITH {_pq_adc_ctes()},
    exact_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST({dist} AS BIGINT) AS l2_dist
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    exact_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY l2_dist, neighbor_id)
                          AS rnk
            FROM exact_scored
        ) t WHERE rnk <= {td.TOPK_IVF}
    ),
    adc_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id)
                          AS rnk
            FROM adc_scored
        ) t WHERE rnk <= {td.TOPK_IVF}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS recall_at_k
    FROM exact_k e LEFT JOIN adc_k a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


def _dsir_sql() -> str:
    """Mirror of curation.dsir_scores: hashed unigram+bigram bucket
    likelihood ratios in integer micro-units, per-doc mean, keep =
    above-corpus-mean (cross-multiplied integers)."""
    feats_arr = cu.dsir_features("w", D)
    bucket = f"({dl.hash60('f', D)}) % {cu.DSIR_BUCKETS}"
    lr = dl.idiv(f"(t_cnt + 1) * {cu.DSIR_SCALE}", "(r_cnt + 1)", D)
    score = dl.idiv("score_sum", "n_feats", D)
    return f"""
    WITH wdoc AS (
        SELECT doc_id AS id, lang = '{td.DSIR_TARGET_LANG}' AS t,
               {dl.words("text", D)} AS w
        FROM documents
    ),
    feats AS (
        SELECT id, t, {bucket} AS bucket
        FROM (SELECT id, t, unnest({feats_arr}) AS f FROM wdoc)
    ),
    stats AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
               CAST(COUNT(*) AS BIGINT) AS r_cnt
        FROM feats GROUP BY bucket
    ),
    lr AS (SELECT bucket, CAST({lr} AS BIGINT) AS lr_micro FROM stats),
    doc AS (
        SELECT f.id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(lr_micro) AS BIGINT) AS score_sum
        FROM feats f JOIN lr USING (bucket) GROUP BY f.id
    ),
    sc AS (
        SELECT id, n_feats, CAST({score} AS BIGINT) AS score_micro FROM doc
    ),
    tot AS (
        SELECT CAST(SUM(score_micro) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sc
    )
    SELECT d.doc_id,
           COALESCE(n_feats, 0) AS n_feats,
           COALESCE(score_micro, 0) AS score_micro,
           COALESCE(score_micro * c >= s, FALSE) AS keep
    FROM documents d LEFT JOIN sc ON sc.id = d.doc_id CROSS JOIN tot
    ORDER BY d.doc_id
    """


def _classifier_sql() -> str:
    """Mirror of curation.classifier_scores: per-doc mean of hashed
    unigram+bigram bucket weights (Knuth-hash pseudo weights shared
    verbatim), keep = cross-multiplied integer comparison."""
    feats_arr = cu.dsir_features("w", D)
    wgt = cu.clf_weight_expr(
        f"({dl.hash60('f', D)}) % {cu.CLF_BUCKETS}"
    )
    avg = dl.idiv("sum_w", "n_feats", D)
    return f"""
    WITH wdoc AS (
        SELECT doc_id AS id, {dl.words("text", D)} AS w FROM documents
    ),
    feats AS (
        SELECT id, CAST({wgt} AS BIGINT) AS wgt
        FROM (SELECT id, unnest({feats_arr}) AS f FROM wdoc)
    ),
    doc AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(wgt) AS BIGINT) AS sum_w
        FROM feats GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(n_feats, 0) AS n_feats,
           COALESCE(sum_w, 0) AS sum_w,
           CASE WHEN COALESCE(n_feats, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST({avg} AS BIGINT) END AS avg_micro,
           COALESCE(sum_w >= {cu.CLF_NEUTRAL} * n_feats, FALSE) AS keep
    FROM documents d LEFT JOIN doc ON doc.id = d.doc_id
    ORDER BY d.doc_id
    """


def _doremi_sql() -> str:
    """Mirror of curation.doremi_weights: the classifier per-doc scores
    (CTEs shared with _classifier_sql) reduce to a per-source frame,
    then DOREMI_ROUNDS polynomial-MW rounds unroll as CTE pairs
    (mixture loss -> reweight -> renormalize), uniform smoothing last.
    Domain/weight CTEs are MATERIALIZED — each feeds two consumers."""
    feats_arr = cu.dsir_features("w", D)
    wgt = cu.clf_weight_expr(
        f"({dl.hash60('f', D)}) % {cu.CLF_BUCKETS}"
    )
    avg = dl.idiv("sum_w", "n_feats", D)
    eta_div = cu.DOREMI_ETA_DEN
    cap = cu.DOREMI_LOSS_CAP
    sn, sd = cu.DOREMI_SMOOTH_NUM, cu.DOREMI_SMOOTH_DEN
    ctes = [
        f"""wdoc AS (
        SELECT doc_id AS id, {dl.words("text", D)} AS w FROM documents
    )""",
        f"""feats AS (
        SELECT id, CAST({wgt} AS BIGINT) AS wgt
        FROM (SELECT id, unnest({feats_arr}) AS f FROM wdoc)
    )""",
        """doc AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(wgt) AS BIGINT) AS sum_w
        FROM feats GROUP BY id
    )""",
        f"""ds AS (
        SELECT d.source,
               CASE WHEN COALESCE(n_feats, 0) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST({avg} AS BIGINT) END AS avg_micro
        FROM documents d LEFT JOIN doc ON doc.id = d.doc_id
    )""",
        """per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(avg_micro) AS BIGINT) AS score_sum
        FROM ds GROUP BY source
    )""",
        f"""per2 AS (
        SELECT source, n_docs,
               {dl.idiv("score_sum", "n_docs", D)} AS mean_micro
        FROM per
    )""",
        "best AS (SELECT CAST(MAX(mean_micro) AS BIGINT) AS best_micro"
        " FROM per2)",
        f"""dom AS MATERIALIZED (
        SELECT source, n_docs,
               LEAST(best_micro - mean_micro, CAST({cap} AS BIGINT))
                   AS loss_micro
        FROM per2 CROSS JOIN best
    )""",
        "kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom)",
        f"""w0 AS MATERIALIZED (
        SELECT source, n_docs, loss_micro,
               CAST(1000000 AS BIGINT) // k AS w
        FROM dom CROSS JOIN kk
    )""",
    ]
    for i in range(1, cu.DOREMI_ROUNDS + 1):
        ctes.append(f"""l{i} AS (
        SELECT CAST(SUM(w * loss_micro) // 1000000 AS BIGINT) AS lbar
        FROM w{i - 1}
    )""")
        ctes.append(f"""raw{i} AS MATERIALIZED (
        SELECT source, n_docs, loss_micro,
               CAST(w * (1000000 +
                    GREATEST(loss_micro - lbar, CAST(0 AS BIGINT))
                        // {eta_div}) AS BIGINT) AS raw
        FROM w{i - 1} CROSS JOIN l{i}
    )""")
        ctes.append(f"""t{i} AS (
        SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM raw{i}
    )""")
        ctes.append(f"""w{i} AS MATERIALIZED (
        SELECT source, n_docs, loss_micro,
               CAST(raw * 1000000 // tot AS BIGINT) AS w
        FROM raw{i} CROSS JOIN t{i}
    )""")
    joined = ",\n    ".join(ctes)
    last = cu.DOREMI_ROUNDS
    return f"""
    WITH {joined}
    SELECT source, n_docs, loss_micro, w AS w_ppm,
           CAST(({sd - sn} * w + {sn} * (CAST(1000000 AS BIGINT) // k))
                // {sd} AS BIGINT) AS w_smooth_ppm
    FROM w{last} CROSS JOIN kk
    ORDER BY source
    """


def _blocklist_sql() -> str:
    """Mirror of curation.with_blocklist — the shared blocklist_exprs
    rendered in the DuckDB dialect over the same wrapped token
    string."""
    e = cu.blocklist_exprs("text", D)
    hit_cols = ",\n           ".join(
        e[f"hits_{name}"] + f" AS hits_{name}" for name in cu.BLOCKLIST
    )
    total = " + ".join(f"hits_{name}" for name in cu.BLOCKLIST)
    toks = dl.words("COALESCE(text, '')", D)
    return f"""
    WITH staged AS (
        SELECT doc_id,
               CAST({dl.size(toks, D)} AS BIGINT) AS n_tokens,
               {e["_wrapped"]} AS w
        FROM documents
    ),
    scored AS (
        SELECT doc_id, n_tokens,
           {hit_cols}
        FROM staged
    )
    SELECT doc_id, n_tokens, {", ".join(f"hits_{n}" for n in cu.BLOCKLIST)},
           CAST({total} AS BIGINT) AS n_block_hits,
           ({total}) = 0 AS keep
    FROM scored ORDER BY doc_id
    """


def _rep_ngram_sql() -> str:
    """Mirror of curation.rep_ngram_stats (Gopher A1 char-mass
    repetition metrics, integer ppm)."""
    top_frac = (
        f"least(CAST({cu.REP_PPM} AS BIGINT), CAST("
        + dl.idiv(f"{cu.REP_PPM} * cnt * length(g)", "total_chars", D)
        + " AS BIGINT))"
    )
    return f"""
    WITH spine AS (
        SELECT doc_id AS id, {dl.words("text", D)} AS w FROM documents
    ),
    chars AS (
        SELECT id, w,
               CAST(length({dl.arr_join("w", " ", D)}) AS BIGINT)
                   AS total_chars
        FROM spine
    ),
    top_g AS (
        SELECT id, total_chars, unnest({dl.word_shingles_all("w", cu.REP_TOP_N, D)}) AS g
        FROM chars
    ),
    top_cnt AS (
        SELECT id, total_chars, g, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM top_g GROUP BY id, total_chars, g
    ),
    top1 AS (
        SELECT id,
               CASE WHEN total_chars > 0
                    THEN CAST({top_frac} AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS top_frac_ppm
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY cnt DESC, g) AS rn
            FROM top_cnt
        ) WHERE rn = 1
    ),
    dup_g AS (
        SELECT id, total_chars, unnest({dl.word_shingles_all("w", cu.REP_DUP_N, D)}) AS g
        FROM chars
    ),
    dup_cnt AS (
        SELECT id, total_chars, g, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM dup_g GROUP BY id, total_chars, g
    ),
    dup AS (
        SELECT id,
               CAST(COALESCE(SUM(CASE WHEN cnt >= 2
                    THEN cnt * length(g) END), 0) AS BIGINT) AS dup_chars,
               CASE WHEN MAX(total_chars) > 0 THEN
                 least(CAST({cu.REP_PPM} AS BIGINT), CAST(
                   {dl.idiv(f"{cu.REP_PPM} * CAST(COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt * length(g) END), 0) AS BIGINT)", "MAX(total_chars)", D)}
                 AS BIGINT))
                 ELSE CAST(0 AS BIGINT) END AS dup_frac_ppm
        FROM dup_cnt GROUP BY id
    )
    SELECT c.id AS doc_id, c.total_chars,
           COALESCE(t.top_frac_ppm, CAST(0 AS BIGINT)) AS top_frac_ppm,
           COALESCE(d.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
           COALESCE(d.dup_frac_ppm, CAST(0 AS BIGINT)) AS dup_frac_ppm
    FROM chars c
    LEFT JOIN top1 t ON c.id = t.id
    LEFT JOIN dup d ON c.id = d.id
    ORDER BY c.id
    """


def _pii_stats_sql() -> str:
    """Mirror of queries.training_data.curate_pii_stats: the SAME
    synthetic-PII construction (shared _pii_synth builder, DuckDB
    dialect), then an independent spelling of the detectors — DuckDB
    regexp_extract_all lengths, RE2 replaces, and the shared unrolled
    Luhn CASE sum (dialect.luhn16)."""
    from pipegen_spark.operators.curation import (
        PII_DETECTORS,
        PII_REDACT_ORDER,
    )
    from pipegen_spark.queries.training_data import _pii_synth

    synth = _pii_synth(D)
    counts = ",\n           ".join(
        f"CAST({dl.regexp_count('doc', PII_DETECTORS[k], D)} AS BIGINT)"
        f" AS n_{alias}"
        for k, alias in (
            ("email", "emails"), ("ipv4", "ipv4"),
            ("ssn", "ssn"), ("card", "cards"),
        )
    )
    red = "doc"
    for name in PII_REDACT_ORDER:
        red = dl.regexp_replace_all(red, PII_DETECTORS[name], "[PII]", D)
    luhn = dl.luhn16("card_run", D)
    return f"""
    WITH h AS (
        SELECT doc_id, COALESCE(text,'') AS text,
               md5(COALESCE(text,'')) AS hx
        FROM documents
    ),
    s AS (
        SELECT doc_id, {synth} AS doc FROM h
    ),
    det AS (
        SELECT doc_id, doc,
               regexp_extract(doc, '{PII_DETECTORS["card"]}', 0)
                   AS card_run
        FROM s
    )
    SELECT doc_id,
           {counts},
           CAST(CASE WHEN length(card_run) = 16 THEN {luhn} ELSE 0 END
                AS BIGINT) AS card_luhn_ok,
           CAST(length({red}) AS BIGINT) AS redacted_len
    FROM det ORDER BY doc_id
    """


def _url_canonical_sql() -> str:
    """Mirror of queries.training_data.dedup_url_canonical: shared
    raw-URL construction (_url_raw) + shared canonicalizer
    (dialect.url_canon), DuckDB dialect; grouping/aggregation spelled
    independently."""
    from pipegen_spark.queries.training_data import _url_raw

    raw = _url_raw(D)
    canon = dl.url_canon("raw_url", D)
    return f"""
    WITH u AS (
        SELECT doc_id, {raw} AS raw_url FROM documents
    ),
    c AS (
        SELECT doc_id, raw_url, {canon} AS canonical_url FROM u
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_distinct_raw,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM c GROUP BY canonical_url ORDER BY canonical_url
    """



TRAINING_ORACLE: dict[str, str] = {
    "curate_rep_ngram": _rep_ngram_sql(),
    "curate_classifier": _classifier_sql(),
    "curate_doremi": _doremi_sql(),
    "curate_blocklist": _blocklist_sql(),
    "curate_dsir": _dsir_sql(),
    "dedup_bloom": _bloom_sql(),
    "text_cms_topk": _cms_sql(),
    "curate_weighted_sample": _wsample_sql(),
    "curate_shuffle": _shuffle_sql(),
    "curate_drift": _drift_sql(),
    "curate_span_mask": _span_mask_sql(),
    "curate_fim": _fim_sql(),
    "text_bpe_pairs": _bpe_pairs_sql(),
    "text_bpe_train": _bpe_train_sql(),
    "text_bpe_encode": _bpe_encode_sql(),
    "text_diversity": _diversity_sql(),
    "multimodal_features": _multimodal_features_sql(),
    "multimodal_gif_features": _multimodal_gif_sql(),
    "multimodal_gif_frames": _gif_frames_sql(),
    "curate_pii_stats": _pii_stats_sql(),
    "dedup_url_canonical": _url_canonical_sql(),
    "multimodal_png_features": _multimodal_png_sql(),
    "multimodal_wav_features": _multimodal_wav_sql(),
    # FLAC carries the SAME md5-tiled sample surface as WAV by
    # construction (the container differs, the samples do not), so the
    # container-independent WAV oracle IS the FLAC oracle — any codec
    # bug perturbs the Spark side only and fails the hash.
    "multimodal_flac_features": _multimodal_wav_sql(),
    "multimodal_wav_energy": _wav_energy_sql(),
    "multimodal_vad_segments": _vad_segments_sql(),
    "multimodal_resample": _resample_sql(),
    "multimodal_patches": _patches_sql(),
    "multimodal_audio_fp": _audio_fp_sql(),
    "multimodal_frame_sample": _frame_sample_sql(),
    "multimodal_mjpeg_frames": _mjpeg_frames_sql(),
    # Property oracle (see multimodal_jpeg_roundtrip's docstring): JPEG
    # is lossy so decoded bytes are not SQL-derivable; the gated claim is
    # the reconstruction-error bound, which must hold for EVERY doc.
    "multimodal_jpeg_roundtrip": """
    SELECT doc_id,
           CAST(192 AS BIGINT) AS n_px,
           TRUE AS decode_ok
    FROM documents ORDER BY doc_id
    """,
    # Property oracle, same pattern: the progressive (SOF2) encode must
    # be a real multi-scan stream, decode bit-identical to the baseline
    # path, and reconstruct within the DCT-rounding bound — all three
    # must hold for EVERY doc.
    "multimodal_jpeg_progressive": """
    SELECT doc_id,
           TRUE AS sof2_ok,
           TRUE AS equal_baseline,
           TRUE AS decode_ok
    FROM documents ORDER BY doc_id
    """,
    # Property oracle, same pattern: 4:2:0 sampling factors recorded in
    # both SOFs, exact geometry back from subsampled planes, progressive
    # bit-identical to baseline, and the flat-color chroma-value pin —
    # all four must hold for EVERY doc.
    "multimodal_jpeg_420": """
    SELECT doc_id,
           TRUE AS hv_ok,
           TRUE AS geom_ok,
           TRUE AS equal_baseline,
           TRUE AS flat_ok
    FROM documents ORDER BY doc_id
    """,
    "embed_pq": _pq_sql(),
    "simsearch_pq": _pq_adc_sql(),
    "simsearch_ivfpq": _ivfpq_sql(),
    "simsearch_pq_recall": _pq_recall_sql(),
    "text_pmi": _pmi_sql(),
    "text_textrank": _textrank_sql(),
    "text_lm_bigram": _lm_bigram_sql(),
    "text_perplexity": _perplexity_sql(),
    "text_entropy": _entropy_sql(),
    "curate_kl_drift": _kl_drift_sql(),
    "curate_gopher": _gopher_sql(),
    "dedup_incremental": _incremental_sql(),
    "dedup_semantic": _semdedup_sql(auto_k=True),
    "dedup_semantic_ivf": _semdedup_ivf_sql(),
    "dedup_semantic_ivf_trained": _semdedup_ivf_sql(trained=True),
    "curate_split": (
        "SELECT doc_id, lang, source, "
        + cu.split_expr("doc_id", D)
        + " AS split FROM documents ORDER BY doc_id"
    ),
    "dedup_span_stats": _span_sql(),
    "dedup_substring": _substring_sql(),
    "dedup_containment": _containment_sql(),
    "embed_gram": _gram_sql(),
    "embed_top_direction": _top_direction_sql(),
    "simsearch_hybrid": _hybrid_sql(),
    "curate_budget": _budget_sql(),
    "text_rarity": _rarity_sql(),
    "text_chardiv": _chardiv_sql(),
    "text_winnow": _winnow_sql(),
    "simsearch_recall": _recall_sql(),
    "dedup_prefix": _prefix_sql(),
    "text_vocab": _vocab_sql(),
    "curate_mix": _mix_sql(),
    "curate_chunk": _chunk_sql(),
    "text_normalize": _normalize_sql(),
    "dedup_exact": """
        SELECT doc_id, content_hash, is_dup FROM (
            SELECT doc_id, md5(text) AS content_hash,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
                       AS is_dup
            FROM documents
        ) t ORDER BY doc_id
    """,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_clusters": _clusters_sql(),
    # dedup_cc_star is the same query as dedup_clusters (gate-window key).
    "dedup_cc_star": _clusters_sql(),
    "dedup_lpa": _lpa_sql(),
    "dedup_keep_best": _keep_best_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": _ngram_sql(),
    "dedup_tfidf_cosine": _tfidf_cos_sql(),
    "curate_unimax": _unimax_sql(),
    "curate_calibration": _calibration_sql(),
    "dedup_setjoin": _setjoin_sql(),
    "dedup_threshold_sweep": _threshold_sweep_sql(),
    "dedup_triangles": _triangles_sql(),
    "dedup_embedding_cosine": _emb_dup_sql(),
    "simsearch_bruteforce": _brute_force_sql(),
    "simsearch_range": _range_sql(),
    "simsearch_knn_graph": _knn_graph_sql(),
    "embed_hard_negatives": _hard_negatives_sql(),
    "simsearch_bitext": _bitext_sql(),
    "curate_preference_pairs": _preference_pairs_sql(),
    "curate_boilerplate": _boilerplate_sql(),
    "curate_length_stats": _length_stats_sql(),
    "curate_split_leakage": _split_leakage_sql(),
    "text_rake": _rake_sql(),
    "text_vocab_growth": _vocab_growth_sql(),
    "curate_quality_percentile": _quality_threshold_sql(),
    "curate_ensemble": _ensemble_sql(),
    "curate_near_dup_rate": _near_dup_rate_sql(),
    "embed_outliers": _outliers_sql(),
    "embed_dim_stats": _dim_stats_sql(),
    "simsearch_lsh": _lsh_sql(),
    "simsearch_ivf": _ivf_sql(),
    "text_tokens": _proj_sql(tx.token_stats_exprs("text", D)),
    "text_quality": _proj_sql(tx.quality_exprs("text", D)),
    "text_langid": _proj_sql(tx.langid_exprs("text", D)),
    "text_readability": _proj_sql(tx.readability_exprs("text", D)),
    "text_sentiment": _proj_sql(tx.sentiment_exprs("text", D)),
    "text_tfidf": _tfidf_sql(),
    "text_bm25": _bm25_sql(),
    "embed_normalize": _emb_normalize_sql(),
    "embed_quantize": _emb_quantize_sql(),
    "embed_cluster_sample": _cluster_sample_sql(),
    "embed_jl_project": _jl_sql(),
    "embed_kmeans": _emb_kmeans_sql(),
    "text_fingerprint": _proj_sql({"fp": tx.fingerprint_expr("text", D)}),
    "curate_contamination": _contamination_sql(),
    "curate_repetition": _repetition_sql(),
    "curate_redact": _redact_sql(),
    "curate_sample": _sample_sql(),
    "curate_pack": _pack_sql(),
    "multimodal_binary_stats": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS blob_md5
        FROM documents ORDER BY doc_id
    """,
}


def _typo_pairs_sql() -> str:
    """Mirror of text.typo_pairs: FastSS deletion variants -> equi-join
    candidates -> levenshtein verify (built-in on both engines)."""
    dels = (
        "list_distinct(list_concat([t], "
        "list_transform(range(1, length(t) + 1), "
        "i -> substr(t, 1, i - 1) || substr(t, i + 1))))"
    )
    return f"""
    WITH w AS (SELECT list_filter(regexp_split_to_array(lower(source),'[^a-z0-9]+'), x -> x <> '') AS w FROM documents),
    vocab AS (SELECT DISTINCT unnest(w) AS t FROM w),
    variants AS (SELECT t, unnest({dels}) AS v FROM vocab),
    cand AS (
        SELECT DISTINCT a.t AS term_a, b.t AS term_b
        FROM variants a JOIN variants b ON a.v = b.v AND a.t < b.t
    )
    SELECT term_a, term_b,
           CAST(levenshtein(term_a, term_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(term_a, term_b) <= 1
    ORDER BY term_a, term_b
    """


TRAINING_ORACLE["text_typo_pairs"] = _typo_pairs_sql()


def _mmr_sql() -> str:
    """Mirror of similarity.mmr_rerank: top-20 candidates -> pairwise
    sims -> 5 greedy MMR selection steps as an unrolled CTE chain."""
    from pipegen_spark.operators import similarity as _sim

    n, k = td.MMR_CANDIDATES, td.MMR_K
    ln, ld = _sim.MMR_LAMBDA_NUM, _sim.MMR_LAMBDA_DEN
    cos_q = dl.cosine_double("q.qv", "e.embedding", td.EMB_DIM, D)
    cos_p = dl.cosine_double("a.v", "b.v", td.EMB_DIM, D)
    ctes = [
        f"q AS (SELECT embedding AS qv FROM embeddings"
        f" WHERE vec_id = {td.HYBRID_QUERY_VEC})",
        f"""cand0 AS MATERIALIZED (
        SELECT e.vec_id AS neighbor_id, {cos_q} AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {td.HYBRID_QUERY_VEC}
        ORDER BY cos DESC, neighbor_id LIMIT {n}
    )""",
        """cand AS MATERIALIZED (
        SELECT c.neighbor_id, c.cos, e.embedding AS v
        FROM cand0 c JOIN embeddings e ON c.neighbor_id = e.vec_id
    )""",
        f"""pair AS MATERIALIZED (
        SELECT a.neighbor_id AS ida, b.neighbor_id AS idb, {cos_p} AS sim
        FROM cand a JOIN cand b ON a.neighbor_id <> b.neighbor_id
    )""",
        """sel1 AS (
        SELECT CAST(1 AS BIGINT) AS rank, neighbor_id, cos, cos AS mmr
        FROM cand ORDER BY cos DESC, neighbor_id LIMIT 1
    )""",
    ]
    for step in range(2, k + 1):
        prev = f"sel{step - 1}"
        ctes.append(f"""s{step} AS (
        SELECT CAST({step} AS BIGINT) AS rank, c.neighbor_id, c.cos,
               ({ln} * c.cos - {ld - ln} * COALESCE(p.maxsim, 0.0))
                   / {ld}.0 AS mmr
        FROM cand c
        LEFT JOIN (
            SELECT ida AS neighbor_id, MAX(sim) AS maxsim FROM pair
            WHERE idb IN (SELECT neighbor_id FROM {prev})
            GROUP BY ida
        ) p ON c.neighbor_id = p.neighbor_id
        WHERE c.neighbor_id NOT IN (SELECT neighbor_id FROM {prev})
        ORDER BY mmr DESC, c.neighbor_id LIMIT 1
    )""")
        ctes.append(
            f"sel{step} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT * FROM s{step})"
        )
    micro = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT rank, neighbor_id,
           {micro.format(x='cos')} AS cos_micro,
           {micro.format(x='mmr')} AS mmr_micro
    FROM sel{k} ORDER BY rank
    """
    )


TRAINING_ORACLE["simsearch_mmr"] = _mmr_sql()


def _matryoshka_sql() -> str:
    """Mirror of embed_matryoshka: full-dim exact top-k vs the 16-dim
    prefix ranking, joined to a per-query integer recall."""
    cos_full = dl.cosine_double("q.qv", "e.embedding", td.EMB_DIM, D)
    sl = dl.slice_("embedding", 1, td.MATRYOSHKA_DIM, D)
    cos_tr = dl.cosine_double("q.qv16", "e.ev16", td.MATRYOSHKA_DIM, D)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {td.N_QUERY_VECS}),
    full_rank AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos_full} DESC, e.vec_id
                   ) AS rnk
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) r WHERE rnk <= {td.TOPK_BRUTE}
    ),
    q16 AS (SELECT vec_id AS query_id, {sl} AS qv16 FROM embeddings
            WHERE vec_id < {td.N_QUERY_VECS}),
    e16 AS (SELECT vec_id, {sl} AS ev16 FROM embeddings),
    trunc_rank AS MATERIALIZED (
        SELECT query_id, neighbor_id, 1 AS hit FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos_tr} DESC, e.vec_id
                   ) AS rnk
            FROM e16 e CROSS JOIN q16 q
            WHERE e.vec_id <> q.query_id
        ) r WHERE rnk <= {td.TOPK_BRUTE}
    )
    SELECT f.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(t.hit) AS BIGINT) AS n_hits,
           (1000000 * CAST(COUNT(t.hit) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) AS recall_micro
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id ORDER BY f.query_id
    """


TRAINING_ORACLE["embed_matryoshka"] = _matryoshka_sql()


def _mm_phash_sql() -> str:
    """Mirror of multimodal_phash (dHash blocking over sha256 fields)."""
    from pipegen_spark.operators.multimodal import phash_expr

    ph = phash_expr("sha", D)
    return f"""
    WITH b AS (
        SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
    ),
    h AS (SELECT media_id, {ph} AS phash FROM b)
    SELECT media_id, phash,
           CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT)
               AS n_same_phash,
           (ROW_NUMBER() OVER (PARTITION BY phash ORDER BY media_id) > 1)
               AS is_phash_dup
    FROM h ORDER BY media_id
    """


TRAINING_ORACLE["multimodal_phash"] = _mm_phash_sql()


def _good_turing_sql() -> str:
    """Mirror of text.good_turing."""
    return f"""
    WITH {_W_CTE},
    toks AS (SELECT unnest(w) AS t FROM w),
    counts AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
               FROM toks GROUP BY t),
    nr AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
           FROM counts GROUP BY c)
    SELECT a.r, a.n_r,
           (1000000 * (a.r + 1) * COALESCE(b.n_r, 0)) // a.n_r
               AS r_star_micro
    FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
    ORDER BY a.r LIMIT {tx.GT_TOPR}
    """


def _kneser_ney_sql() -> str:
    """Mirror of text.kneser_ney_bigrams (d = 3/4, continuation counts,
    single cross-multiplied rational)."""
    d_n, d_d = tx.KN_DISC_NUM, tx.KN_DISC_DEN
    bigram_pairs = (
        "SELECT list_extract(w, CAST(i AS INT)) AS w1, "
        "list_extract(w, CAST(i + 1 AS INT)) AS w2 "
        f"FROM w, unnest({dl.bigram_idx('w', D)}) u(i)"
    )
    return f"""
    WITH {_W_CTE},
    occ AS ({bigram_pairs}),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM occ GROUP BY w1, w2),
    c1t AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS succ
            FROM big GROUP BY w1),
    predt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS pred
              FROM big GROUP BY w2),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM big)
    SELECT g.w1, g.w2, g.c12,
           CAST((1000000 * (t.b * GREATEST(
                     CAST({d_d} AS BIGINT) * g.c12 - {d_n},
                     CAST(0 AS BIGINT))
                 + {d_n} * c.succ * p.pred))
                // (CAST({d_d} AS BIGINT) * c.c1 * t.b) AS BIGINT)
               AS pkn_micro
    FROM big g
    JOIN c1t c ON g.w1 = c.w1
    JOIN predt p ON g.w2 = p.w2
    CROSS JOIN btot t
    ORDER BY pkn_micro DESC, g.w1, g.w2
    LIMIT {tx.KN_TOPK}
    """


TRAINING_ORACLE["text_good_turing"] = _good_turing_sql()
TRAINING_ORACLE["text_kneser_ney"] = _kneser_ney_sql()


def _temperature_sql() -> str:
    """Mirror of curation.temperature_weights (alpha = 1/2 -> IEEE
    sqrt, micro-quantized surfaces)."""
    micro = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"
    w = "sqrt(CAST(n_docs AS DOUBLE)) / sq_total"
    boost = (
        "(sqrt(CAST(n_docs AS DOUBLE)) / sq_total)"
        " * CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    )
    return f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               {dl.fold(dl.arr_sort("list(sqrt(CAST(n_docs AS DOUBLE)))", D), "CAST(0.0 AS DOUBLE)", "(acc, x) -> acc + x", D)} AS sq_total
        FROM counts
    )
    SELECT source, n_docs,
           (1000000 * n_docs) // total AS share_ppm,
           {micro.format(x=w)} AS weight_ppm,
           {micro.format(x=boost)} AS boost_micro
    FROM counts CROSS JOIN tot
    ORDER BY source
    """


TRAINING_ORACLE["curate_temperature"] = _temperature_sql()


def _domain_stats_chain() -> str:
    """Shared CTE chain for the domain family, ending at per(domain,
    n_docs, total_tokens, _score_sum) × tot(_all_docs, _all_tokens,
    _sq_total) — the exact Spark aggregate mirrored (same quality
    fragment, same pinned-order sqrt fold)."""
    q = tx.quality_exprs("text", D)
    dom = cu.domain_expr("doc_id", D)
    n_tok = dl.size(dl.words("text", D), D)
    fold = dl.fold(
        dl.arr_sort("list(sqrt(CAST(total_tokens AS DOUBLE)))", D),
        "CAST(0.0 AS DOUBLE)",
        "(acc, x) -> acc + x",
        D,
    )
    return f"""scored AS (
        SELECT {dom} AS domain,
               CAST({n_tok} AS BIGINT) AS n_tok,
               CAST(floor(({q['quality_score']}) * 1000000.0 + 0.5)
                    AS BIGINT) AS score_micro
        FROM documents
    ),
    per AS (
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(score_micro) AS BIGINT) AS score_sum
        FROM scored GROUP BY domain
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS all_docs,
               CAST(SUM(total_tokens) AS BIGINT) AS all_tokens,
               {fold} AS sq_total
        FROM per
    ),
    dstats AS (
        SELECT domain, n_docs, total_tokens,
               score_sum // n_docs AS mean_quality_micro,
               (1000000 * n_docs) // all_docs AS doc_share_ppm,
               (1000000 * total_tokens) // all_tokens AS token_share_ppm,
               CAST(floor((sqrt(CAST(total_tokens AS DOUBLE)) / sq_total)
                    * 1000000.0 + 0.5) AS BIGINT) AS mix_weight_ppm
        FROM per CROSS JOIN tot
    )"""


def _domain_stats_sql() -> str:
    """Mirror of curation.domain_stats."""
    return f"""
    WITH {_domain_stats_chain()}
    SELECT domain, n_docs, total_tokens, mean_quality_micro,
           doc_share_ppm, token_share_ppm, mix_weight_ppm
    FROM dstats ORDER BY domain
    """


def _domain_blocklist_sql() -> str:
    """Mirror of curation.domain_blocklist_gate: the stats chain, the
    |domains|-row verdict frame, and the per-doc join (low_quality wins
    the reason tie, as in the Spark CASE order)."""
    dom = cu.domain_expr("doc_id", D)
    return f"""
    WITH {_domain_stats_chain()},
    verdicts AS (
        SELECT domain,
               mean_quality_micro < {cu.DOM_MIN_MEAN_QUALITY_MICRO}
                   AS lowq,
               token_share_ppm > {cu.DOM_MAX_TOKEN_SHARE_PPM} AS mega
        FROM dstats
    )
    SELECT d.doc_id, v.domain,
           (NOT v.lowq AND NOT v.mega) AS domain_keep,
           CASE WHEN v.lowq THEN 'low_quality'
                WHEN v.mega THEN 'mega_domain'
                ELSE 'ok' END AS reason
    FROM (SELECT doc_id, {dom} AS domain FROM documents) d
    JOIN verdicts v ON d.domain = v.domain
    ORDER BY d.doc_id
    """


TRAINING_ORACLE["curate_domain_stats"] = _domain_stats_sql()
TRAINING_ORACLE["curate_domain_blocklist"] = _domain_blocklist_sql()


def _burstiness_sql() -> str:
    """Mirror of text.term_burstiness."""
    return f"""
    WITH {_W_CTE},
    toks AS (SELECT id, unnest(w) AS t FROM w),
    per_doc AS (
        SELECT t, id, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY t, id
    ),
    moments AS (
        SELECT t, CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM per_doc GROUP BY t
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT t AS term, s AS total, df,
           (1000000 * (n.n * s2 - s * s)) // (n.n * s) AS vmr_micro
    FROM moments CROSS JOIN n
    ORDER BY total DESC, term LIMIT {tx.BURST_TOPK}
    """


TRAINING_ORACLE["text_burstiness"] = _burstiness_sql()


def _warc_extract_sql() -> str:
    """Mirror of queries.training_data.text_warc_extract from md5(text)
    hex + octet_length alone: n_records = 2 + nibble27 % 3 (warcinfo +
    k requests + response), http_status = 200 + nibble26 % 4,
    body_bytes = the UTF-8 byte length the HTTP payload carried."""
    nib26 = "CAST(('0x' || substr(hx, 26, 1)) AS INT)"
    nib27 = "CAST(('0x' || substr(hx, 27, 1)) AS INT)"
    return f"""
    WITH h AS (
        SELECT doc_id, COALESCE(text,'') AS t,
               md5(COALESCE(text,'')) AS hx
        FROM documents
    )
    SELECT doc_id,
           CAST(2 + ({nib27}) % 3 AS BIGINT) AS n_records,
           CAST(200 + ({nib26}) % 4 AS BIGINT) AS http_status,
           CAST(octet_length(encode(t)) AS BIGINT) AS body_bytes
    FROM h ORDER BY doc_id
    """


TRAINING_ORACLE["text_warc_extract"] = _warc_extract_sql()


def _pipeline_e2e_sql() -> str:
    """Mirror of queries.training_data.curate_pipeline_e2e — the whole
    curation stack as ONE statement, each stage the SAME expression
    builders as its standalone oracle (langid_exprs / _pii_synth /
    redact_exprs / gopher_exprs / classifier CTEs / the histogram-cutoff
    gate / the minhash+reach chain via their parameterized builders /
    quality_exprs / split_expr), re-pointed at the previous stage's CTE
    instead of `documents`. The WARC front door reduces to identity on
    text + the md5-derived http_status (extraction is a roundtrip —
    `_warc_extract_sql` gates the framing itself). `red` and `kept` are
    MATERIALIZED: each feeds 3+ consumers (regex redaction and the
    shingle chain would otherwise re-inline per consumer)."""
    nib26 = "CAST(('0x' || substr(md5(COALESCE(text,'')), 26, 1)) AS INT)"
    lang = tx.langid_exprs("text", D)
    lang_cols = ", ".join(f"{e} AS {n}" for n, e in lang.items())
    synth = td._pii_synth(D)
    red_x = cu.redact_exprs("pii_doc", D)
    n_pii = " + ".join(red_x[f"n_{name}"] for name in cu.PII_PATTERNS)
    gop = cu.gopher_exprs("redacted", D, w="w", **td.GOPHER_TUNE)
    feats_arr = cu.dsir_features("_cw", D)
    wgt = cu.clf_weight_expr(f"({dl.hash60('f', D)}) % {cu.CLF_BUCKETS}")
    q = tx.quality_exprs("redacted", D)
    score_micro = (
        f"CAST(floor(({q['quality_score']}) * 1000000.0 + 0.5) AS BIGINT)"
    )
    k = dl.idiv(f"n * {cu.QP_KEEP_FRAC_PPM}", str(cu.PCT_PPM), D)
    w_kept = (
        f"w AS (SELECT doc_id AS id, {dl.words('redacted', D)} AS w "
        "FROM kept)"
    )
    split = cu.split_expr("k.doc_id", D)
    return f"""
    WITH RECURSIVE
    ing AS (
        SELECT doc_id, source, COALESCE(text,'') AS text,
               CAST(200 + ({nib26}) % 4 AS BIGINT) AS http_status
        FROM documents
    ),
    lid AS (SELECT *, {lang_cols} FROM ing),
    en AS (SELECT * FROM lid WHERE pred_lang = '{td.E2E_LANG}'),
    pii AS (SELECT *, md5(text) AS hx FROM en),
    pii2 AS (SELECT *, {synth} AS pii_doc FROM pii),
    red AS MATERIALIZED (
        SELECT doc_id, source, pred_lang, http_status,
               CAST({n_pii} AS BIGINT) AS n_pii,
               {red_x['redacted']} AS redacted
        FROM pii2
    ),
    gw AS (SELECT doc_id, redacted, {dl.words("redacted", D)} AS w
           FROM red),
    g AS (SELECT doc_id, {gop['gopher_keep']} AS gopher_keep FROM gw),
    feats AS (
        SELECT id, CAST({wgt} AS BIGINT) AS wgt
        FROM (SELECT doc_id AS id, unnest({feats_arr}) AS f
              FROM (SELECT doc_id, {dl.words("redacted", D)} AS _cw
                    FROM red))
    ),
    clf AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(wgt) AS BIGINT) AS sum_w
        FROM feats GROUP BY id
    ),
    c AS (
        SELECT r.doc_id,
               COALESCE(sum_w >= {cu.CLF_NEUTRAL} * n_feats, FALSE)
                   AS clf_keep
        FROM red r LEFT JOIN clf ON clf.id = r.doc_id
    ),
    scored AS (
        SELECT doc_id, source, {score_micro} AS score_micro FROM red
    ),
    hist AS (
        SELECT source, score_micro, CAST(COUNT(*) AS BIGINT) AS hc
        FROM scored GROUP BY source, score_micro
    ),
    cum AS (
        SELECT source, score_micro,
               SUM(hc) OVER (PARTITION BY source ORDER BY score_micro DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumc,
               SUM(hc) OVER (PARTITION BY source) AS n
        FROM hist
    ),
    cuts AS (
        SELECT source, MAX(score_micro) AS cutoff_micro
        FROM cum WHERE {k} > 0 AND cumc >= {k}
        GROUP BY source
    ),
    p AS (
        SELECT s.doc_id,
               (s.score_micro >=
                   COALESCE(ct.cutoff_micro, {cu.QT_CUTOFF_NONE}))
                   AS pct_keep
        FROM scored s LEFT JOIN cuts ct ON s.source = ct.source
    ),
    kept AS MATERIALIZED (
        SELECT red.* FROM red
        JOIN g USING (doc_id) JOIN c USING (doc_id) JOIN p USING (doc_id)
        WHERE gopher_keep AND clf_keep AND pct_keep
    ),
    {_minhash_pairs_ctes(w_kept)},
    {_reach_ctes("kept")},
    sized AS (
        SELECT l.doc_id, l.cluster_id, cs.cluster_size
        FROM lab l JOIN (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM lab GROUP BY cluster_id
        ) cs USING (cluster_id)
    ),
    q AS (SELECT doc_id, {q['quality_score']} AS quality_score FROM kept),
    best AS (
        SELECT s.doc_id, s.cluster_size, q.quality_score,
               ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                                  ORDER BY q.quality_score DESC, s.doc_id)
                   = 1 AS keep
        FROM sized s JOIN q USING (doc_id)
    )
    SELECT k.doc_id, k.source, k.pred_lang, k.http_status, k.n_pii,
           b.cluster_size,
           CAST(floor(b.quality_score * 1000000.0 + 0.5) AS BIGINT)
               AS score_micro,
           {split} AS split
    FROM kept k JOIN best b USING (doc_id)
    WHERE b.keep
    ORDER BY k.doc_id
    """


TRAINING_ORACLE["curate_pipeline_e2e"] = _pipeline_e2e_sql()


def _hll_sql() -> str:
    """Mirror of queries.training_data.text_hll_distinct: per-doc
    distinct bigram shingles (multiplicity is irrelevant to both a
    distinct count and a MAX register), the shared hash60 -> (j, w,
    rho) register derivation, the bounded MAX aggregate, and the SAME
    integer estimator with the SAME literal constants
    (operators/sketches.py builders render both dialects)."""
    from pipegen_spark.operators import sketches as sk

    h = dl.hash60("s", D)
    w_bits = 60 - sk.HLL_P
    pow2 = f"(CAST(1 AS BIGINT) << ({w_bits + 1} - r))"
    return f"""
    WITH w AS (SELECT doc_id, source, {dl.words("text", D)} AS w
               FROM documents),
    sh AS (SELECT source, unnest({dl.word_shingles("w", td.MINHASH_K, D)})
               AS s FROM w),
    hv AS (SELECT source AS g, {h} AS h FROM sh),
    ex AS (SELECT g, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
           FROM hv GROUP BY g),
    hw AS (SELECT g, {dl.shr('h', str(w_bits), D)} AS j,
                  (h % {1 << w_bits}) AS wv
           FROM hv),
    reg AS (
        SELECT g, j, MAX({sk.hll_rho_case('wv')}) AS r
        FROM hw GROUP BY g, j
    ),
    per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM({pow2}) AS BIGINT) AS s53p
        FROM reg GROUP BY g
    ),
    est AS (
        SELECT g, ({sk.HLL_M} - nb) AS v_empty,
               s53p + ({sk.HLL_M} - nb)
                   * CAST({1 << (w_bits + 1)} AS BIGINT) AS s53
        FROM per
    ),
    er AS (
        SELECT g, v_empty,
               {dl.mul_ppm(f"({sk.hll_e0_expr('s53', D)})", sk.HLL_ALPHA_PPM, D)}
                   AS eraw
        FROM est
    )
    SELECT er.g AS source, ex.n_exact,
           CAST(er.v_empty AS BIGINT) AS v_empty,
           CAST(CASE WHEN eraw <= {sk.HLL_SMALL} AND v_empty > 0
                THEN {sk.hll_linear_case('v_empty')}
                ELSE eraw END AS BIGINT) AS hll_estimate,
           CASE WHEN eraw <= {sk.HLL_SMALL} AND v_empty > 0
                THEN 'linear' ELSE 'raw' END AS correction,
           CAST({dl.idiv('abs((CASE WHEN eraw <= ' + str(sk.HLL_SMALL) + ' AND v_empty > 0 THEN ' + sk.hll_linear_case('v_empty') + ' ELSE eraw END) - n_exact) * 1000000', 'GREATEST(n_exact, 1)', D)}
               AS BIGINT) AS err_ppm
    FROM er JOIN ex USING (g)
    ORDER BY source
    """


TRAINING_ORACLE["text_hll_distinct"] = _hll_sql()


def _stupid_backoff_sql() -> str:
    """Mirror of text.stupid_backoff_scores: reference/new split on
    NEW_BATCH_PATTERN, the three reference n-gram count tables, the
    new-batch trigram positions left-joined through the backoff
    ladder, and the per-doc aggregate with the level histogram —
    every score the same pre-scaled integer division."""
    from pipegen_spark.operators.text import (
        SB_L1_SCALE,
        SB_L2_SCALE,
        SB_L3_SCALE,
    )

    is_new = dl.rlike("source", td.NEW_BATCH_PATTERN, D)
    tri_idx = dl.filter_(
        dl.seq("1", f"greatest({dl.size('w', D)} - 2, 1)", D),
        f"i -> i <= ({dl.size('w', D)}) - 2",
        D,
    )
    return f"""
    WITH wd AS (SELECT doc_id AS id, source, {dl.words("text", D)} AS w
                FROM documents),
    refw AS (SELECT * FROM wd WHERE NOT {is_new}),
    neww AS (SELECT * FROM wd WHERE {is_new}),
    tri_ref AS (
        SELECT {dl.elem("w", "i", D)} AS w1,
               {dl.elem("w", "i + 1", D)} AS w2,
               {dl.elem("w", "i + 2", D)} AS w3
        FROM (SELECT w, unnest({tri_idx}) AS i FROM refw)
    ),
    c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS cnt3
           FROM tri_ref GROUP BY w1, w2, w3),
    bi_ref AS (
        SELECT {dl.elem("w", "i", D)} AS w1,
               {dl.elem("w", "i + 1", D)} AS w2
        FROM (SELECT w, unnest({dl.bigram_idx("w", D)}) AS i FROM refw)
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2
           FROM bi_ref GROUP BY w1, w2),
    c1 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt1
           FROM (SELECT unnest(w) AS t FROM refw) GROUP BY t),
    nt AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS n_total FROM c1),
    tri_new AS (
        SELECT id, {dl.elem("w", "i", D)} AS w1,
               {dl.elem("w", "i + 1", D)} AS w2,
               {dl.elem("w", "i + 2", D)} AS w3
        FROM (SELECT id, w, unnest({tri_idx}) AS i FROM neww)
    ),
    scored AS (
        SELECT t.id,
               CASE
                   WHEN c3.cnt3 IS NOT NULL THEN
                       {dl.idiv(f"{SB_L1_SCALE} * c3.cnt3", "c2.cnt2", D)}
                   WHEN b2.cnt2b IS NOT NULL THEN
                       {dl.idiv(f"{SB_L2_SCALE} * b2.cnt2b", "u2.cnt1", D)}
                   WHEN u3.cnt1 IS NOT NULL THEN
                       {dl.idiv(f"{SB_L3_SCALE} * u3.cnt1", "nt.n_total", D)}
                   ELSE 0 END AS s_micro,
               CASE WHEN c3.cnt3 IS NOT NULL THEN 1
                    WHEN b2.cnt2b IS NOT NULL THEN 2
                    WHEN u3.cnt1 IS NOT NULL THEN 3 ELSE 0 END AS lvl
        FROM tri_new t
        LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
        LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
        LEFT JOIN (SELECT w1 AS bw2, w2 AS bw3, cnt2 AS cnt2b FROM c2)
            b2 ON t.w2 = b2.bw2 AND t.w3 = b2.bw3
        LEFT JOIN c1 u2 ON t.w2 = u2.t
        LEFT JOIN c1 u3 ON t.w3 = u3.t
        CROSS JOIN nt
    ),
    per_doc AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
               CAST(SUM(s_micro) AS BIGINT) AS s_sum,
               CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_l1,
               CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_l2,
               CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_l3,
               CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov
        FROM scored GROUP BY id
    )
    SELECT n.id AS doc_id,
           COALESCE(p.n_trigrams, 0) AS n_trigrams,
           CAST({dl.idiv("COALESCE(p.s_sum, 0)",
                         "GREATEST(COALESCE(p.n_trigrams, 0), 1)", D)}
               AS BIGINT) AS avg_micro,
           COALESCE(p.n_l1, 0) AS n_l1,
           COALESCE(p.n_l2, 0) AS n_l2,
           COALESCE(p.n_l3, 0) AS n_l3,
           COALESCE(p.n_oov, 0) AS n_oov
    FROM (SELECT DISTINCT id FROM neww) n
    LEFT JOIN per_doc p ON n.id = p.id
    ORDER BY doc_id
    """


TRAINING_ORACLE["text_stupid_backoff"] = _stupid_backoff_sql()
