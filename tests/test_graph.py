"""Unit tests for graph operators (operators/graph.py)."""

from __future__ import annotations

from pipegen_spark.operators import graph as gr


def _ranks(spark, edge_list, iters=3):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["id"]: r["rank_micro"]
        for r in gr.pagerank_fixed(df, iters=iters).collect()
    }


def test_pagerank_hub_outranks_leaves(spark):
    # Undirected star: hub 0 connected to leaves 1..5.
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    ranks = _ranks(spark, edges)
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    # Leaves are symmetric — identical integer ranks.
    assert len({ranks[i] for i in range(1, 6)}) == 1


def test_pagerank_mass_approximately_conserved(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    ranks = _ranks(spark, edges, iters=4)
    total = sum(ranks.values())
    # DIV truncation loses < (n_nodes + n_edges) units per iteration.
    assert gr.PR_SCALE - 4 * 6 <= total <= gr.PR_SCALE
    # Symmetric ring: all equal.
    assert len(set(ranks.values())) == 1


def test_pagerank_deterministic(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2)]
    assert _ranks(spark, edges) == _ranks(spark, edges)


def test_pagerank_empty_edge_set_yields_no_rows(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert gr.pagerank_fixed(df).collect() == []


# --- alternating-star connected components ----------------------------------


def _star_clusters(spark, n_nodes, pair_list, **kw):
    from pipegen_spark.operators import dedup as dd

    nodes = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], ["doc_id"]
    )
    pairs = spark.createDataFrame(pair_list, "doc_a long, doc_b long")
    return {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dd.dup_clusters(nodes, pairs, "doc_id", **kw).collect()
    }


def test_cc_star_transitive_and_singletons(spark):
    out = _star_clusters(spark, 7, [(1, 2), (2, 3), (4, 5)])
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[4] == (4, 2) and out[5] == (4, 2)
    assert out[6] == (6, 1) and out[0] == (0, 1)


def test_cc_star_long_chain_logarithmic_rounds(spark):
    # A 40-node path has diameter 39: label propagation would need ~39
    # rounds, star contraction must finish inside 8 alternating rounds.
    n = 40
    out = _star_clusters(
        spark, n, [(i, i + 1) for i in range(n - 1)], max_rounds=8
    )
    assert all(out[i] == (0, n) for i in range(n))


def test_cc_star_empty_pairs_all_singletons(spark):
    out = _star_clusters(spark, 3, [])
    assert out == {0: (0, 1), 1: (1, 1), 2: (2, 1)}


def test_cc_star_self_loop_and_duplicate_pairs(spark):
    out = _star_clusters(spark, 3, [(1, 1), (1, 2), (2, 1), (1, 2)])
    assert out[1] == (1, 2) and out[2] == (1, 2) and out[0] == (0, 1)


def test_cc_star_random_graphs_match_union_find(spark):
    # Seeded random graphs, plus a fixed graph mixing a chain, a triangle,
    # reversed pairs and singletons, vs a Python union-find ground truth:
    # star contraction must produce the component-min labeling exactly.
    import random

    graphs = []
    for seed in (7, 21, 99):
        rng = random.Random(seed)
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
        graphs.append((seed, 30, edges))
    graphs.append(
        ("mixed", 14, [(9, 8), (8, 7), (1, 2), (2, 3), (3, 1), (12, 11)])
    )
    for name, n, edges in graphs:
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # Component-min labels + sizes from the union-find model.
        lbl = {i: find(i) for i in range(n)}
        sizes = {}
        for v in lbl.values():
            sizes[v] = sizes.get(v, 0) + 1
        expect = {i: (lbl[i], sizes[lbl[i]]) for i in range(n)}

        assert _star_clusters(spark, n, edges) == expect, f"graph {name}"


def test_cc_star_rejects_nonpositive_max_rounds(spark):
    import pytest

    from pipegen_spark.operators.graph import cc_star_labels

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_rounds"):
        cc_star_labels(pairs, max_rounds=0)


def test_triangle_counts_planted(spark):
    from pipegen_spark.operators.graph import triangle_counts

    # triangle {1,2,3}, chain 4-5-6 (no triangle), pendant 3-7
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6), (3, 7)],
        "doc_a long, doc_b long",
    )
    out = {r["node"]: r for r in triangle_counts(pairs).collect()}
    assert {n: out[n]["n_triangles"] for n in sorted(out)} == {
        1: 1, 2: 1, 3: 1, 4: 0, 5: 0, 6: 0, 7: 0,
    }
    assert out[3]["degree"] == 3 and out[5]["degree"] == 2
    # two triangles sharing an edge: add {2,3,8}
    pairs2 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 8), (3, 8)],
        "doc_a long, doc_b long",
    )
    out2 = {r["node"]: r["n_triangles"]
            for r in triangle_counts(pairs2).collect()}
    assert out2 == {1: 1, 2: 2, 3: 2, 8: 1}


def test_label_propagation_separates_bridged_cliques(spark):
    """The reason LPA exists next to CC: two 4-cliques joined by ONE
    bridge edge are a single connected component, but synchronous
    majority-label propagation keeps them as two communities (the
    bridge minority never outvotes the clique majority)."""
    from pipegen_spark.operators.graph import label_propagation_fixed

    clique_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique_b = [
        (a, b) for a in range(10, 14) for b in range(10, 14) if a < b
    ]
    bridge = [(3, 10)]
    pairs = spark.createDataFrame(
        clique_a + clique_b + bridge, "doc_a long, doc_b long"
    )
    got = {
        r["id"]: r["lbl"]
        for r in label_propagation_fixed(pairs, rounds=4).collect()
    }
    comm_a = {got[i] for i in range(4)}
    comm_b = {got[i] for i in range(10, 14)}
    assert comm_a == {0}, got
    assert comm_b == {10}, got


def test_label_propagation_rounds_validation():
    import pytest as _pt

    from pipegen_spark.operators.graph import label_propagation_fixed

    with _pt.raises(ValueError):
        label_propagation_fixed(None, rounds=0)
