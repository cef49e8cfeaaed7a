"""Graph operators over edge sets: fixed-iteration PageRank,
alternating-star connected components (the one CC kernel; near-dup
clustering in operators/dedup.py dup_clusters runs on it), triangle
counts and label-propagation community detection.

Together with Lloyd's k-means (operators/embeddings.py) this is the
iterative-algorithm family: each iteration is a plain join + aggregate
over the EDGE set, unrolled or bounded in rounds so the whole
computation stays declarative and oracle-checkable.

Scale design (100 TB discipline):
- Per iteration: ONE shuffle keyed on the destination node for the
  contribution aggregate; the rank-to-edge join is an equi-join on the
  source node (hash-partitioned; AQE broadcasts if ranks are small).
- Integer arithmetic throughout: total rank mass is PR_SCALE integer
  units, per-edge contributions and the damping step use DIV — the
  truncation is deterministic and identical on both engines, so the
  oracle is bit-exact (the mass lost to truncation per iteration is
  < n_nodes + n_edges units, i.e. < 1e-6 of the mass at the default
  scale — irrelevant for ranking).
- The node count reaches every row as a broadcast 1-row aggregate, not
  a driver-side collect.

Reference parity: the reference (mcolomerc/pipegen) has no graph
operators; this extends it per the north star (SURVEY.md §2B-B29 [EXT]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipegen_spark.functions import dialect as dl
from pipegen_spark.operators.spill import spill_to_parquet

PR_SCALE = 10**12  # total rank mass in integer units
PR_DAMP_NUM = 85  # damping factor 0.85 as a rational
PR_DAMP_DEN = 100


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set.

    Every node must have out-degree >= 1 (no dangling-mass step; feed
    symmetric edges for an undirected graph). Returns
    (id, rank_micro) for every node, rank in PR_SCALE integer units.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    # Materialize the edge set ONCE (same discipline as cc_star_labels):
    # `edges` is often the tail of an expensive pipeline (here a distinct
    # over the fact scan), and it feeds nodes, out-degrees AND every
    # iteration's contribution join — without a cut each unrolled round
    # re-executes that whole upstream plan (measured: 5.4 s -> 4.1 s
    # warm at sf0.1 on the supply graph — the remaining cost is the
    # fixed per-stage floor of the unrolled rounds).
    edges = spill_to_parquet(edges.select(src, dst), label="graph")
    nodes = (
        edges.select(src.alias("id"))
        .unionByName(edges.select(dst.alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(src.alias("id")).agg(F.count("*").alias("od"))
    ncnt = nodes.agg(F.count("*").alias("n"))
    base = nodes.crossJoin(F.broadcast(ncnt))
    ranks = base.select(
        "id", "n", F.expr(dl.idiv(str(PR_SCALE), "n", dl.SPARK)).alias("r")
    )
    teleport = dl.idiv(
        f"{(PR_DAMP_DEN - PR_DAMP_NUM)} * CAST({PR_SCALE} AS BIGINT)",
        f"{PR_DAMP_DEN} * n",
        dl.SPARK,
    )
    damped = dl.idiv(
        f"{PR_DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))",
        str(PR_DAMP_DEN),
        dl.SPARK,
    )
    for _ in range(iters):
        contribs = (
            edges.select(src.alias("id"), dst.alias("to"))
            .join(outdeg, "id")
            .join(ranks.select("id", "r"), "id")
            .select(
                F.col("to").alias("id"),
                F.expr(dl.idiv("r", "od", dl.SPARK)).alias("c"),
            )
        )
        sums = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (
            base.join(sums, "id", "left")
            .select(
                "id",
                "n",
                F.expr(f"({teleport}) + ({damped})").alias("r"),
            )
            # NOT checkpointed per round: with the edge set materialized
            # the re-executed lineage is rank-frame-sized joins only, and
            # a measured A/B showed per-round eager checkpoints cost more
            # in extra jobs than they save (4.1 s -> 5.1 s warm at
            # sf0.1). For many more iterations (or big rank frames),
            # spill every K rounds.
        )
    return ranks.select("id", F.col("r").alias("rank_micro"))


# --- connected components: alternating large-star / small-star ---------------


def cc_star_labels(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Connected components of an undirected pair graph via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Returns (id, lbl) for
    every node that touches an edge, lbl = component minimum as LONG.

    Why star contraction rather than min-label propagation: propagation
    needs O(component diameter) rounds, so a chain-shaped component of
    length L costs L rounds. Star contraction HALVES tree heights every
    large+small round, so it converges in O(log n) rounds on ANY
    topology — the shape you want when the edge set at 100 TB is not
    guaranteed shallow (link graphs, cross-corpus duplicate chains).

    Per round this is two groupBy-min + join passes over the EDGE set:
    - large-star: over the symmetric neighbor list, attach every
      neighbor v > u to m = min(N(u) ∪ {u});
    - small-star: over edges oriented (child > parent), attach the
      child and all its smaller neighbors to their minimum.
    Both shuffles key on the star center, and the min-aggregate is
    map-side partial — shuffle volume is O(|E|) ids per round, never
    documents. The edge frame is spilled every round (the frame
    typically SHRINKS as stars collapse) and convergence is a single
    scalar count of non-star edges over the spill — no driver-side
    edge materialization.
    Deterministic: every step is a MIN.
    """
    if max_rounds < 1:
        # The for/else non-convergence message formats `non_star`, which
        # is only bound once the loop body runs — reject up front.
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    # Canonical (child, parent) orientation, child > parent; self-loops
    # dropped. The input pair list is usually the tail of an expensive
    # pipeline (LSH banding + verify) — materialize it once.
    e = spill_to_parquet(
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).cast("long").alias("c"),
            F.least(F.col(a_col), F.col(b_col)).cast("long").alias("p"),
        )
        .filter(F.col("c") != F.col("p"))
        .distinct(),
        label="cc",
    )
    for _ in range(max_rounds):
        # Large-star: symmetric neighborhoods; m = min(N(u) ∪ {u}) which
        # over (c,p) rows is min(p) when grouped on u because every
        # neighbor list contains a smaller node unless u is a root.
        sym = e.select(F.col("c").alias("u"), F.col("p").alias("v")).unionByName(
            e.select(F.col("p").alias("u"), F.col("c").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # The intermediate distinct is NOT redundant in practice: an A/B
        # without it (relying on the small-star MIN being duplicate-
        # insensitive and the terminal distinct) measured marginally
        # SLOWER (1.78 s vs 1.59 s warm at sf0.1 on the materialised
        # pair set) — duplicate inflation through the small-star join
        # costs more than the dedup shuffle saves. Same A/B showed an
        # every-2-rounds convergence cadence saves nothing here (star
        # graphs converge in ~2 rounds), so the per-round scalar check
        # stays.
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("c"), F.col("m").alias("p"))
            .filter(F.col("c") != F.col("p"))
            .distinct()
        )
        # Small-star: group the (child > parent) edges by child; attach
        # the child and every smaller neighbor to the minimum parent.
        smins = large.groupBy("c").agg(F.min("p").alias("m"))
        small = spill_to_parquet(
            large.join(smins, "c")
            .select(F.col("p").alias("c"), F.col("m").alias("p"))
            .filter(F.col("c") != F.col("p"))
            .unionByName(smins.select(F.col("c"), F.col("m").alias("p")))
            .distinct(),
            label="cc",
        )
        # Converged when every edge already points at a star center: no
        # child is also a parent. One scalar semi-join count.
        non_star = (
            small.alias("x")
            .join(
                small.select(F.col("c").alias("p")).distinct(),
                "p",
                "left_semi",
            )
            .count()
        )
        e = small
        if non_star == 0:
            break
    else:
        # Exhausting max_rounds without converging would return
        # intermediate tree parents, not component minimums — silently
        # breaking the component-min contract on adversarial
        # topologies. Star contraction halves tree heights per round, so
        # 12 rounds covers ~2^12-deep trees; anything deeper must fail
        # loudly, not approximately.
        raise RuntimeError(
            f"cc_star_labels did not converge in {max_rounds} rounds "
            f"({non_star} non-star edges remain); raise max_rounds"
        )
    # Star edges ARE the labeling: child → component min; centers label
    # themselves (and dedup._finish_clusters' coalesce labels the nodes
    # off the edge set).
    roots = e.select(F.col("p").alias("id"), F.col("p").alias("lbl")).distinct()
    return e.select(F.col("c").alias("id"), F.col("p").alias("lbl")).unionByName(
        roots
    )


# --- triangle counting (round-7) ---------------------------------------------


def triangle_counts(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Per-node triangle count + degree over an undirected pair graph
    (input edges id-oriented a < b, deduplicated — the near-dup pair
    frame's shape). Triangle density separates tight duplicate cliques
    from accidental chains: a near-dup CLUSTER of mutually-similar docs
    is triangle-rich, while a transitive false-positive chain
    (A~B~C but not A~C) has none — the standard cluster-quality
    diagnostic on top of connected components.

    Algorithm: each triangle {a<b<c} is counted exactly once by joining
    wedges (a,b)+(b,c) with the closing edge (a,c) — two equi-joins on
    node keys, both partial-aggregable afterwards. Shuffle volume is
    O(Σ deg²) wedge rows; at 100 TB scale the standard refinement is to
    orient edges low-degree → high-degree instead of by id (caps wedge
    count at O(E^1.5) on skewed graphs) — for bounded-degree near-dup
    graphs the id orientation is already linear. Per-node counts credit
    all three corners via one explode + groupBy.

    Output: (node, degree, n_triangles) for every node incident to an
    edge, ordered by node. Callers wanting zeros for isolated docs left
    join from their id frame.
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    ).distinct()
    # The edge frame is consumed by THREE join branches (both wedge
    # sides + the closing edge); without a cut, Spark re-executes the
    # upstream pair pipeline (often an expensive MinHash chain) once per
    # branch. Materialize it — edges are O(near-dup pairs), orders of
    # magnitude smaller than the corpus (the pagerank edge discipline).
    e = spill_to_parquet(e, label="triangles")
    wedges = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    tri = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    )
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
        )
        .orderBy("node")
    )


def label_propagation_fixed(
    pairs: DataFrame,
    rounds: int = 4,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    over an undirected pair graph, unrolled a FIXED number of rounds
    with deterministic tie-breaks. Returns (id, lbl) for every node
    that touches an edge.

    Community detection next to connected components: CC merges
    everything reachable, so one false-positive near-dup edge welds two
    unrelated duplicate families into one cluster; LPA labels converge
    to DENSE neighborhoods (each node adopts its neighbors' majority
    label), so a single bridge edge leaves the two families as distinct
    communities — the diagnostic used to spot transitive-chain
    contamination in a dedup graph (tests pin exactly this
    two-cliques-one-bridge separation).

    Determinism (the oracle requirement): updates are SYNCHRONOUS
    (round t reads only round t-1 labels — the paper's asynchronous
    sweep is order-dependent), the winning label is (count DESC, label
    ASC) — a pure MIN over (-count, label) structs — and the round
    count is fixed rather than run-to-convergence, exactly like
    `pagerank_fixed`. Labels start as the node ids.

    Shape (100 TB): per round ONE aggregate keyed on (dst, lbl) and one
    on dst — both map-side partial; shuffle volume is O(|E|) label
    messages per round, never documents. The EDGE frame is spilled
    once (it is the tail of an expensive LSH pipeline); the label frame
    is NOT barriered per round — each round references the previous
    labels exactly once, so the unrolled plan grows linearly over the
    spilled edges and stays lazy (measured: per-round eager checkpoints
    cost 9.5 s vs 2.5 s cold at sf0.1 — four serialized round-trips for
    nothing).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = spill_to_parquet(
        edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ).distinct(),
        label="lpa",
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for _ in range(rounds):
        msgs = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy("dst", "lbl")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            msgs.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("negc"),
                        F.col("lbl").alias("lbl"),
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("id"), F.col("m.lbl").alias("lbl"))
        )
    return labels
