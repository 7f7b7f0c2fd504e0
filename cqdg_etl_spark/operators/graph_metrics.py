"""Graph EVALUATION metrics — modularity of a given labeling and
multi-source BFS hop distances.

Scale shapes (100-TB posture):
- ``modularity`` is two equi-joins (edge ends → labels) + one
  map-side-combinable groupBy over communities; the only non-equi
  node is the 1-row (m, two_m) scalar broadcast — the reviewed
  bounded-BNLJ class used fleet-wide for global scalars.
- ``bfs_hops`` is the iterative frontier expansion: per round ONE
  equi-join (frontier × adjacency) + one anti-join (drop visited) +
  distinct, lineage truncated per round (graph.py discipline). Work
  per round is O(edges touched by the frontier); rounds are bounded
  by ``max_hops`` — never a transitive-closure blowup.

No reference counterpart (Ferlab-Ste-Justine/cqdg-etl has no graph
analytics); shapes chosen for Spark's execution model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.operators.graph import _truncate


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community Newman modularity terms for a GIVEN labeling.

    ``edges``: undirected simple graph, one row per edge (src < dst
    by convention; no self loops). ``labels``: (node, label) — edges
    with an unlabeled endpoint are dropped (inner joins), and Q is
    computed over the LABELED subgraph: m, degrees, internal counts,
    AND node membership all come from the surviving edges (a node
    whose every incident edge was dropped is not a member), so the
    metric stays internally consistent when the labeling is partial.

    Q = Σ_c [ e_c/m − (d_c/(2m))² ] over communities c, where m is
    the total edge count, e_c the number of edges with BOTH ends in
    c, and d_c the sum of degrees of c's nodes. Returns one row per
    community: (label, n_nodes, internal_edges, degree_sum, q_term)
    — Σ q_term is Q, but the per-community decomposition is the
    useful audit (which communities are denser than chance).

    Engine-exactness: e_c, d_c, m are exact integers; q_term is two
    IEEE divisions + one multiply + one subtract on those integers,
    quantized floor(x·1e6+0.5)/1e6 — bit-identical on any engine
    that evaluates the same expression tree.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    la = labels.select(
        F.col(node_col).alias("_s"), F.col(label_col).alias("_la")
    )
    lb = labels.select(
        F.col(node_col).alias("_d"), F.col(label_col).alias("_lb")
    )
    # labeled feeds FOUR aggregates (degree terms, internal edges,
    # membership, the m scalar) — persisted (r11) so the caller's
    # edge-generation subtree (for the registered query: a lineitem
    # self-join + distinct) evaluates once, not once per consumer.
    labeled = e.join(la, "_s").join(lb, "_d").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # Degree sum per community: each edge contributes 1 to each end's
    # degree — aggregate both endpoint labels in one pass (explode the
    # two labels per edge, then count), map-side combinable.
    deg_terms = labeled.select(
        F.explode(F.array(F.col("_la"), F.col("_lb"))).alias("label")
    )
    d_c = deg_terms.groupBy("label").agg(F.count("*").alias("degree_sum"))

    e_c = (
        labeled.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").alias("internal_edges"))
    )

    # Node membership comes from the LABELED edge frame (ADVICE r8) —
    # the same frame m/degree_sum/internal_edges aggregate — so a node
    # whose every incident edge was dropped (unlabeled neighbor) does
    # not count toward n_nodes with a zero degree contribution. Each
    # node has one label, so distinct (node, label) counts it once.
    n_c = (
        labeled.select(F.col("_s").alias("n"), F.col("_la").alias("label"))
        .unionByName(
            labeled.select(F.col("_d").alias("n"), F.col("_lb").alias("label"))
        )
        .distinct()
        .groupBy("label")
        .agg(F.count("*").alias("n_nodes"))
    )

    # 1-row scalar, broadcast — the LABELED edge count (see docstring).
    m_row = labeled.agg(F.count("*").alias("_m"))

    out = (
        n_c.join(d_c, "label", "left")
        .join(e_c, "label", "left")
        .join(F.broadcast(m_row))
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("internal_edges"), F.lit(0).cast("long")).alias(
                "internal_edges"
            ),
            F.coalesce(F.col("degree_sum"), F.lit(0).cast("long")).alias(
                "degree_sum"
            ),
            F.col("_m"),
        )
    )
    frac = F.col("internal_edges").cast("double") / F.col("_m").cast("double")
    half = F.col("degree_sum").cast("double") / (
        F.col("_m").cast("double") * F.lit(2.0)
    )
    q_term = frac - half * half
    return out.select(
        "label",
        "n_nodes",
        "internal_edges",
        "degree_sum",
        (F.floor(q_term * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0))
        .alias("q_term"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 64,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over an undirected simple
    graph given as canonical distinct pairs (src < dst): score every
    NON-adjacent pair (u < v) sharing ≥ 1 neighbor by
    |N(u)∩N(v)| / |N(u)∪N(v)|. The set-overlap complement of
    Adamic–Adar (graph.py::adamic_adar — same wedge join, different
    weighting): Jaccard normalizes by neighborhood size, so a pair of
    low-degree nodes with one shared neighbor can outrank a hub pair.

    Scale shape: the wedge enumeration is the degree-oriented
    common-neighbor equi-join with the SAME ``max_center_degree`` hub
    guard as adamic_adar — a center with degree d emits d² wedges, so
    hot hubs are excluded from the CENTER role (documented, mirrored
    in oracles; capped centers under-count `common` by the same
    reviewed approximation). Degrees come from the FULL adjacency
    (one map-side-combinable aggregate); existing edges anti-join
    out; the division is one IEEE op over exact integers, quantized
    at 6 dp.

    Returns (a, b, common, deg_a, deg_b, jaccard) for pairs with
    jaccard ≥ ``min_jaccard``.

    The input contract is not checked. The symmetrized adjacency is not
    deduplicated, so duplicate pairs or a pair given in both directions
    give silently WRONG results, not just extra work: inflated degrees
    and common-neighbor counts, hence wrong Jaccard values. Deduplicate
    and canonicalize (src < dst) before calling.
    """
    from pyspark import StorageLevel

    # Multi-consumer persists (r11 adamic_adar pattern, guide §5.4): e
    # feeds the symmetrized adjacency (twice) AND the existing-edge
    # anti-join; adj feeds the degree aggregate AND the center join;
    # w feeds both wedge sides; deg feeds centers AND both score-side
    # degree joins. Without them the caller's pair-generation subtree
    # (a lineitem self-join + distinct in the registered query)
    # re-evaluates up to 5× — exchange reuse does not fire across the
    # differing projections/keys. All four are skinny 2-column frames.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # No distinct on the symmetrized union: the input contract is
    # canonical DISTINCT pairs (a < b), so the reversed copies cannot
    # collide with the forward ones — same reasoning as adamic_adar,
    # and the oracle's adj is UNION ALL for the same reason. (The
    # removed distinct was a full exchange over 2|E| rows.)
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    centers = deg.filter(F.col("deg") <= max_center_degree).select(
        F.col("node").alias("u")
    )
    w = adj.select(F.col("a").alias("u"), F.col("b").alias("v")).join(
        centers, "u"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w1 = w.select("u", F.col("v").alias("p"))
    w2 = w.select("u", F.col("v").alias("q"))
    wedges = w1.join(w2, "u").filter(F.col("p") < F.col("q"))
    common = wedges.groupBy("p", "q").agg(F.count("*").alias("common"))
    nonadj = common.join(
        e.select(F.col("a").alias("p"), F.col("b").alias("q")),
        ["p", "q"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("p"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("q"), F.col("deg").alias("deg_b"))
    scored = (
        nonadj.join(da, "p")
        .join(db, "q")
        .select(
            F.col("p").alias("a"),
            F.col("q").alias("b"),
            "common",
            "deg_a",
            "deg_b",
            (
                F.floor(
                    F.col("common").cast("double")
                    / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
                    .cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= F.lit(min_jaccard))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    checkpoint: str = "local",
) -> DataFrame:
    """Multi-source BFS: min hop distance (≤ max_hops) from any source.

    Returns (node, hop) for every node reachable within ``max_hops``
    (sources themselves at hop 0). Classic Pregel frontier expansion:
    per round the CURRENT frontier joins the symmetrized adjacency
    (equi-join on node id), newly-seen nodes become the next frontier
    (anti-join against the visited set), lineage truncated per round
    so the plan doesn't grow with the hop count. Deterministic: hop
    is the minimum distance regardless of visit order because a node
    entering the visited set at round k can only be reached at ≥ k
    by construction.
    """
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    frontier = sources.select(F.col(source_col).alias("node")).distinct()
    visited = frontier.withColumn("hop", F.lit(0).cast("int"))
    visited = _truncate(visited, checkpoint)
    frontier = visited.select("node")
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(k).cast("int"))
        )
        nxt = _truncate(nxt, checkpoint)
        visited = _truncate(visited.unionByName(nxt), checkpoint)
        frontier = nxt.select("node")
    return visited
