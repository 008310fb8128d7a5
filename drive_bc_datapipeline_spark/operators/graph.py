"""Distributed connected components (iterative label propagation).

The missing last step of every dedup pipeline: near-dup PAIRS →
duplicate CLUSTERS (pick one canonical doc per component). Exact
groups are trivial (hash equality is transitive) but near-dup
similarity is NOT transitive, so clustering requires a graph traversal.

Algorithm: min-label propagation. Every node starts labeled with its
own id; each round a node takes the min of its label and its
neighbors' labels; fixpoint = components labeled by their min node id.
Each round is two shuffles (labels ⋈ edges, then min-groupBy) — all
DataFrame ops, driver only checks the convergence counter.

Scale notes (billions of edges):
- Rounds needed = graph diameter. Dedup-cluster components are tiny
  and dense (near-clique), so 2-4 rounds suffice; the
  large-star/small-star transformation (Kiveris et al.) is the
  documented upgrade path for long-chain graphs, same join mechanics.
- ``localCheckpoint`` every round truncates the lineage — without it
  the plan doubles per iteration and planning time explodes.
- Labels frame is (node, label): 16 bytes a row, partitioned on node;
  edge frame is re-used as-is each round (cache it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.session import cached, pin


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in `edges`; component = min
    node id reachable. Raises if not converged within max_iter."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    with cached(sym):  # every round joins the edge set
        labels = pin(
            sym.select(F.col("u").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label")),
            "cc initial labels",
        )
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym.v == labels.node)
                .select(sym.u.alias("n"), "label")
                .groupBy("n")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.n, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                        "changed"
                    ),
                )
            ).localCheckpoint(eager=False)  # truncate lineage every round;
            # non-eager: the convergence count below is the round's first
            # action, so it materializes the checkpoint blocks itself —
            # one job per round instead of checkpoint-job + count-job.
            n_changed = new_labels.filter("changed").count()
            labels = new_labels.drop("changed")
            if n_changed == 0:
                return labels.select("node", F.col("label").alias("component"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )


def connected_components_lsss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — O(log n) rounds on ANY graph shape, vs the
    O(diameter) of plain label propagation.

    ``connected_components`` wins on dedup graphs (near-clique
    components, diameter 1-2); THIS is the scale path for long-chain
    topologies — citation graphs, session stitching, entity
    resolution — where diameter, and therefore the naive round count,
    grows with the data.

    Both star operations keep every edge canonically ordered
    (hi, lo): large-star hangs each node's strictly-larger neighbors
    off its minimum neighborhood member; small-star re-points each
    node's smaller-or-equal neighbors (and itself) at that minimum.
    Each operation is one groupBy + one equi-join — two shuffles a
    round, with the round COUNT logarithmic. Fixpoint = a star per
    component: every node directly attached to its component minimum.
    """
    # canonical (hi, lo) undirected edge set, self-loops dropped
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct(),
        "lsss edges",
    )
    all_nodes = pin(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct(),
        "lsss nodes",
    )

    def large_star(cur: DataFrame) -> DataFrame:
        sym = cur.select("u", "v").unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(center) = min over neighborhood ∪ self
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # attach strictly-larger neighbors to m; m <= center < neighbor
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # edges already (hi=u, lo=v): group each center's smaller nbrs
        m = cur.groupBy("u").agg(F.min("v").alias("m"))
        nbr_edges = (
            cur.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        center_edges = m.select("u", F.col("m").alias("v"))
        return (
            nbr_edges.unionByName(center_edges)
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    for _ in range(max_iter):
        # non-eager checkpoint: the fixpoint count below is the
        # round's first action and materializes the blocks — one job
        # per round instead of two.
        new_e = small_star(large_star(e)).localCheckpoint(eager=False)
        # fixpoint test: same canonical edge multiset (both are
        # distinct sets, so count + left-anti emptiness suffices)
        changed = (
            new_e.count() != e.count()
            or new_e.join(e, ["u", "v"], "left_anti").limit(1).count() > 0
        )
        e = new_e
        if not changed:
            star = e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            )
            return (
                all_nodes.join(star, "node", "left")
                .select(
                    "node",
                    F.coalesce("component", "node").alias("component"),
                )
            )
    raise RuntimeError(
        f"connected_components_lsss did not converge in {max_iter} rounds"
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank via the standard join-agg iteration
    (GraphX/Pregel semantics, expressed as DataFrame ops).

    Each round: every node sends ``rank * w / out_w`` along its
    out-edges (one join + one groupBy — two shuffles), dangling mass
    (nodes with no out-edges) is redistributed uniformly, and
    ``rank' = (1-d)/N + d * (received + dangling/N)``. Ranks sum to 1
    every round.

    Scale notes: the edges frame is cached once and re-partitioned on
    ``src`` so each iteration's join is co-located; the ranks frame is
    |nodes| rows. Lineage is truncated with a pin every round —
    without it the plan doubles per iteration. For
    convergence-driven runs, loop until max |Δrank| < tol instead of a
    fixed count (same mechanics, one extra tiny agg per round).

    Returns (node, rank).
    """
    spark = edges.sparkSession
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    outw = (
        edges.groupBy(src)
        .agg(F.sum(weight).cast("double").alias("out_w"))
    )
    # per-edge transition probability, partitioned once on src so every
    # iteration's rank join is exchange-free on the edge side
    trans = (
        edges.join(outw, src)
        .select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            (F.col(weight).cast("double") / F.col("out_w")).alias("p"),
        )
        .repartition("e_src")
    )
    with cached(nodes, outw, trans):
        n_nodes = nodes.count()
        has_out = outw.select(F.col(src).alias("node"))
        ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
        ranks = pin(ranks, "pagerank initial ranks")
        for _ in range(n_iter):
            contribs = (
                trans.join(
                    ranks.withColumnRenamed("node", "e_src"), "e_src"
                )
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
            )
            dangling = (
                ranks.join(has_out, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass"))
            )
            ranks = pin(
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n_nodes)
                        + damping
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.col("mass") / n_nodes
                        )
                    ).alias("rank"),
                ),
                "pagerank round",
            )
        # the final ranks frame is checkpoint-truncated, so the
        # iteration scaffolding is safe to release on every exit path
        return ranks


def triangle_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Single-row (n_nodes, n_edges, n_triangles, global_clustering)
    for an undirected simple graph.

    Edges are canonicalized to (u < v) and deduplicated, then each
    triangle is counted exactly once by the ordered wedge join:
    e1(a,b) ⋈ e2(b,c) enumerates candidate wedges with a < b < c, and
    one more equi-join on (a,c) closes them. Global clustering =
    3·triangles / wedges, wedges = Σ_node d(d−1)/2.

    At 100 TB the wedge join's fan-out is bounded by orienting each
    edge from its lower-degree endpoint (every wedge then pivots at
    its lowest-degree vertex — Suri & Vassilvitskii's MR-friendly
    bound); id-orientation used here is the same plan with a cheaper
    orientation key and an identical count, since triangle counts are
    orientation-invariant.
    """
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct(),
        "triangle edges",  # feeds 4 subtrees; one build
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nodes_n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    wedge_sum = deg.agg(
        F.coalesce(F.sum(F.col("d") * (F.col("d") - 1)), F.lit(0)).alias("w2")
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        nodes_n.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedge_sum))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.when(F.col("w2") == 0, F.lit(0.0))
            .otherwise(F.lit(6.0) * F.col("n_tri") / F.col("w2"))
            .alias("global_clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection).

    The graph is treated as undirected (edges are symmetrized and
    parallel edges' weights summed). Every node starts labeled with
    itself; each round ALL nodes simultaneously adopt the label
    carrying the maximum incident weight among their neighbors'
    current labels (self-loops let a node's own community weigh in),
    ties broken by the smallest label — so the result is fully
    deterministic, unlike the async/random-order textbook variant.

    Per round: one join keyed on the edge source + one (node, label)
    aggregation + a per-node top-1 window — two shuffles, the same
    scale shape as `pagerank`. The symmetric edge frame is partitioned
    once on its join key and cached for the call; lineage is truncated
    per round with a pin.

    Returns (node, label).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("w"))
        .unionAll(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"), F.col(weight).alias("w"))
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("double").alias("w"))
        .repartition("a")
    )
    with cached(sym):  # every round joins the edge set
        labels = pin(
            sym.select(F.col("a").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label")),
            "lpa initial labels",
        )
        top = Window.partitionBy("node").orderBy(
            F.desc("wsum"), F.asc("label")
        )
        for _ in range(n_iter):
            labels = pin(
                sym.join(labels.withColumnRenamed("node", "a"), "a")
                .groupBy(F.col("b").alias("node"), "label")
                .agg(F.sum("w").alias("wsum"))
                .withColumn("rn", F.row_number().over(top))
                .filter(F.col("rn") == 1)
                .select("node", "label"),
                "lpa round",
            )
    return labels
