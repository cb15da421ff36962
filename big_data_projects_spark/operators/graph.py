"""Graph analytics over an edge list: exact-integer PageRank, triangle
counting and label propagation.

Companion to components.py (which turns similarity pairs into dedup
clusters): PageRank ranks nodes *within* the similarity graph — e.g.
the most-connected document in a near-duplicate neighborhood, a
centrality-based alternative to q_dedup_keep_best's quality argmax
for choosing cluster representatives.

Determinism discipline: each iteration's rank updates are sums of
per-edge contributions, and double summation is order-dependent under
parallelism — so ranks are held in int64 units (order-free exact
addition, see pagerank_units), making them bit-stable across runs,
partitionings, and cluster sizes. Per-round cost is one shuffle join
(edges⋈ranks on the uniform node key) plus one keyed aggregate — the
same shape as connected_components, and the only shape that holds at
100 TB.

Beyond-reference capability (SURVEY.md §7 phase 3; the reference has
no graph surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_units(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 17,
    damping_den: int = 20,
    iterations: int = 10,
    scale: int = 10**15,
) -> DataFrame:
    """Exact integer-arithmetic PageRank (undirected): (node,
    rank_units, rank) after a fixed number of power iterations, with
    every quantity held in int64 "units" of 1/scale.

    Why integers instead of a decimal accumulation of double ranks:
    int64 sums are order-free AND restatable bit-for-bit in any SQL
    engine — double→decimal casts are not (Spark rounds the double's
    shortest decimal rendering, other engines round its exact binary
    expansion, and the 18th digit disagrees). Per iteration each node
    sends floor(rank_units / deg) to every neighbor and the new rank is
    base_units + floor(damping_num * mass / damping_den); total mass is
    bounded by `scale` (1e15 << 2**63), so no overflow at any corpus
    size, and the whole fixpoint is a pure integer function of the edge
    set — hash-matchable by an unrolled CTE oracle. The per-round plan
    is one join plus one aggregate; lineage is truncated per round with
    localCheckpoint.

    The floor at each hop leaks < 1 unit (1e-15) of mass per node per
    round — irrelevant for ranking, and identical on both engines.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().persist()

    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(deg, "a").select("a", "b", "deg").persist()
    # Symmetrized edges ⇒ every node appears as a source, so the node
    # set derives from links — and counting it materializes the links
    # cache in the same pass: ONE pre-loop action instead of two.
    nodes = links.select(F.col("a").alias("node")).distinct().persist()
    n_nodes = nodes.count()
    e.unpersist()

    base_units = ((damping_den - damping_num) * scale) // (
        damping_den * n_nodes
    )
    ranks = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("r")
    )
    for _ in range(iterations):
        contribs = links.join(ranks, links["a"] == ranks["node"]).select(
            F.col("b").alias("node"),
            F.expr("r DIV deg").alias("contrib"),
        )
        # Symmetrized edges ⇒ every node receives at least one
        # contribution (the node set IS distinct(links.a) ==
        # distinct(links.b)), so the defensive nodes left-join the
        # loop used to carry was a per-round no-op that cost a join
        # stage — removing it A/B-measured ~2.4x on the whole loop
        # with bit-identical ranks (BASELINE.md@be14222 round 6).
        ranks = contribs.groupBy("node").agg(
            F.sum("contrib").alias("mass")
        ).select(
            "node",
            (
                F.lit(base_units)
                + F.expr(
                    f"({damping_num} * mass) DIV {damping_den}"
                )
            ).cast("long").alias("r"),
        )
        # Iterative lineage MUST be truncated, not just cached: with
        # persist() alone the logical plan (and per-round analysis
        # cost) grows linearly with the iteration count.
        # localCheckpoint cuts the plan to a leaf; on a multi-node
        # cluster use reliable checkpoint(dir) for executor-loss
        # tolerance.  EVERY round, deliberately: the A/B-measured
        # every-2nd-round cadence was slower (plan-analysis cost
        # dominates for these control-plane-sized relations).
        # eager=False measured and REJECTED in r13: under AQE,
        # localCheckpoint(eager=False) is not lazy — creating the
        # LogicalRDD calls queryExecution.toRdd, which materializes
        # every shuffle stage right there — and the unpersisted result
        # stages re-run per reference; controlled A/B read 6.1 -> 9.0 s
        # on q_pagerank_sim_graph.
        ranks = ranks.localCheckpoint(eager=True)
    links.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles) for an undirected graph.

    Edges are canonicalized to (a < b) and deduplicated (self-loops
    dropped), then each triangle {a < b < c} is counted exactly once by
    the standard two-join enumeration: wedge (a,b)+(b,c) closed by
    (a,c). Both joins are keyed equi-joins on node ids — shuffle-
    partitionable, no cross join — which is the shape that survives
    scale-out; skew from high-degree hub nodes is the known hazard and
    is handled by AQE skew-split at runtime (enabled session-wide).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    e.count()
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("wa"), F.col("e1.b").alias("wb"), F.col("e2.b").alias("wc")
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .agg(F.count_distinct("n").alias("n_nodes"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
    return out


def label_propagation(
    edges: DataFrame, n_iter: int = 2, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Synchronous label propagation (community detection), made fully
    deterministic: every node starts as its own label and each round
    adopts the most frequent label among its NEIGHBORS (count desc,
    then smallest label — the tiebreak that makes sync LPA, normally
    run with random tie choices, reproducible and oracle-checkable).
    Fixed rounds, no convergence probe: each round is one equi-join of
    the symmetric edge list with the label table plus one count
    aggregate and a per-node argmax window (hash-partitioned by node)
    — O(E) shuffle per round, unrolled identically in the SQL oracle.

    Returns (node, community) for every node with at least one edge.
    """
    from pyspark.sql import Window

    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_iter):
        nb = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("a").orderBy(F.desc("c"), F.col("label"))
        labels = (
            nb.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("a").alias("node"), "label")
        )
    return labels.select("node", F.col("label").alias("community"))
