"""Graph analytics over an edge list: deterministic PageRank and
triangle counting.

Companion to components.py (which turns similarity pairs into dedup
clusters): PageRank ranks nodes *within* the similarity graph — e.g.
the most-connected document in a near-duplicate neighborhood, a
centrality-based alternative to q_dedup_keep_best's quality argmax
for choosing cluster representatives.

Determinism discipline: each iteration's rank updates are sums of
per-edge contributions, and double summation is order-dependent under
parallelism — so contributions are cast to DECIMAL(38,18) before the
aggregate (order-independent exact addition, same trick as
relational.dsum), making ranks bit-stable across runs, partitionings,
and cluster sizes. Per-round cost is one shuffle join (edges⋈ranks on
the uniform node key) plus one keyed aggregate — the same shape as
connected_components, and the only shape that holds at 100 TB.

Beyond-reference capability (SURVEY.md §7 phase 3; the reference has
no graph surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,18)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    directed: bool = False,
) -> DataFrame:
    """(node, rank) after a fixed number of power iterations.

    Undirected by default (edges are symmetrized), so every node has
    out-degree ≥ 1 and no dangling-mass correction is needed. In
    directed mode the node set is the union of sources AND sinks, and
    dangling nodes (out-degree 0 — e.g. pure sinks) redistribute their
    rank mass uniformly each iteration, the standard correction —
    ranks over the node set sum to 1 either way (up to the final
    double cast). A fixed iteration count (not a convergence epsilon)
    keeps the result a pure function of the input.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    if not directed:
        e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().persist()

    out_deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(out_deg, "a").select("a", "b", "deg").persist()
    links.count()

    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    e.unpersist()
    base = (1.0 - damping) / n_nodes
    # Dangling nodes: no outgoing edges (only possible in directed
    # mode). Their rank mass would otherwise leak out of the system
    # each iteration, deflating every rank.
    dangling = nodes.join(
        out_deg.select(F.col("a").alias("node")), "node", "left_anti"
    ).persist()
    has_dangling = directed and dangling.count() > 0

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(iterations):
        contribs = links.join(ranks, links["a"] == ranks["node"]).select(
            F.col("b").alias("node"),
            (F.col("rank") / F.col("deg")).cast(_DEC).alias("contrib"),
        )
        summed = contribs.groupBy("node").agg(
            F.sum("contrib").alias("mass")
        )
        if directed:
            # Nodes with no in-links keep the teleport term only —
            # the left join is load-bearing only on the directed path.
            new_ranks = nodes.join(summed, "node", "left").select(
                "node",
                F.coalesce(F.col("mass"), F.lit(0).cast(_DEC)).alias(
                    "mass"
                ),
            )
        else:
            # Symmetrized edges ⇒ every node is a target of at least
            # one contribution, so summed's key set IS the node set —
            # the nodes left-join would be a per-round no-op costing a
            # join stage (A/B-measured ~2.4x on the whole loop,
            # bit-identical ranks; BASELINE.md@be14222 round 6).
            new_ranks = summed
        if has_dangling:
            # One-row decimal aggregate of dangling rank, broadcast to
            # every node as a uniform share — no driver collect.
            dmass = (
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.coalesce(
                        F.sum(F.col("rank").cast(_DEC)), F.lit(0).cast(_DEC)
                    ).alias("dmass")
                )
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dmass)).select(
                "node",
                (F.col("mass") + (F.col("dmass") / F.lit(n_nodes)).cast(_DEC)).alias(
                    "mass"
                ),
            )
        new_ranks = new_ranks.select(
            "node",
            (F.lit(base) + F.lit(damping) * F.col("mass").cast("double")).alias(
                "rank"
            ),
        )
        # Iterative lineage MUST be truncated, not just cached: with
        # persist() alone the logical plan (and per-round analysis
        # cost) grows linearly with the iteration count. localCheckpoint
        # cuts the plan to a leaf; on a multi-node cluster use reliable
        # checkpoint(dir) for executor-loss tolerance.
        # EVERY round, deliberately: these iteration relations are
        # control-plane sized, so the wall is Catalyst analysis of the
        # per-round plan, not job launch — an every-2nd-round cadence
        # was A/B-measured SLOWER (the doubled plan depth costs more to
        # optimize than the saved action; BASELINE.md@be14222 round 6).
        # eager=False was tried and REJECTED in r13 (the
        # pipelined-rounds idea): q_pagerank_sim_graph regressed
        # 6.1 -> 9.0 s in a controlled same-session A/B.  Under AQE,
        # localCheckpoint(eager=False) is not actually lazy — creating
        # the LogicalRDD calls queryExecution.toRdd, and an adaptive
        # plan's toRdd materializes every shuffle stage right there —
        # so the "deferred" variant ran the same per-round shuffles at
        # checkpoint() time PLUS re-ran each round's unpersisted result
        # stage inside later rounds' planning and the final action.
        ranks = new_ranks.localCheckpoint(eager=True)
    links.unpersist()
    nodes.unpersist()
    dangling.unpersist()
    return ranks


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

    Why integers instead of the decimal accumulation of pagerank():
    int64 sums are order-free AND restatable bit-for-bit in any SQL
    engine — double→decimal casts are not (Spark rounds the double's
    shortest decimal rendering, other engines round its exact binary
    expansion, and the 18th digit disagrees). Per iteration each node
    sends floor(rank_units / deg) to every neighbor and the new rank is
    base_units + floor(damping_num * mass / damping_den); total mass is
    bounded by `scale` (1e15 << 2**63), so no overflow at any corpus
    size, and the whole fixpoint is a pure integer function of the edge
    set — hash-matchable by an unrolled CTE oracle. The per-round plan
    is the same join+aggregate shape as pagerank(); lineage is
    truncated per round with localCheckpoint for the same reason.

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
        # Lineage truncated EVERY round, deliberately — see the
        # comment in pagerank(): the A/B-measured every-2nd-round
        # cadence was slower (plan-analysis cost dominates for these
        # control-plane-sized relations).  eager=False measured and
        # REJECTED in r13 (see pagerank()): AQE makes the "lazy"
        # checkpoint execute its shuffles at toRdd time anyway, and the
        # unpersisted result stages re-run per reference — controlled
        # A/B read 6.1 -> 9.0 s on q_pagerank_sim_graph.
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
