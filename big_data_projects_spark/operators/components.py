"""Connected components over an edge list — the step that turns
pairwise duplicate findings (Jaccard / LSH / SimHash pairs) into
dedup *clusters*, so a corpus can keep exactly one representative per
group of mutual near-duplicates.

Algorithm: iterative min-label propagation, pure DataFrame ops. Each
round every node takes the minimum component label among itself and
its neighbors; convergence in O(component diameter) rounds. Near-dup
clusters are dense (pairs come from a similarity threshold), so
diameters are tiny — with the min-neighbor seed below, 2-3 rounds in
practice. At extreme scale the per-round cost is one shuffle join on
the edge list plus one aggregate, both keyed by node id (uniform);
the large-star/small-star variant (Kiveris et al., "Connected
Components in MapReduce and Beyond") halves round count on
pathological chain graphs but shares the same per-round shape.

The per-round convergence check is a driver-side one-row collect —
control-plane only (one long per round), never row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_checkpoint(df: DataFrame | None) -> None:
    """Best-effort unpersist of a localCheckpoint leaf's blocks: a
    checkpointed Dataset's analyzed plan is a LogicalRDD
    whose underlying RDD localCheckpoint() left persisted in the
    BlockManager; without an explicit release every round's blocks
    linger until driver GC / ContextCleaner collects the abandoned
    handles, so peak storage grows with round count instead of O(1).
    ``df.rdd.unpersist()`` would NOT work — ``.rdd`` wraps a fresh
    deserialized RDD, not the persisted internal one.  Blocking=False:
    freeing is cleanup, never worth a synchronous wait.  Swallows
    errors by design — a failed release degrades to the pre-r13 GC
    behavior, never to a wrong result."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id of the node's connected component.

    Raises RuntimeError if labels have not converged after ``max_iter``
    rounds (component diameter > max_iter) — a silently-unconverged
    result would be a wrong-but-plausible clustering, strictly worse
    than failing."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    # localCheckpoint, not persist (r12 optimization): persist keeps
    # the full edge-construction lineage (for the dedup callers, a
    # ~40-Exchange jaccard tree) in the ANALYZED plan, and each round
    # embeds sym plus the previous round's labels — so the final
    # consumer's logical plan grew exponentially with round count
    # (q_dedup_clusters' final plan: 13.5k lines / 1981 Exchange
    # nodes / 756 repeated parquet scans, all cache-deduped at
    # execution but re-analyzed by Catalyst on EVERY action, once per
    # round plus once at the consumer).  Checkpointing turns sym and
    # each round's labels into plan leaves; execution work is
    # unchanged (persist materialized the same rows once).  On a
    # multi-node cluster use reliable checkpoint(dir) if executor-loss
    # tolerance of the round state matters (same trade as
    # operators/graph.py pagerank_units).
    # Lazy: round 1's convergence aggregate is the first action over
    # sym and materializes the checkpoint inside that job — an eager
    # checkpoint here would serialize one extra job before the loop.
    sym = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=False)
    # Seed every node with min(self, neighbors) — the same groupBy
    # shuffle a distinct-node seed would cost, but it IS the first
    # propagation round, so the loop below starts one round ahead.
    # labels carries (node, comp) — names disjoint from sym's (a, b) so
    # the per-round self-referential join has unambiguous lineage.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("_mn"))
        .select("node", F.least("node", "_mn").alias("comp"))
        # Lazy checkpoint: the round-1 convergence aggregate below is
        # the first action over this relation, so it materializes the
        # checkpoint in the same job — one action per round, as before.
        .localCheckpoint(eager=False)
    )
    changed = -1
    prev = labels  # the round whose blocks the NEXT collect retires
    for _ in range(max_iter):
        # One aggregate per round computes BOTH the new label and the
        # node's previous label (the union tags which rows carry it), so
        # convergence is a scalar aggregate over the same result — and
        # because that aggregate full-scans new_labels (no limit
        # short-circuit), the single collect() below also materializes
        # the persisted cache: ONE action per round total.  (A separate
        # count()-then-collect pair would pay a second full pass over
        # the relation every round — r5's bench showed the CC families'
        # wall is exactly this local-mode per-action overhead.)
        neigh = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"),
            F.col("comp"),
            F.lit(None).cast("long").alias("old"),
        )
        tagged = labels.select(
            "node", "comp", F.col("comp").alias("old")
        ).union(neigh)
        new_labels = (
            tagged.groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
            # Lazy checkpoint: the convergence aggregate below is the
            # first action and materializes it — one action per round,
            # with the round's lineage truncated to a leaf (see sym).
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(
            F.sum((F.col("comp") != F.col("old")).cast("long")).alias("c")
        ).collect()[0]["c"]
        # The collect above materialized new_labels' checkpoint, so the
        # PREVIOUS round's blocks (read one last time inside that job)
        # are now dead — release them eagerly instead of waiting for
        # GC, keeping peak checkpoint storage at O(1) rounds.  The seed
        # `labels` relation is round 0's prev; the
        # FINAL round's blocks are never released here (the caller's
        # consumer reads them — a released local checkpoint cannot
        # recompute).
        _release_checkpoint(prev)
        prev = new_labels
        labels = new_labels.select("node", "comp")
        if not changed:
            break
    else:
        # Error-path hygiene: free the edge set and the
        # last round's state before raising, so a caught-and-retried
        # non-convergence doesn't strand max_iter rounds of blocks.
        _release_checkpoint(sym)
        _release_checkpoint(prev)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter (the "
            "round count is bounded by the largest component diameter)"
        )
    # sym's blocks are dead once the loop exits (every consumer of the
    # returned labels reads only the final checkpoint leaf).
    _release_checkpoint(sym)
    return labels.select("node", "comp")
