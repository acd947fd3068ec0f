"""Graph operators: PageRank with optional delta-convergence early exit.

The registry query ``q_pagerank`` (queries/graph.py) runs a FIXED 3
rounds — the right contract for a value-exact cross-engine oracle.  This
operator is the production API: callers pick either ``max_iters`` alone
(fixed cost) or ``tol`` (iterate until the L1 rank delta drops below
tolerance, capped at ``max_iters``) so the per-round join cost — 3.6× at
10× data per SCALE.md — is spent only while ranks still move.

Scale shape (same as the registry query): the degree-annotated edge list
is built once and persisted; each round is one equi-join shuffle
(edges ⋈ ranks on src) plus a map-side-combined sum by dst.  The
convergence check is a 1-row aggregate action per round — the driver
holds a single double, rank state never leaves the cluster.  With
``tol`` each round's ranks are an eager local checkpoint, so the next
round plans against a leaf instead of nesting every earlier round (the
plan strings Spark builds per stage otherwise double each round); the
previous round's checkpoint is released once the delta is known.
Without ``tol`` lineage is checkpointed every ``checkpoint_every``
rounds (same discipline as operators/dedup.py's connected-components
loop).

Reference basis: none (no graph ops in redis-streams); standard power-
iteration PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 8,
) -> tuple[DataFrame, int]:
    """Power-iteration PageRank over a directed edge list.

    Returns ``(ranks, iterations_run)`` where ranks has columns
    ``(id, pr)``.  With ``tol`` set, stops as soon as
    ``sum(|pr_new - pr_old|) < tol`` (L1 delta over all nodes); always
    stops at ``max_iters``.  With ``tol=None`` runs exactly
    ``max_iters`` rounds with no per-round action.

    Dangling nodes (no out-edges) are absent from the contribution join,
    matching the registry query's bidirectional-graph assumption; feed a
    symmetrized edge list if mass conservation matters.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    ed = e.join(deg, "src")
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # cache lifecycle is mode-dependent (review finding, round 6): the
    # tol loop runs an ACTION per round, so persisting ed/nodes pays off
    # and both can be unpersisted before returning (the final ranks are
    # a materialized local checkpoint).  With tol=None no action runs
    # inside the loop — a persist would never materialize before an
    # end-of-function unpersist dropped it, so the duplicated subtrees
    # are left to Spark's exchange reuse instead.
    if tol is not None:
        ed = ed.persist()
        nodes = nodes.persist()
    ndf = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pr = nodes.crossJoin(F.broadcast(ndf)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    iters_run = 0
    for i in range(max_iters):
        contrib = (
            ed.join(pr, ed.src == pr.id)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("contrib"))
        )
        new_pr = (
            nodes.join(
                contrib.withColumnRenamed("dst", "id"), "id", "left"
            )
            .crossJoin(F.broadcast(ndf))
            .select(
                "id",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        iters_run = i + 1
        if tol is None:
            if iters_run % checkpoint_every == 0:
                new_pr = new_pr.localCheckpoint(eager=False)
            pr = new_pr
            continue
        # one scalar action per round: L1 delta between rank vectors
        new_pr = new_pr.localCheckpoint(eager=True)
        delta = (
            new_pr.withColumnRenamed("pr", "pr_new")
            .join(pr, "id")
            .agg(F.sum(F.abs(F.col("pr_new") - F.col("pr"))).alias("d"))
            .collect()[0]["d"]
        )
        if i > 0:  # the initial ranks are a plan, not a checkpoint
            _release_checkpoint(pr)
        pr = new_pr
        if delta is not None and delta < tol:
            break
    if tol is not None:
        ed.unpersist()
        nodes.unpersist()
    return pr, iters_run


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a local checkpoint no plan reads any more.
    ``DataFrame.unpersist`` cannot: a local checkpoint is a persisted
    RDD under a ``LogicalRDD`` leaf, not a cache-manager entry."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
