"""Graph traversal over edge tables — the query-side complement of
connected components (operators/cc.py builds canonical_map; these
operators ANSWER questions over the materialized edges).

Scale shape: one join + distinct per hop, shuffling on the join key.
The pipeline's edges are laid out in `part_id` dirs hashed on
`canon_s` (kgpipe.pipeline materialize stage). Spark does not read
partition dirs as a bucketing, so a traversal over them shuffles the
edge side once per hop.
The frontier is localCheckpoint-ed per hop, so the iterative plan
stays shallow (the CC lesson: iterative self-joins without lineage
truncation grow exponentially — SURVEY.md §7 hard part 1).

The reference has no graph surface at all (ntto is a line tool); the
north rule's materialized edge tables make traversal a first-class
consumer workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def khop_frontier(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    directed: bool = True,
) -> DataFrame:
    """BFS from `seeds` up to `k` hops → (node, hops) with hops = the
    MINIMUM hop distance (0 for seeds). Each hop: join the frontier
    to the edge table, anti-join against everything already visited
    (so a node re-reached later never overwrites its shorter
    distance), checkpoint the new frontier eagerly. Early-stops when
    a frontier empties — k bounds work, it does not force k rounds.

    directed=False traverses edges both ways (the sameAs relation is
    symmetric; materialized edge tables usually store one direction).
    """
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d")))

    frontier = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    for i in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(i))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    round_dp: int = 12,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge table as pure DataFrame
    jobs → (node, pr). Per iteration: push rank/out_degree along
    edges (join), sum per target (ONE groupBy, map-side partial),
    blend with the teleport term; nodes with no inbound edges keep
    the teleport mass. Dangling nodes (no out-edges) leak their mass
    — the standard simplification, and exactly what the SQL oracle
    computes. A fixed n_iter (not convergence detection) keeps the
    job graph static; ranks are checkpointed per iteration (the CC
    lineage lesson).

    Cross-engine/partitioning determinism: ranks are ROUNDED to
    round_dp every iteration, so float-sum associativity drift
    (~1e-16 per aggregation) can never compound into a visible
    difference between runs or between Spark and an SQL oracle.

    Scale: each iteration is one join on src + one aggregation of E
    rows; rank state is one double per node. The node universe AND
    the out-degree table are checkpointed ONCE (both are n_nodes
    rows); the edge frame itself is deliberately NOT checkpointed —
    for table-backed edges a parquet re-scan per iteration is cheaper
    than copying the whole edge set to local storage, and callers
    holding an expensive DERIVED edge plan should checkpoint it
    before calling."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__od")).localCheckpoint(
        eager=True
    )
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / F.lit(float(n)), round_dp).alias("pr")
    )
    teleport = F.lit(1.0 - damping) / F.lit(float(n))
    for _ in range(n_iter):
        contribs = (
            e.join(ranks, e["__s"] == ranks["node"])
            .join(outdeg, "__s")
            .select(F.col("__d").alias("node"), (F.col("pr") / F.col("__od")).alias("__c"))
        )
        sums = contribs.groupBy("node").agg(F.sum("__c").alias("__cs"))
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                F.round(
                    teleport + F.lit(damping) * F.coalesce(F.col("__cs"), F.lit(0.0)),
                    round_dp,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks

