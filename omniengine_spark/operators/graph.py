"""Distributed breadth-first reachability (fund-flow / taint
analysis).

The reference's forensic surface is per-address rollups
(AddressStats, ``sql.py:1644-1656``) and the reorg walker that
follows transaction links backwards (``sql.py:85-218``).  The
multi-hop generalization every chain-analytics user eventually
wants — "which addresses are within K payment hops of this seed"
— is a BFS over the transaction graph.

Spark 4's native ``WITH RECURSIVE`` only admits UNION ALL
recursion, which enumerates *paths*: on a cyclic transaction graph
the row count multiplies by the average degree every hop (~degree^K
rows), so a declarative recursive CTE is exactly the plan that dies
at 100×.  This operator is the scale-correct form — level-
synchronous BFS with a deduplicated frontier and a visited-set
anti-join, so no level ever exceeds |V| rows:

  frontier_0 = seeds
  frontier_h = distinct(neighbors(frontier_{h-1})) ANTI JOIN visited
  visited    = visited UNION frontier_h      (localCheckpoint)

Each level costs one shuffle for the distinct and one for the
anti-join; per-node state is (node, hops) — two integers.  The
``localCheckpoint`` per level truncates lineage the same way
``connected_components`` does (operators/dedup.py), keeping the DAG
depth constant in K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omniengine_spark.sources.catalog import checkpoint


def k_hop_reachability(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Nodes within ``max_hops`` directed hops of any seed.

    ``edges``: (src, dst) — may contain cycles and duplicates.
    ``seeds``: single-column frame of seed node ids.
    Returns (node, hops) with hops = minimum hop distance (seeds at
    0), the exact answer an engine with UNION-distinct recursion
    (DuckDB, Postgres) produces for the same relation.
    """
    seed_col = seeds.columns[0]
    visited = seeds.select(
        F.col(seed_col).alias("node"), F.lit(0).alias("hops")
    ).distinct()
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hops"))
        )
        # the emptiness probe's count below saves the checkpoint in
        # the same job: it computes every partition (isEmpty's limit(1)
        # would leave partitions to a trailing doCheckpoint recompute)
        nxt = checkpoint(nxt)
        # frontier exhausted before max_hops (diameter reached):
        # further rounds would be empty-frame jobs
        if nxt.count() == 0:
            break
        # no checkpoint on visited: it is a flat union of frames that
        # are each ALREADY checkpointed (seeds + every nxt), so the
        # lineage never deepens past one union node per hop and the
        # next round's anti-join reads cached partitions — the former
        # eager checkpoint here was one whole extra job per hop
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited
