"""Graph-analytics plans beyond connected components.

``btc_wallet_clusters`` (plans/pipeline_plans.py) covers the
equivalence-class side of graph analytics (union-find by min-label
propagation).  This module adds the other standard primitive —
fixed-point *value* propagation — as PageRank over the
customer↔supplier transaction graph (who trades with whom, via
orders ⋈ lineitem).  The reference has no graph operator; its
nearest analog is AddressStats' per-address activity rollup
(``sql.py:1644-1656``), which this generalizes to influence scoring
over the transaction network.

**Integer-exact iteration.**  Floating-point PageRank is not
oracle-checkable bit-for-bit (per-node neighbor sums reduce in
nondeterministic order).  Ranks here are integers scaled by 1e8:
contributions are ``rank // outdeg`` (floor), neighbor sums are
exact BIGINT adds (order-free), and damping is ``(85·sum) // 100``
— the whole fixed point is deterministic on any engine, so DuckDB
replays the identical three unrolled iterations.

Scale notes: each iteration is one shuffle (groupBy dst) plus one
broadcast-free join on the edge list; per-node state is a single
BIGINT.  At 100 TB you'd ``localCheckpoint`` per iteration to
truncate lineage (as connected_components does) — at three fixed
iterations the plain DAG is fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.plans.registry import query
from omniengine_spark.sources.catalog import checkpoint, load_table, persist

_SCALE = 100_000_000  # rank fixed-point scale (1e8, F1's convention)
_TELEPORT = 15_000_000  # 0.15 · scale
_N_ITERS = 3
_SUPP_OFFSET = 1_000_000  # supplier node ids above the customer range
_TOPK = 25


def _pagerank_iter_sql(i: int) -> str:
    """One unrolled oracle iteration: contributions floor-divided per
    out-edge, exact integer neighbor sum, integer damping.

    The per-src contribution ``rank // outdeg`` is computed in a
    NODE-sized subquery (deg ⋈ r_i) BEFORE touching the edge list, so
    each iteration streams the (at sf5: 60M-row) edges through exactly
    one hash join whose build side is node-sized.  The earlier form
    joined edges with r_i AND deg separately — two edge-sized join
    pipelines per iteration — which spilled >79 GB in DuckDB at sf5.
    Semantics identical: per_edge is constant per src either way."""
    return f"""r{i + 1} AS (
      SELECT n.node,
             CAST({_TELEPORT} + (85 * COALESCE(s.acc, 0)) // 100
                  AS BIGINT) AS rank
      FROM deg n LEFT JOIN (
        SELECT e.dst AS node, SUM(c.per_edge) AS acc
        FROM edges e
        JOIN (
          SELECT d.node, r.rank // d.outdeg AS per_edge
          FROM deg d JOIN r{i} r ON r.node = d.node
        ) c ON c.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""


@query(
    "graph_pagerank",
    # edges/deg MATERIALIZED: each is referenced by every unrolled
    # iteration — inlined, DuckDB would recompute the orders⋈lineitem
    # distinct (30M rows at sf5) once per reference
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS cust,
                      l.l_suppkey + {_SUPP_OFFSET} AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS MATERIALIZED (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION ALL
      SELECT supp AS src, cust AS dst FROM pairs
    ), deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), r0 AS (
      SELECT node, CAST({_SCALE} AS BIGINT) AS rank FROM deg
    ), {", ".join(_pagerank_iter_sql(i) for i in range(_N_ITERS))}
    SELECT node, rank FROM r{_N_ITERS}
    ORDER BY rank DESC, node ASC LIMIT {_TOPK}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionAll(
        pairs.select(
            F.col("supp").alias("src"), F.col("cust").alias("dst")
        )
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # materialize the edge list + degrees once; three iterations of
    # join → exact integer sum → damping reuse them.  DISK_ONLY, not
    # localCheckpoint: the eager row-format MEMORY_AND_DISK blocks of
    # a checkpointed 60M-row edge frame crowd unified memory in the
    # spill regime (the 8 GB soak measured e=+1.36 with 2.9 GB disk
    # spill from exactly this), while the columnar DISK_ONLY cache
    # keeps execution memory for the per-iteration sort/agg and costs
    # ~nothing when the frame is small; it is also lazy, so
    # explain-only callers don't pay a materialization job
    from pyspark.storagelevel import StorageLevel

    # (r11 A/B: pre-repartitioning edges by src before the persist —
    # to amortize the per-iteration join shuffle — measured WORSE
    # here, 4.6-4.9 s vs 4.9-5.3 s: AQE re-plans the join exchanges
    # regardless of the cache's partitioning, so the extra up-front
    # exchange is pure cost.  Kept as-is.)
    edges = persist(edges, StorageLevel.DISK_ONLY)
    deg = persist(deg, StorageLevel.DISK_ONLY)

    ranks = deg.select(
        "node", F.lit(_SCALE).cast("long").alias("rank")
    )
    for _ in range(_N_ITERS):
        # per-src contribution computed on the NODE-sized frame
        # (deg ⋈ ranks) BEFORE touching edges, so each iteration
        # streams the edge list through exactly ONE join whose build
        # side is node-sized — the same shape as the oracle.  The
        # earlier two-join form (edges ⋈ ranks, then ⋈ deg) shuffled
        # the edge list twice per iteration and went super-linear in
        # the third decade (e=+1.51 at sf5→sf25, ~280M edge rows).
        per_src = deg.join(ranks, "node").select(
            F.col("node").alias("snode"),
            F.expr("`rank` div outdeg").alias("contrib"),
        )
        acc = (
            edges.join(per_src, edges.src == F.col("snode"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("acc"))
        )
        ranks = deg.join(acc, "node", "left").select(
            "node",
            (
                F.lit(_TELEPORT)
                + F.expr("(85 * coalesce(acc, 0L)) div 100")
            )
            .cast("long")
            .alias("rank"),
        )
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(_TOPK)


_SEED_CUST = 7
_MAX_HOPS = 3


@query(
    "graph_taint_reach",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o.o_custkey AS cust,
                      l.l_suppkey + {_SUPP_OFFSET} AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION ALL
      SELECT supp AS src, cust AS dst FROM pairs
    ), reach(node, hops) AS (
      SELECT CAST({_SEED_CUST} AS BIGINT), 0
      UNION
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < {_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def graph_taint_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fund-flow (taint) reachability: every counterparty within
    three payment hops of one seed customer, with minimum hop
    distance.  The oracle is DuckDB's UNION-distinct recursive CTE;
    the Spark side is the level-synchronous BFS operator
    (``operators/graph.py``) because Spark's native WITH RECURSIVE
    only supports UNION ALL, whose path-enumeration row count grows
    as degree^K on this cyclic graph — the BFS frontier is the plan
    that survives 100×.  Reference analog: the reorg walker follows
    tx links one block at a time (``sql.py:85-218``); this is the
    same traversal generalized to K hops in 2·K shuffles."""
    from omniengine_spark.operators.graph import k_hop_reachability

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    edges = checkpoint(pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionAll(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    ))
    seeds = spark.range(_SEED_CUST, _SEED_CUST + 1).select(
        F.col("id").alias("node")
    )
    reach = k_hop_reachability(edges, seeds, _MAX_HOPS)
    return reach.select("node", F.col("hops").cast("int").alias("hops"))
