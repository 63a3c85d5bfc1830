"""Relational plans: scans, filters, joins, aggregations, set ops.

Each plan re-expresses a SURVEY §2 operator shape from the reference
engine over the harness star schema.  Exact-money discipline: every
currency aggregate runs through DecimalType (order-independent) and is
surfaced as double, so results are bit-stable under any partitioning —
a requirement the reference never faced single-threaded
(reference ``sqltools.py:48-64``) but a distributed engine must meet.

SURVEY ids held here: A4, A10, A14 (ROLLUP/CUBE), A18/U6 (pivot and
unpivot), A19, J1, J6, J8, J9, J12/J14 (range joins), J15, P2, T1,
U1, U2, U4, U5.  Grouping sets, range joins and set operations are
absent from the reference (SURVEY §2.3, §2.4, §2.7); those plans cite
the pattern they generalize.

Scale notes per plan are inline — broadcast choices, shuffle keys, and
why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_18_4, dec_18_4, epoch_us
from omniengine_spark.operators.rangejoin import bucketed_range_join
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table
from omniengine_spark.sources.sinks import read_warehouse, scratch_dir

# Exact decimal intermediate for rates in [0,1]; money is DEC_18_4
# (see functions.scalars for rationale).
_R = "decimal(5,4)"


def _rate(c: str) -> F.Column:
    return F.col(c).cast(_R)


# --------------------------------------------------------------------
# A4 — grouped conditional aggregation (reference sql.py:270-274:
# per-property volume with FILTER aggs).  TPC-H Q1 shape: the classic
# partial-agg-friendly rollup — map-side combine means the shuffle
# carries only |groups| × |cols| rows regardless of fact size.
# --------------------------------------------------------------------
@query(
    "a4_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
           AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
               * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4))))
           AS VARCHAR) AS DOUBLE) AS sum_charge,
      COUNT(*) AS count_order,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = F.lit(1).cast(_R)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = dec_18_4("l_extendedprice") * (one - _rate("l_discount"))
    charge = disc_price * (one + _rate("l_tax"))
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec_18_4("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec_18_4("l_extendedprice"))
        .cast("double")
        .alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return out.withColumn(
        "avg_qty", F.col("sum_qty") / F.col("count_order")
    )


# --------------------------------------------------------------------
# J1 — multi-way fact⋈dims join with small-dim broadcast (reference
# sql.py:270-274 joins deltas⋈transactions⋈smartproperties).  Here:
# revenue per region.  customer shuffles on custkey once; nation and
# region are broadcast so the only wide shuffle is fact⋈customer —
# at 100 TB the dims stay KB-sized, so the plan is one shuffle, not four.
# --------------------------------------------------------------------
@query(
    "j1_revenue_by_region",
    oracle="""
    SELECT
      r_name,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
           AS VARCHAR) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j1_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = F.lit(1).cast(_R)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    revenue = dec_18_4("l_extendedprice") * (one - _rate("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------
# P2/P3 — range + multi-state predicate projection (reference
# sql.py:92 range scan; sql.py:605-609 multi-state filter).  Both
# predicates and the 3-column projection push down into the parquet
# scan: ReadSchema lists 5 of 6 columns, PushedFilters carries the
# range — verified in tests via explain().
# --------------------------------------------------------------------
@query(
    "p2_order_range_filter",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderstatus <> 'F'
      AND o_totalprice > 50000
    """,
)
def p2_order_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderstatus") != "F")
        & (F.col("o_totalprice") > 50000)
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------
# J8 — existence anti-join (reference sql.py:382-384: skip txs already
# stored).  left_anti is shuffle-on-key both sides; at scale the orders
# side is pre-aggregated to distinct keys first, shrinking the shuffle.
# --------------------------------------------------------------------
@query(
    "j8_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j8_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    order_keys = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    )
    return cust.join(
        order_keys, cust.c_custkey == order_keys.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------
# A10 — ledger balance fold (reference updateBalance sql.py:1320-1418
# read-modify-write per row → one groupBy-sum here).  events is the
# delta stream: purchases credit, errors debit (arbitrary but fixed
# semantic), everything else neutral — the signed-fold shape of the
# reference's 4-column balance accumulate.
# --------------------------------------------------------------------
@query(
    "a10_user_balance_fold",
    oracle="""
    SELECT
      user_id,
      CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,4))
                    WHEN event_type = 'error'
                    THEN -CAST(value AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        AS balance,
      COUNT(*) AS n_events,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_credits,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_debits
    FROM events
    GROUP BY user_id
    """,
)
def a10_user_balance_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    delta = (
        F.when(F.col("event_type") == "purchase", dec_18_4("value"))
        .when(F.col("event_type") == "error", -dec_18_4("value"))
        .otherwise(F.lit(0).cast(DEC_18_4))
    )
    return ev.groupBy("user_id").agg(
        F.sum(delta).cast("double").alias("balance"),
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_credits"
        ),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_debits"),
    )


# --------------------------------------------------------------------
# T1/T2 — deterministic top-k (reference order-by-limit sql.py:239 et
# al).  TakeOrderedAndProject: no global sort, each partition keeps k,
# driver merges — O(k) memory at any scale.
# --------------------------------------------------------------------
@query(
    "t1_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def t1_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


# --------------------------------------------------------------------
# U1/U3 — union of heterogeneous sources with provenance flag
# (reference updateFees.py:29-87 multi-provider merge; sql.py:1106-1111
# pending ∪ completed).  unionByName keeps this schema-safe.
# --------------------------------------------------------------------
@query(
    "u1_account_union",
    oracle="""
    SELECT kind, CAST(CAST(SUM(CAST(acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_bal,
           COUNT(*) AS n
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
    )
    GROUP BY kind
    """,
)
def u1_account_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal"))
    )
    return (
        cust.unionByName(supp)
        .groupBy("kind")
        .agg(
            F.sum(dec_18_4("acctbal")).cast("double").alias("total_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# J9/A6 — join + trailing time-window aggregate (reference
# sql.py:888-890: 24h valid-buyer volume).  The window anchor is the
# max event time, so the plan is a scalar agg broadcast into a filter —
# no per-row now() nondeterminism.
# --------------------------------------------------------------------
@query(
    "j9_trailing_24h_purchase_volume",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events)
    SELECT
      event_type,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS vol_24h,
      COUNT(*) AS n_24h
    FROM events, anchor
    WHERE ts > anchor.mx - INTERVAL 1 DAY
    GROUP BY event_type
    """,
)
def j9_trailing_24h_purchase_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .filter(F.col("ts") > F.col("mx") - F.expr("INTERVAL 1 DAY"))
        .groupBy("event_type")
        .agg(
            F.sum(dec_18_4("value")).cast("double").alias("vol_24h"),
            F.count(F.lit(1)).alias("n_24h"),
        )
    )


# --------------------------------------------------------------------
# J6 — N× point lookups collapsed into one broadcast join (reference
# gettxdbserialnum/gettxhash per-row lookups, sql.py:2531-2543).  The
# lookup side (nation) is broadcast; the fact side never shuffles.
# --------------------------------------------------------------------
@query(
    "j6_broadcast_lookup",
    oracle="""
    SELECT c_custkey, n_name, r.r_name AS region_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region r ON n_regionkey = r_regionkey
    """,
)
def j6_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", F.col("r_name").alias("region_name"))
    )


# --------------------------------------------------------------------
# U2 — struct merge of three part-sourced fragments (reference merges
# property + crowdsale + grants RPC dicts, sql.py:1487-1557): three
# projections of the same entity joined back into one wide row.
# --------------------------------------------------------------------
@query(
    "u2_struct_merge",
    oracle="""
    SELECT p.p_partkey, p.p_name, s.size_class, pr.price_band
    FROM part p
    JOIN (SELECT p_partkey,
                 CASE WHEN p_size < 10 THEN 'small' ELSE 'big' END
                   AS size_class
          FROM part) s ON p.p_partkey = s.p_partkey
    JOIN (SELECT p_partkey,
                 CASE WHEN p_retailprice < 1000 THEN 'cheap'
                      ELSE 'dear' END AS price_band
          FROM part) pr ON p.p_partkey = pr.p_partkey
    """,
)
def u2_struct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    base = part.select("p_partkey", "p_name")
    sizes = part.select(
        "p_partkey",
        F.when(F.col("p_size") < 10, "small")
        .otherwise("big")
        .alias("size_class"),
    )
    prices = part.select(
        "p_partkey",
        F.when(F.col("p_retailprice") < 1000, "cheap")
        .otherwise("dear")
        .alias("price_band"),
    )
    return base.join(sizes, "p_partkey").join(prices, "p_partkey")


# --------------------------------------------------------------------
# U4 + approx toolbox — exact vs approximate distinct cardinality.
# The exact side is the oracle gate; the approx column is the 100 TB
# tool (HLL sketch, constant memory) and is checked rows-only in the
# dedicated plan below.
# --------------------------------------------------------------------
@query(
    "u4_distinct_users_exact",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def u4_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


@query(
    "u4_distinct_users_approx",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def u4_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            # rsd 0.02, not 0.01: halving rsd quadruples the HLL
            # register width for accuracy the 3% gate doesn't need
            # (cost bench r3 +1.25 s); 0.02 holds ~0.4% observed
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.count_distinct("user_id").alias("n_users_exact"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("approx") - F.col("n_users_exact"))
                <= 0.03 * F.col("n_users_exact")
            ).alias("approx_ok"),
        )
    )


@query(
    "j15_merge_upsert_delete",
    oracle="""
    WITH c AS (
      SELECT user_id,
             CAST(ROUND(value*100) AS BIGINT) AS cents,
             epoch_us(ts) // 86400000000 AS d
      FROM events
    ), cut AS (
      SELECT MIN(d) + 15 AS cutoff FROM c
    ), target AS (
      SELECT user_id, CAST(SUM(cents) AS BIGINT) AS balance
      FROM c, cut WHERE d < cutoff GROUP BY user_id
    ), src AS (
      SELECT user_id, CAST(SUM(cents) AS BIGINT) AS balance
      FROM c
      WHERE user_id IN (
        SELECT DISTINCT user_id FROM c, cut WHERE d >= cutoff
      )
      GROUP BY user_id
    )
    SELECT user_id, balance FROM target
    WHERE user_id NOT IN (SELECT user_id FROM src)
    UNION ALL
    SELECT user_id, balance FROM src WHERE balance >= 100000
    """,
)
def j15_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (J7 generalized — operators/merge.py):
    a pre-cutoff balance snapshot is the target, a recomputed batch
    for every user active after the cutoff is the source; matched
    rows take the source balance, fresh users insert, and accounts
    recomputed below the dust threshold are DELETED — the clause the
    reference's upsert CTE cannot express and handles with separate
    expiry sweeps (``sql.py:537-588``)."""
    from omniengine_spark.operators.merge import merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (epoch_us("ts") / F.lit(86400000000)).cast("long").alias("d"),
    )
    cutoff = ev.agg((F.min("d") + F.lit(15)).alias("cutoff"))
    evc = ev.crossJoin(F.broadcast(cutoff))
    target = (
        evc.filter(F.col("d") < F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("balance"))
    )
    active = (
        evc.filter(F.col("d") >= F.col("cutoff"))
        .select("user_id")
        .distinct()
    )
    source = (
        ev.join(active, "user_id")
        .groupBy("user_id")
        .agg(F.sum("cents").alias("balance"))
    )
    return merge_upsert(
        target,
        source,
        ["user_id"],
        delete_condition=F.col("balance") < 100000,
    )


# ---------------------------------------------------------------------------
# A19 — hierarchical continuous aggregate (hypertable-style rollup):
# hourly partials are MATERIALIZED once, then day and month grains
# derive from the next-finer materialization (sum-of-sums), never
# rescanning raw events — at 100 TB the raw scan happens once per
# ingest and every coarser window is a rollup over ~1/3600th the
# rows.  The reference recomputes its 24 h windows from raw
# transactions every block (sql.py:266, 276); the oracle here states
# all three grains directly against raw events, proving the derived
# chain is lossless.
# ---------------------------------------------------------------------------
@query(
    "a19_hierarchical_rollup",
    oracle="""
    WITH raw AS (
      SELECT ts, CAST(ROUND(value*100) AS BIGINT) AS cents FROM events
    )
    SELECT 'hour' AS grain,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP),
           COUNT(*), CAST(SUM(cents) AS BIGINT)
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'month', CAST(date_trunc('month', ts) AS TIMESTAMP),
           COUNT(*), CAST(SUM(cents) AS BIGINT)
    FROM raw GROUP BY 2
    """,
)
def a19_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts"))
        .cast("timestamp_ntz")
        .alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hourly = ev.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    path = scratch_dir("rollup-hourly")
    hourly.write.mode("overwrite").parquet(path)
    hourly_m = read_warehouse(spark, path, hourly.schema)  # the partials

    daily = hourly_m.groupBy(
        F.date_trunc("day", F.col("hour"))
        .cast("timestamp_ntz")
        .alias("day")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    )
    monthly = daily.groupBy(
        F.date_trunc("month", F.col("day"))
        .cast("timestamp_ntz")
        .alias("month")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    )
    return (
        hourly_m.select(
            F.lit("hour").alias("grain"),
            F.col("hour").alias("bucket_start"),
            "n_events",
            "total_cents",
        )
        .unionByName(
            daily.select(
                F.lit("day").alias("grain"),
                F.col("day").alias("bucket_start"),
                "n_events",
                "total_cents",
            )
        )
        .unionByName(
            monthly.select(
                F.lit("month").alias("grain"),
                F.col("month").alias("bucket_start"),
                "n_events",
                "total_cents",
            )
        )
    )


# --------------------------------------------------------------------
# A14 — ROLLUP grouping sets.  Generalizes the reference's fixed
# two-level reporting (per-property volume sql.py:270-274 next to
# chain-wide totals sql.py:266-276, computed as separate statements)
# into one pass: Spark evaluates all grouping sets in a single
# shuffle with partial aggregation, so the subtotal levels are free
# relative to running N separate GROUP BYs over 100 TB.
# --------------------------------------------------------------------
@query(
    "a14_rollup_pricing",
    oracle="""
    SELECT
      COALESCE(l_returnflag, 'ALL') AS return_flag,
      COALESCE(l_linestatus, 'ALL') AS line_status,
      CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS sum_qty,
      COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def a14_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum(dec_18_4("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
        "g_flag",
        "g_status",
        "sum_qty",
        "n_items",
    )


# --------------------------------------------------------------------
# J12 — pure range join (no equi key): every event inside any
# "incident window" (2 h after a high-value error).  Absent from the
# reference (SURVEY §2.3); naive Spark would pick a nested-loop join.
# operators/rangejoin.py turns it into an ordinary shuffled equi join
# on time buckets + residual filter — the plan that survives when
# BOTH sides are too big to broadcast.
# --------------------------------------------------------------------
@query(
    "j12_range_join",
    oracle="""
    SELECT
      w.event_id AS window_id,
      COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS sum_value
    FROM events e
    JOIN (
      SELECT event_id, epoch_us(ts) AS lo, epoch_us(ts) + 7200000000 AS hi
      FROM events WHERE event_type = 'error' AND value > 195
    ) w ON epoch_us(e.ts) >= w.lo AND epoch_us(e.ts) < w.hi
    GROUP BY w.event_id
    """,
)
def j12_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        epoch_us("ts").alias("p_us"), F.col("value")
    )
    windows = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 195))
        .select(
            F.col("event_id").alias("window_id"),
            epoch_us("ts").alias("lo"),
            (epoch_us("ts") + F.lit(7_200_000_000)).alias("hi"),
        )
    )
    joined = bucketed_range_join(
        points,
        windows,
        point_col="p_us",
        lo_col="lo",
        hi_col="hi",
        bucket_width=3_600_000_000,  # 1 h buckets for 2 h windows
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec_18_4("value")).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------
# J14 — interval×interval overlap join (self-join: which incident
# windows overlap each other).  Same bucket decomposition as J12 but
# with both sides replicated and canonical-bucket emission instead of
# a dedup shuffle — see operators/rangejoin.py:interval_overlap_join.
# --------------------------------------------------------------------
@query(
    "j14_interval_overlap",
    oracle="""
    WITH w AS (
      SELECT event_id, epoch_us(ts) AS lo, epoch_us(ts) + 14400000000 AS hi
      FROM events WHERE event_type = 'error' AND value > 190
    )
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS overlap_us
    FROM w a JOIN w b
      ON a.lo < b.hi AND b.lo < a.hi AND a.event_id < b.event_id
    """,
)
def j14_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.rangejoin import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    windows = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 190)
    ).select(
        F.col("event_id"),
        epoch_us("ts").alias("lo"),
        (epoch_us("ts") + F.lit(14_400_000_000)).alias("hi"),
    )
    a = windows.select(
        F.col("event_id").alias("a_id"),
        F.col("lo").alias("a_lo"),
        F.col("hi").alias("a_hi"),
    )
    b = windows.select(
        F.col("event_id").alias("b_id"),
        F.col("lo").alias("b_lo"),
        F.col("hi").alias("b_hi"),
    )
    joined = interval_overlap_join(
        a,
        b,
        left_lo="a_lo",
        left_hi="a_hi",
        right_lo="b_lo",
        right_hi="b_hi",
        bucket_width=3_600_000_000,
    ).filter(F.col("a_id") < F.col("b_id"))
    return joined.select(
        "a_id",
        "b_id",
        (
            F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo")
        ).alias("overlap_us"),
    )


# --------------------------------------------------------------------
# U5 — INTERSECT / EXCEPT (explicitly absent from the reference,
# SURVEY §2.7 U4 note — it fakes both with Python membership checks).
# Both compile to distinct + shuffled semi/anti joins; tagged union
# of the two results so one plan covers both operators.
# --------------------------------------------------------------------
@query(
    "u5_set_ops",
    oracle="""
    SELECT user_id, 'both' AS tag FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'error')
    UNION ALL
    SELECT user_id, 'purchase_only' AS tag FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error')
    """,
)
def u5_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errers = ev.filter(F.col("event_type") == "error").select("user_id")
    both = buyers.intersect(errers).withColumn("tag", F.lit("both"))
    only = buyers.subtract(errers).withColumn("tag", F.lit("purchase_only"))
    return both.unionByName(only)


# --------------------------------------------------------------------
# A18 — PIVOT: long→wide reporting (the reference emits TxStats as
# jsonb per block, sql.py:308-309 — a hand-rolled wide row).  Spark's
# pivot with an explicit value list stays a single groupBy (no second
# pass to discover columns, which at 100 TB would be its own job).
# --------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "a18_pivot_daily_by_type",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) FILTER (event_type = 'click')    AS n_click,
           COUNT(*) FILTER (event_type = 'error')    AS n_error,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (event_type = 'view')     AS n_view
    FROM events
    GROUP BY 1
    """,
)
def a18_pivot_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# --------------------------------------------------------------------
# U6 — UNPIVOT/melt: wide→long normalization (inverse of A18; the
# shape behind the reference's jsonb Value unpacking, sql.py:276).
# unpivot is a zero-shuffle generator — the only shuffle below is the
# 3-group aggregate.
# --------------------------------------------------------------------
@query(
    "u6_unpivot_metrics",
    oracle="""
    SELECT metric,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total,
           COUNT(*) AS n
    FROM (
      SELECT 'qty' AS metric, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY metric
    """,
)
def u6_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    ).unpivot([], ["qty", "price", "discount"], "metric", "v")
    return long.groupBy("metric").agg(
        F.sum(F.col("v").cast(DEC_18_4)).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------
# A10b — the balance fold again, through the two-phase *salted*
# aggregation (operators/skew.py:salted_agg) and checked against the
# SAME oracle as a10_user_balance_fold: proof that the skew path is
# bit-identical, not merely approximately right.  At 100 TB a single
# celebrity address would funnel one reducer in the plain fold; here
# it spreads over n_salts partials first (decimal sums commute).
# --------------------------------------------------------------------
@query(
    "a10_salted_balance_fold",
    oracle="""
    SELECT
      user_id,
      CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,4))
                    WHEN event_type = 'error'
                    THEN -CAST(value AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        AS balance,
      COUNT(*) AS n_events,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_credits,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_debits
    FROM events
    GROUP BY user_id
    """,
)
def a10_salted_balance_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    delta = (
        F.when(F.col("event_type") == "purchase", dec_18_4("value"))
        .when(F.col("event_type") == "error", -dec_18_4("value"))
        .otherwise(F.lit(0).cast(DEC_18_4))
    )
    prepared = ev.select(
        "user_id",
        delta.alias("delta"),
        F.lit(1).alias("one"),
        F.when(F.col("event_type") == "purchase", 1).alias("credit_flag"),
        F.when(F.col("event_type") == "error", 1).alias("debit_flag"),
    )
    out = salted_agg(
        prepared,
        ["user_id"],
        {
            "balance": ("sum", "delta"),
            "n_events": ("count", "one"),
            "n_credits": ("count", "credit_flag"),
            "n_debits": ("count", "debit_flag"),
        },
        n_salts=8,
    )
    return out.select(
        "user_id",
        F.col("balance").cast("double").alias("balance"),
        "n_events",
        "n_credits",
        "n_debits",
    )


# --------------------------------------------------------------------
# A14b — CUBE grouping sets: the full 2^k subtotal lattice in one
# pass (ROLLUP's big sibling — a14 gives the hierarchy, CUBE gives
# every marginal).  Same scale argument: one shuffle with partial
# aggregation replaces four separate GROUP BYs over the fact table.
# --------------------------------------------------------------------
@query(
    "a14b_cube_order_stats",
    oracle="""
    SELECT
      COALESCE(o_orderstatus, 'ALL') AS order_status,
      COALESCE(o_orderpriority, 'ALL') AS order_priority,
      CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
           AS DOUBLE) AS sum_price,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def a14b_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): every marginal and the grand
    total in one aggregation pass — GROUPING ids disambiguate a real
    NULL group from a subtotal row, exactly as in a14's ROLLUP."""
    o = load_table(spark, sf_dir, "orders")
    out = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.sum(dec_18_4("o_totalprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return out.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias(
            "order_priority"
        ),
        "g_status",
        "g_priority",
        "sum_price",
        "n_orders",
    )
