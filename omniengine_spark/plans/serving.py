"""Serving-layer plans: the reference's most-executed user queries
(``database/SQLstatements.md:44-65``) as named, oracle-checked plans.

The flagship is "all balances and USD values for an address":
AddressBalances ⋈ ExchangeRates with value arithmetic.  Here the
balance state is the genesis-seeded delta fold, the rate table is a
latest-observation-per-property lookup (W1 shape) derived from
orders, and the join is a broadcast of the tiny rate dim — the plan a
point-lookup service would run, expressed so the address predicate
pushes through the fold's aggregation to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniengine_spark.pipeline import expand_deltas
from omniengine_spark.plans.pipeline_plans import (
    _genesis_balances,
    _stamped_txs,
)
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table
from omniengine_spark.sources.catalog import day_range

SERVE_ADDRESS = "u42"  # the fixed lookup key for the named plan


def latest_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExchangeRates as latest-observation-per-property (reference
    keeps one current row per (propertyid1, propertyid2); here the
    newest orders row per propertyid bucket plays that role —
    deterministic via the (date, key) tie-break)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("propertyid").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.select(
            (F.col("o_orderkey") % 5).alias("propertyid"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("rate_cents"),
            "o_orderdate",
            "o_orderkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("propertyid", "rate_cents")
    )


def _priced(
    spark: SparkSession, sf_dir: str, folded: DataFrame
) -> DataFrame:
    """Price each (address, propertyid) balance of ``folded`` with the
    broadcast latest-rate dim."""
    rates = latest_rates(spark, sf_dir)
    return folded.join(F.broadcast(rates), "propertyid").select(
        "address",
        "propertyid",
        F.col("balance").cast("long").alias("available"),
        "rate_cents",
        # balance × rate in DECIMAL(36,0): an int64 product overflows
        # (silently, ANSI off) about one sf beyond bench while the
        # DuckDB oracle aborts — the decimal product is exact at any
        # scale and surfaces as a correctly-rounded display double
        (
            F.col("balance").cast("decimal(18,0)")
            * F.col("rate_cents").cast("decimal(18,0)")
        ).cast("double").alias("value_available_cents"),
    )


@query(
    "serve_address_portfolio",
    oracle="""
    WITH tx AS (
      SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             'u' || CAST(user_id AS VARCHAR) AS sender,
             'u' || CAST(user_id + 1 AS VARCHAR) AS ref,
             user_id % 5 AS propertyid,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000
                            AS BIGINT)
                  ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8)))
                            AS BIGINT) END AS base_units
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), deltas AS (
      SELECT sender AS address, propertyid, base_units AS delta
      FROM tx WHERE t = 50
      UNION ALL
      SELECT sender, propertyid, -base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT ref, propertyid, base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT 'u' || CAST(c_custkey AS VARCHAR),
             c_custkey % 5,
             CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
      FROM customer
    ), bal AS (
      SELECT address, propertyid,
             CAST(SUM(delta) AS BIGINT) AS available
      FROM deltas WHERE address = 'u42'
      GROUP BY address, propertyid
    ), rates AS (
      SELECT propertyid, rate_cents FROM (
        SELECT o_orderkey % 5 AS propertyid,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS rate_cents,
               ROW_NUMBER() OVER (
                 PARTITION BY o_orderkey % 5
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
      WHERE rn = 1
    )
    SELECT b.address, b.propertyid, b.available,
           r.rate_cents,
           CAST(CAST(CAST(b.available AS DECIMAL(28,0))
                     * CAST(r.rate_cents AS DECIMAL(28,0)) AS VARCHAR)
                AS DOUBLE) AS value_available_cents
    FROM bal b JOIN rates r ON r.propertyid = b.propertyid
    """,
)
def serve_address_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"All balances & values for an address"
    (``database/SQLstatements.md:44-65``): genesis-seeded balance
    fold, filtered to one address, joined to the broadcast latest-rate
    dim, value = balance × rate.

    Scale shape: the address equality predicate is on the fold's
    group key, so Catalyst pushes it below the aggregation to the
    delta scan — the cluster never folds state for addresses the
    query didn't ask about; the rate dim is 5 rows, broadcast."""
    folded = _genesis_balances(spark, sf_dir).filter(
        F.col("address") == SERVE_ADDRESS
    )
    return _priced(spark, sf_dir, folded)


@query(
    "serve_address_tx_history",
    oracle="""
    WITH tx AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             ROW_NUMBER() OVER (
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT) // 86400, event_id)
               AS serial
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), touch AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
             'e' || CAST(event_id AS VARCHAR) AS txid,
             d AS block, serial, t AS type_int,
             CASE WHEN t = 50 THEN 'issuer' ELSE 'sender' END AS role
      FROM tx
      UNION ALL
      SELECT 'u' || CAST(user_id + 1 AS VARCHAR),
             'e' || CAST(event_id AS VARCHAR),
             d, serial, t, 'recipient'
      FROM tx WHERE t = 0
    )
    SELECT txid, block, serial, CAST(type_int AS INT) AS type_int, role
    FROM touch WHERE address = 'u42'
    ORDER BY serial, role LIMIT 100
    """,
)
def serve_address_tx_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Get Transactions for an Address"
    (``database/SQLstatements.md:107-124``): the address's
    AddressesInTxs rows joined back to Transactions, newest-page
    semantics via order+limit.  The address predicate lands on the
    delta rows before the join, and order-by-limit compiles to
    TakeOrderedAndProject — a serving page never sorts the history."""
    txs = _stamped_txs(spark, sf_dir)
    deltas = expand_deltas(txs)
    touched = (
        deltas.filter(F.col("address") == SERVE_ADDRESS)
        .select("txid", "role")
        .distinct()
    )
    detail = txs.select("txid", "block", "serial", "type_int")
    return (
        detail.join(F.broadcast(touched), "txid")
        .select("txid", "block", "serial", "type_int", "role")
        .orderBy("serial", "role")
        .limit(100)
    )


_WALLET_ADDRS = ["u30", "u31", "u32"]  # AddressesInWallets for 'w10'


@query(
    "serve_wallet_balances",
    oracle="""
    WITH tx AS (
      SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             'u' || CAST(user_id AS VARCHAR) AS sender,
             'u' || CAST(user_id + 1 AS VARCHAR) AS ref,
             user_id % 5 AS propertyid,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000
                            AS BIGINT)
                  ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8)))
                            AS BIGINT) END AS base_units
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), deltas AS (
      SELECT sender AS address, propertyid, base_units AS delta
      FROM tx WHERE t = 50
      UNION ALL
      SELECT sender, propertyid, -base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT ref, propertyid, base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT 'u' || CAST(c_custkey AS VARCHAR),
             c_custkey % 5,
             CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
      FROM customer
    ), bal AS (
      SELECT address, propertyid,
             CAST(SUM(delta) AS BIGINT) AS available
      FROM deltas WHERE address IN ('u30', 'u31', 'u32')
      GROUP BY address, propertyid
    ), rates AS (
      SELECT propertyid, rate_cents FROM (
        SELECT o_orderkey % 5 AS propertyid,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS rate_cents,
               ROW_NUMBER() OVER (
                 PARTITION BY o_orderkey % 5
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
      WHERE rn = 1
    )
    SELECT b.address, b.propertyid, b.available,
           r.rate_cents,
           CAST(CAST(CAST(b.available AS DECIMAL(28,0))
                     * CAST(r.rate_cents AS DECIMAL(28,0)) AS VARCHAR)
                AS DOUBLE) AS value_available_cents
    FROM bal b JOIN rates r ON r.propertyid = b.propertyid
    """,
)
def serve_wallet_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Addresses and Balances & Values in a Wallet"
    (``database/SQLstatements.md:15-43``): the wallet's address set
    (AddressesInWallets) restricts the genesis-seeded fold — an
    IN-list on the fold's group key, pushed below the aggregation
    exactly like the single-address lookup — then the broadcast rate
    dim prices every holding."""
    folded = _genesis_balances(spark, sf_dir).filter(
        F.col("address").isin(_WALLET_ADDRS)
    )
    return _priced(spark, sf_dir, folded)


@query(
    "serve_property_holders",
    oracle="""
    WITH tx AS (
      SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             'u' || CAST(user_id AS VARCHAR) AS sender,
             'u' || CAST(user_id + 1 AS VARCHAR) AS ref,
             user_id % 5 AS propertyid,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000
                            AS BIGINT)
                  ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8)))
                            AS BIGINT) END AS base_units
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), deltas AS (
      SELECT sender AS address, propertyid, base_units AS delta
      FROM tx WHERE t = 50
      UNION ALL
      SELECT sender, propertyid, -base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT ref, propertyid, base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT 'u' || CAST(c_custkey AS VARCHAR),
             c_custkey % 5,
             CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
      FROM customer
    )
    SELECT address,
           CAST(SUM(delta) AS BIGINT) AS available
    FROM deltas WHERE propertyid = 2
    GROUP BY address
    ORDER BY available DESC, address LIMIT 25
    """,
)
def serve_property_holders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich list — "Get Balances for Property" (reference
    ``sql.py:1134-1203`` getallbalancesforid): every holder of one
    property ranked by balance, top page.  The propertyid predicate
    pushes below the fold like the address lookups, and the page is
    TakeOrderedAndProject — per-partition top-25 then a 25-row merge,
    never a global sort of all holders."""
    folded = _genesis_balances(spark, sf_dir).filter(
        F.col("propertyid") == 2
    )
    return (
        folded.select(
            "address", F.col("balance").cast("long").alias("available")
        )
        .orderBy(F.desc("available"), F.asc("address"))
        .limit(25)
    )


_TTL_DAYS = 5  # reference BTCBAL_CACHE = 600 s; here the clock is
# event-time days, so TTL semantics stay deterministic and replayable


@query(
    "serve_cached_rates",
    oracle="""
    WITH d AS (
      SELECT user_id % 5 AS propertyid,
             CAST(CAST(ts AS DATE) - (SELECT MIN(CAST(ts AS DATE))
                                      FROM events) AS BIGINT) AS day,
             CAST(ROUND(value*100) AS BIGINT) AS cents
      FROM events
    ), clk AS (
      SELECT MAX(day) AS clock FROM d
    ), v1 AS (
      SELECT propertyid, MAX(cents) AS rate_cents
      FROM d, clk WHERE day <= clock - 10 GROUP BY propertyid
    ), v2 AS (
      SELECT propertyid, MAX(cents) AS rate_cents
      FROM d GROUP BY propertyid
    )
    SELECT 'hit' AS lookup, 1 AS cache_version,
           (SELECT clock - 10 FROM clk) AS served_as_of_day,
           FALSE AS refreshed,
           CAST(COUNT(*) AS BIGINT) AS n_properties,
           CAST(SUM(rate_cents) AS BIGINT) AS total_rate_cents
    FROM v1
    UNION ALL
    SELECT 'stale', 2, (SELECT clock FROM clk), TRUE,
           CAST(COUNT(*) AS BIGINT), CAST(SUM(rate_cents) AS BIGINT)
    FROM v2
    """,
)
def serve_cached_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-cached materialized view — the reference's Redis balance
    cache (``cacher.py:5-36``, ``config.py.example`` BTCBAL_CACHE
    600 s) re-expressed with zero external dependencies: the cache is
    a VERSIONED materialized view (``sources.versioned``) whose
    staleness bound travels IN the data (``as_of_day``), and TTL is a
    rule over event time, not wall-clock — so the whole cache
    lifecycle is deterministic and oracle-checkable.

    Two lookups exercise both branches:

    * ``hit``   — clock is within TTL of the cached version's
      watermark → serve the cached version untouched (the reference's
      Redis GET path);
    * ``stale`` — clock has advanced past TTL → recompute, commit as
      the next immutable version, serve THAT (the reference's
      recompute + SETEX path), leaving the old version readable for
      time travel.

    Scale: the refresh is one partition-pruned aggregation + one
    versioned commit; readers never block (snapshot isolation).  The
    first day and the clock come from ``day_range`` (the events
    footers), and the staleness decision compares the clock with the
    watermark the plan last committed: building the plan fires no
    probe job.
    """
    from omniengine_spark.sources.sinks import scratch_dir
    from omniengine_spark.sources.versioned import (
        commit,
        current_version,
        read_version,
    )

    first, last = day_range(spark, sf_dir)
    # an empty events table has no day: every version is then empty,
    # and any clock gives the oracle's hit/refresh pair
    clock = 0 if first is None else (last - first).days
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("propertyid"),
        F.datediff(F.to_date("ts"), F.lit(first)).cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def rates_as_of(day: int) -> DataFrame:
        return (
            ev.filter(F.col("day") <= day)
            .groupBy("propertyid")
            .agg(F.max("cents").alias("rate_cents"))
            .withColumn("as_of_day", F.lit(day).cast("long"))
        )

    path = scratch_dir("serve-rate-cache")
    watermark = clock - 10
    commit(rates_as_of(watermark), path, f"rates as of {watermark}")

    def serve(now: int, label: str) -> DataFrame:
        nonlocal watermark
        refreshed = now - watermark > _TTL_DAYS
        if refreshed:  # the SETEX path: recompute, commit, serve new
            watermark = now
            commit(rates_as_of(now), path, f"refresh at {now}")
        cached = read_version(spark, path)
        return cached.agg(
            F.lit(label).alias("lookup"),
            F.lit(current_version(path)).cast("int").alias(
                "cache_version"
            ),
            F.max("as_of_day").alias("served_as_of_day"),
            F.lit(refreshed).alias("refreshed"),
            F.count(F.lit(1)).alias("n_properties"),
            F.sum("rate_cents").cast("long").alias("total_rate_cents"),
        )

    # lookup 1: 3 days after the cached watermark — inside TTL
    hit = serve(clock - 7, "hit")
    # lookup 2: at the tip — past TTL, triggers the refresh commit
    stale = serve(clock, "stale")
    return hit.unionByName(stale)
