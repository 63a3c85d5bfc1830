"""Domain plans: the reference engine's core ledger / state-machine /
scalar shapes re-expressed over the harness star schema.

Each plan cites the reference site it re-expresses (SURVEY §2 ids),
from the D1 ledger to the F9/D8 tx-class classifier.
The decimal discipline from ``plans/relational.py`` applies: exact
DECIMAL intermediates for money, double only at the surface, so every
result is bit-stable under any partitioning and matches the DuckDB
oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_18_4
from omniengine_spark.operators import replay as R
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table


# --------------------------------------------------------------------
# D1 + A10 — per-tx delta expansion into double-entry ledger rows, then
# balance fold (reference insertTxAddr dispatch sql.py:1664-2409 +
# updateBalance sql.py:1320-1418).  One order → a debit row against the
# customer account and a credit row against the order-status book;
# inline() expands rows inside codegen, the fold is one groupBy-sum.
# --------------------------------------------------------------------
@query(
    "d1_double_entry_ledger",
    oracle="""
    WITH deltas AS (
      SELECT 'cust:' || CAST(o_custkey AS VARCHAR) AS account,
             -CAST(o_totalprice AS DECIMAL(18,4)) AS delta
      FROM orders
      UNION ALL
      SELECT 'book:' || o_orderstatus AS account,
             CAST(o_totalprice AS DECIMAL(18,4)) AS delta
      FROM orders
    )
    SELECT account,
           CAST(CAST(SUM(delta) AS VARCHAR) AS DOUBLE) AS balance,
           COUNT(*) AS n_deltas
    FROM deltas
    GROUP BY account
    """,
)
def d1_double_entry_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    amt = F.col("o_totalprice").cast(DEC_18_4)
    deltas = orders.select(
        F.inline(
            F.array(
                F.struct(
                    F.concat(
                        F.lit("cust:"), F.col("o_custkey").cast("string")
                    ).alias("account"),
                    (-amt).alias("delta"),
                ),
                F.struct(
                    F.concat(F.lit("book:"), F.col("o_orderstatus")).alias(
                        "account"
                    ),
                    amt.alias("delta"),
                ),
            )
        )
    )
    return deltas.groupBy("account").agg(
        F.sum("delta").cast("double").alias("balance"),
        F.count(F.lit(1)).alias("n_deltas"),
    )


# --------------------------------------------------------------------
# D2 + W4 — Send-To-Owners pro-rata allocation (reference
# sendToOwners sql.py:470-534): distribute a pot over recipients,
# ceil-rounded shares in payout order (largest holder first), cutoff
# when the pot is exhausted.  The reference loops row-by-row; the
# closed form is a cumulative window sum — one shuffle on the order
# key, no sequential state.
# --------------------------------------------------------------------
@query(
    "d2_pro_rata_allocation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(18,4)) AS q,
             CAST(o_totalprice AS DECIMAL(18,4)) AS pot
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), w AS (
      SELECT *,
             CAST(CEIL(CAST(CAST(100 * pot * q AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(SUM(q) OVER (PARTITION BY l_orderkey)
                                   AS VARCHAR) AS DOUBLE))
                  AS BIGINT) AS share_c,
             CAST(100 * pot AS BIGINT) AS pot_c
      FROM li
    ), c AS (
      SELECT *,
             COALESCE(SUM(share_c) OVER (
               PARTITION BY l_orderkey
               ORDER BY q DESC, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM w
    )
    SELECT l_orderkey, l_linenumber,
           CAST(GREATEST(LEAST(share_c, pot_c - cum_before), 0) AS BIGINT)
             AS alloc_cents
    FROM c
    """,
)
def d2_pro_rata_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast(DEC_18_4).alias("q"),
        F.col("o_totalprice").cast(DEC_18_4).alias("pot"),
    )
    w_all = Window.partitionBy("l_orderkey")
    shared = base.select(
        "l_orderkey",
        "l_linenumber",
        "q",
        F.ceil(
            (F.lit(100) * F.col("pot") * F.col("q")).cast("double")
            / F.sum("q").over(w_all).cast("double")
        ).alias("share_c"),
        (F.lit(100) * F.col("pot")).cast("long").alias("pot_c"),
    )
    w_cut = (
        Window.partitionBy("l_orderkey")
        .orderBy(F.col("q").desc(), F.col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = shared.withColumn(
        "cum_before", F.coalesce(F.sum("share_c").over(w_cut), F.lit(0))
    )
    alloc = F.greatest(
        F.least(F.col("share_c"), F.col("pot_c") - F.col("cum_before")),
        F.lit(0).cast("long"),
    )
    return cum.select(
        "l_orderkey", "l_linenumber", alloc.alias("alloc_cents")
    )


# --------------------------------------------------------------------
# D7 — balance fold with a floor at zero, closed form (reference
# updateBalance's no-negative read-modify-write, sql.py:1320-1418).
# b_i = max(0, b_{i-1}+d_i) ≡ S_i − min(0, min_{j≤i} S_j): two stacked
# windows, no sequential state, fully distributed.
# --------------------------------------------------------------------
_D7_ORACLE = """
    WITH d AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  WHEN event_type IN ('error', 'click')
                  THEN -CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END AS delta_cents
      FROM events
    ), s AS (
      SELECT *, SUM(delta_cents) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum
      FROM d
    ), m AS (
      SELECT *, MIN(run_sum) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
      FROM s
    )
    SELECT event_id, user_id,
           CAST(run_sum - LEAST(run_min, 0) AS BIGINT) AS balance_cents
    FROM m
"""


def _event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id", "ts", R.event_delta_cents().alias("delta_cents")
    )


@query("d7_floor_balance_closed", oracle=_D7_ORACLE)
def d7_floor_balance_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _event_deltas(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = d.withColumn("run_sum", F.sum("delta_cents").over(w))
    m = s.withColumn("run_min", F.min("run_sum").over(w))
    return m.select(
        "event_id",
        "user_id",
        (F.col("run_sum") - F.least(F.col("run_min"), F.lit(0))).alias(
            "balance_cents"
        ),
    )


@query("d7_floor_balance_replay", oracle=_D7_ORACLE)
def d7_floor_balance_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the generic ordered-replay operator
    (operators/replay.py) — proves the applyInPandas fold is exactly
    the sequential semantics the closed form solves."""
    d = _event_deltas(spark, sf_dir)
    return R.floor_balance_replay(d)


# --------------------------------------------------------------------
# D3/D4 — DEx offer/accept state machine (reference updatedex
# sql.py:704-794, offerAccept/updateAccept sql.py:590-702), replayed
# per entity by operators/replay.py.  The oracle is the closed form:
# the final state depends only on events from the LAST offer
# placement onward, and accepts are monotone decrements, so SQL
# windows express the terminal state without sequential state.
# --------------------------------------------------------------------
@query(
    "d3_offer_state_machine",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), lv AS (
      SELECT user_id, MAX(ts) AS view_ts,
             arg_max(cents, ts) AS amount
      FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), fc AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM ev e JOIN lv ON e.user_id = lv.user_id
      WHERE e.event_type = 'click' AND e.ts > lv.view_ts
      GROUP BY e.user_id
    ), paid AS (
      SELECT e.user_id, SUM(e.cents) AS paid_cents
      FROM ev e
      JOIN lv ON e.user_id = lv.user_id
      LEFT JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > lv.view_ts
        AND (fc.click_ts IS NULL OR e.ts < fc.click_ts)
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN lv.view_ts IS NULL THEN 'none'
                WHEN GREATEST(lv.amount - COALESCE(paid.paid_cents, 0), 0) = 0
                  THEN 'filled'
                WHEN fc.click_ts IS NOT NULL THEN 'cancelled'
                ELSE 'open' END AS final_state,
           CAST(CASE WHEN lv.view_ts IS NULL THEN 0
                ELSE GREATEST(lv.amount - COALESCE(paid.paid_cents, 0), 0)
                END AS BIGINT) AS remaining_cents
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN lv ON u.user_id = lv.user_id
    LEFT JOIN fc ON u.user_id = fc.user_id
    LEFT JOIN paid ON u.user_id = paid.user_id
    """,
)
def d3_offer_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return R.offer_state_replay(ev)


# --------------------------------------------------------------------
# D6 + X5 — crowdsale lifecycle (reference participation
# sql.py:2180-2244, expiry sql.py:1420-1444, issuer bonus formula
# csvtools.py:231-236): a signup opens a 3-day crowdsale; the same
# user's purchases before the deadline buy tokens at 2/cent with a
# 20% early-bird bonus in the first day; the issuer takes a 10% bonus
# of everything issued.  All integer arithmetic; state is closed-form
# (participations are independent), so the whole lifecycle is joins +
# aggregates — no replay needed.
# --------------------------------------------------------------------
@query(
    "d6_crowdsale_lifecycle",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
    sales AS (
      SELECT user_id, MIN(ts) AS open_ts,
             MIN(ts) + INTERVAL 3 DAY AS deadline
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    parts AS (
      SELECT s.user_id,
             CAST(ROUND(e.value * 100) AS BIGINT) * 2
               + CASE WHEN e.ts <= s.open_ts + INTERVAL 1 DAY
                      THEN (CAST(ROUND(e.value * 100) AS BIGINT) * 2) // 5
                      ELSE 0 END AS tokens
      FROM events e JOIN sales s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s.open_ts AND e.ts <= s.deadline
    )
    SELECT s.user_id,
           CASE WHEN s.deadline > (SELECT mx FROM anchor)
                THEN 'active' ELSE 'closed' END AS sale_state,
           CAST(COALESCE(SUM(p.tokens), 0) AS BIGINT) AS tokens_issued,
           CAST(COALESCE(SUM(p.tokens), 0) // 10 AS BIGINT) AS issuer_bonus,
           COUNT(p.tokens) AS n_participations
    FROM sales s LEFT JOIN parts p ON s.user_id = p.user_id
    GROUP BY s.user_id, s.deadline
    """,
)
def d6_crowdsale_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    sales = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("open_ts"))
        .withColumn("deadline", F.col("open_ts") + F.expr("INTERVAL 3 DAY"))
    )
    cents2 = F.round(F.col("value") * 100).cast("long") * 2
    parts = (
        ev.filter(F.col("event_type") == "purchase")
        .join(sales, "user_id")
        .filter(
            (F.col("ts") > F.col("open_ts"))
            & (F.col("ts") <= F.col("deadline"))
        )
        .select(
            "user_id",
            (
                cents2
                + F.when(
                    F.col("ts") <= F.col("open_ts") + F.expr("INTERVAL 1 DAY"),
                    F.expr(
                        "(CAST(ROUND(value * 100) AS BIGINT) * 2) div 5"
                    ),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("tokens"),
        )
    )
    out = (
        sales.join(parts, "user_id", "left")
        .groupBy("user_id", "deadline")
        .agg(
            F.coalesce(F.sum("tokens"), F.lit(0)).alias("tokens_issued"),
            F.count("tokens").alias("n_participations"),
        )
        .crossJoin(F.broadcast(anchor))
    )
    return out.select(
        "user_id",
        F.when(F.col("deadline") > F.col("mx"), "active")
        .otherwise("closed")
        .alias("sale_state"),
        "tokens_issued",
        F.expr("tokens_issued div 10").alias("issuer_bonus"),
        "n_participations",
    )


# --------------------------------------------------------------------
# J5 — linkage self-join (reference UTXO vin⋈vout back-patch,
# sql.py:1698-1718): each event linked to the same user's previous
# event as a computed column instead of a mutation.  lag() = one
# shuffle on user_id, sort within partition.
# --------------------------------------------------------------------
@query(
    "j5_event_prev_link",
    oracle="""
    SELECT event_id, user_id,
           LAG(event_id) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
           CAST(floor(epoch(ts)) - floor(epoch(LAG(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
             AS gap_seconds
    FROM events
    """,
)
def j5_event_prev_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias(
            "gap_seconds"
        ),
    )


# --------------------------------------------------------------------
# J7 — upsert as anti-join + union (reference's upsert-CTE zoo,
# sql.py:233-236 et al): a base snapshot updated by a delta batch.
# The oracle states the declarative truth (latest per key overall) —
# the plan proves the incremental upsert machinery reproduces it.
# --------------------------------------------------------------------
@query(
    "j7_upsert_snapshot",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) - INTERVAL 2 DAY AS cutoff FROM events)
    SELECT user_id,
           arg_max(event_id, ts) AS last_event_id,
           MAX(ts) > (SELECT cutoff FROM anchor) AS updated_in_batch
    FROM events
    GROUP BY user_id
    """,
)
def j7_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 DAY")).alias("cutoff")
    )
    ev = ev.crossJoin(F.broadcast(cutoff))
    base = (
        ev.filter(F.col("ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.max_by("event_id", "ts").alias("last_event_id"))
        .withColumn("updated_in_batch", F.lit(False))
    )
    delta = (
        ev.filter(F.col("ts") > F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.max_by("event_id", "ts").alias("last_event_id"))
        .withColumn("updated_in_batch", F.lit(True))
    )
    kept = base.join(
        delta.select("user_id"), "user_id", "left_anti"
    )
    return delta.unionByName(kept)


# --------------------------------------------------------------------
# X3 — pending-entry expiry (reference mempool handling,
# sql.py:314-455: pending txs confirmed by a block or expired after
# 5 h).  Clicks are "pending", a later purchase by the same user
# "confirms", anything older than 5 h before the stream tip expires.
# Anti-join on the equi key with a range residual.
# --------------------------------------------------------------------
@query(
    "x3_pending_expiry",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events)
    SELECT c.event_id, c.user_id,
           CAST(floor(epoch((SELECT mx FROM anchor)))
                - floor(epoch(c.ts)) AS BIGINT) AS age_seconds
    FROM events c
    WHERE c.event_type = 'click'
      AND c.ts > (SELECT mx FROM anchor) - INTERVAL 5 HOUR
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id AND p.ts > c.ts
      )
    """,
)
def x3_pending_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .crossJoin(F.broadcast(anchor))
        .filter(F.col("ts") > F.col("mx") - F.expr("INTERVAL 5 HOUR"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    pending = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user) & (purchases.p_ts > clicks.ts),
        "left_anti",
    )
    return pending.select(
        "event_id",
        "user_id",
        (F.unix_timestamp("mx") - F.unix_timestamp("ts")).alias(
            "age_seconds"
        ),
    )


# --------------------------------------------------------------------
# A7 + D10 — market ticker (reference updateMarkets sql.py:887-974:
# supply, best ask, volume-weighted price per pair).  Pure grouped
# aggregation with exact-decimal sums; the double divisions at the
# surface are IEEE-identical on both engines.
# --------------------------------------------------------------------
@query(
    "a7_market_ticker",
    oracle="""
    SELECT l_suppkey,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS supply,
           MIN(l_extendedprice / l_quantity) AS best_ask,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS vwap,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def a7_market_ticker(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(DEC_18_4))
        .cast("double")
        .alias("supply"),
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "best_ask"
        ),
        (
            F.sum(F.col("l_extendedprice").cast(DEC_18_4)).cast("double")
            / F.sum(F.col("l_quantity").cast(DEC_18_4)).cast("double")
        ).alias("vwap"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------
# A12 — FIRST/LAST aggregates (reference custom Postgres aggregates,
# omni_db_create_functions.psql:4-27) as min_by/max_by — no second
# join, no window.  (user_id, ts) is unique in the harness data, so
# the arg-extremum is deterministic.
# --------------------------------------------------------------------
@query(
    "a12_first_last_value",
    oracle="""
    SELECT user_id,
           arg_min(value, ts) AS first_value,
           arg_max(value, ts) AS last_value,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
)
def a12_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("value", "ts").alias("first_value"),
        F.max_by("value", "ts").alias("last_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------
# A9 — duplicate-name flagging (reference triple-LIKE scan over
# property names, sql.py:1602-1624) — rewritten from a quadratic LIKE
# into a token-key window: one shuffle, no pairwise scan.
# --------------------------------------------------------------------
@query(
    "a9_duplicate_name_flags",
    oracle="""
    SELECT p_partkey,
           split_part(lower(p_name), ' ', 1) AS name_token,
           COUNT(*) OVER (
             PARTITION BY split_part(lower(p_name), ' ', 1)) > 1
             AS has_dup,
           MIN(p_partkey) OVER (
             PARTITION BY split_part(lower(p_name), ' ', 1))
             AS canonical_partkey
    FROM part
    """,
)
def a9_duplicate_name_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    token = F.element_at(F.split(F.lower("p_name"), " "), 1)
    d = part.select("p_partkey", token.alias("name_token"))
    w = Window.partitionBy("name_token")
    return d.select(
        "p_partkey",
        "name_token",
        (F.count(F.lit(1)).over(w) > 1).alias("has_dup"),
        F.min("p_partkey").over(w).alias("canonical_partkey"),
    )


# --------------------------------------------------------------------
# A5 — per-period counts + trailing/cumulative rollup (reference
# per-block txstats sql.py:257-312, computed for all periods at once
# instead of a per-block loop).
# --------------------------------------------------------------------
@query(
    "a5_daily_event_stats",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS day_value
      FROM events
      GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n_events, day_value,
           CAST(COALESCE(LAG(n_events) OVER (ORDER BY day), 0) AS BIGINT)
             AS prev_day_events,
           CAST(SUM(n_events) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_events
    FROM daily
    """,
)
def a5_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC_18_4)).cast("double").alias("day_value"),
    )
    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "n_events",
        "day_value",
        F.coalesce(F.lag("n_events").over(w), F.lit(0)).alias(
            "prev_day_events"
        ),
        F.sum("n_events").over(wc).alias("cum_events"),
    )


# --------------------------------------------------------------------
# F1/F3/F6/F7/F8 — the scalar-function gauntlet in one projection
# (reference: decimal scaling sql.py:396-405, hex payload decode
# sql.py:1626-1641, ecosystem/type mapping omniutils.py:14-28,
# null-tolerant casts sql.py:1340-1414, math sql.py:302-304).
# Everything is a codegen column expression; no UDFs.
# --------------------------------------------------------------------
@query(
    "f1_scalar_gauntlet",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size % 2 = 0
                THEN CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 100000000
                          AS BIGINT)
                ELSE CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 100
                          AS BIGINT) END AS amount_base_units,
           CAST(list_sum([CAST(strpos('0123456789abcdef', h[i]) - 1 AS BIGINT)
                          << (4 * (8 - i)) for i in range(1, 9)]) AS BIGINT)
             AS hex_val,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class,
           CASE WHEN p_partkey % 3 = 0 THEN 'Test'
                ELSE 'Production' END AS ecosystem,
           COALESCE(TRY_CAST(split_part(p_type, ' ', 1) AS BIGINT), -1)
             AS try_num,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           ROUND(p_retailprice / 7, 2) AS price_div_round,
           ABS(p_size - 25) AS size_offset
    FROM (SELECT *, substr(md5(p_name), 1, 8) AS h FROM part)
    """,
)
def f1_scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    price_dec = F.col("p_retailprice").cast(DEC_18_4)
    hex8 = F.substring(F.md5("p_name"), 1, 8)
    return part.select(
        "p_partkey",
        F.when(
            F.col("p_size") % 2 == 0,
            (price_dec * 100000000).cast("long"),
        )
        .otherwise((price_dec * 100).cast("long"))
        .alias("amount_base_units"),
        F.conv(hex8, 16, 10).cast("long").alias("hex_val"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.when(F.col("p_partkey") % 3 == 0, "Test")
        .otherwise("Production")
        .alias("ecosystem"),
        F.coalesce(
            F.expr("try_cast(split(p_type, ' ')[0] AS BIGINT)"), F.lit(-1)
        ).alias("try_num"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.round(F.col("p_retailprice") / 7, 2).alias("price_div_round"),
        F.abs(F.col("p_size") - 25).alias("size_offset"),
    )


# --------------------------------------------------------------------
# F2 — timestamp conversions (reference epoch/interval handling
# sql.py:2417, 2512, 266; UTC fixed by the session).
# --------------------------------------------------------------------
@query(
    "f2_time_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
           CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           o_orderdate + INTERVAL 1 DAY AS next_day,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m
    FROM orders
    """,
)
def f2_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_trunc("day", "o_orderdate").alias("day"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("next_day"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    )


# --------------------------------------------------------------------
# F5 — JSON payload extraction (reference jsonb ->> + cast,
# sql.py:270-276; expression indexes omni_db_schema.psql:241-251).
# The events.props column is a JSON document; typed extraction stays
# in codegen via get_json_object.
# --------------------------------------------------------------------
@query(
    "f5_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def f5_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


# --------------------------------------------------------------------
# F5b — VARIANT shredding (Spark 4 native semi-structured type).
# Same reference surface as F5 (jsonb ->> extraction, sql.py:270-276)
# on the modern path: parse once into the binary VARIANT encoding,
# then typed variant_get extraction — at 100 TB this replaces
# re-tokenizing the JSON string per predicate with one parse and
# O(1) binary field access, and stays inside codegen.
# --------------------------------------------------------------------
@query(
    "f5b_variant_shred",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           COUNT(CASE WHEN json_extract_string(props, '$.missing')
                      IS NULL THEN 1 END) AS n_missing_field
    FROM events
    GROUP BY event_type
    """,
)
def f5b_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.missing", "string")
    return ev.select("event_type", k.alias("k"), missing.alias("m")).groupBy(
        "event_type"
    ).agg(
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count(F.when(F.col("m").isNull(), 1)).alias("n_missing_field"),
    )


# ---------------------------------------------------------------------------
# F9/D8 — tx-class classifier over vout script arrays
# (omniutils.py:31-62).  Every synthetic tx carries a pubkeyhash
# output; docs with even ids add a nulldata payload and user_id%3==0
# adds a bare-multisig output, so the when-chain's precedence
# (C before B before A) is what the oracle checks.
# ---------------------------------------------------------------------------
@query(
    "f9_txclass",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'C'
                  WHEN user_id % 3 = 0 THEN 'B'
                  ELSE 'A' END AS tx_class
      FROM events
    )
    SELECT tx_class, COUNT(*) AS n_txs
    FROM c GROUP BY tx_class
    """,
)
def f9_txclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.pipeline.omni import classify_tx

    ev = load_table(spark, sf_dir, "events")
    out = lambda st: F.struct(  # noqa: E731
        F.lit(0).cast("bigint").alias("n"),
        F.lit("x").alias("address"),
        F.lit(1).cast("bigint").alias("value_sat"),
        F.lit(st).alias("script_type"),
    )
    base = F.array(out("pubkeyhash"))
    with_ms = F.when(
        F.col("user_id") % 3 == 0, F.concat(base, F.array(out("multisig")))
    ).otherwise(base)
    vout = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(with_ms, F.array(out("nulldata"))),
    ).otherwise(with_ms)
    btc = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
            "txid"
        ),
        vout.alias("vout"),
    )
    return (
        classify_tx(btc)
        .groupBy("tx_class")
        .agg(F.count(F.lit(1)).alias("n_txs"))
    )
