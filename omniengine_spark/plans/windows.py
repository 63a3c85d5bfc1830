"""Window / ordered-computation plans (SURVEY §2.5 W1-W6, §2.6 T-shapes),
plus the W7 as-of join, the W8 RANGE-frame window and X8/J7b SCD2
version history.

The reference does all ordered work row-at-a-time in Python; here each
shape is a Spark window spec, which the optimizer turns into one
shuffle-on-partition-key + in-partition sort — the partition key keeps
cardinality high (user_id, custkey), so no single task ever holds more
than one key-group's worth of skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_18_4, epoch_us
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table


# --------------------------------------------------------------------
# W1 — latest-row-per-key (reference "order by asof desc limit 1",
# sql.py:282,295: latest exchange rate).  row_number over a desc window
# + rn=1; ties broken by event_id for determinism.
# --------------------------------------------------------------------
@query(
    "w1_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def w1_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


# --------------------------------------------------------------------
# W2 — running balances (reference finalizeAfterBalances
# sql.py:1658-1662: stamp AfterBalance onto each delta row).
# Cumulative exact-decimal sum per key in event order.
# --------------------------------------------------------------------
@query(
    "w2_running_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             AS running_value
    FROM events
    """,
)
def w2_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC_18_4)).over(w).cast("double").alias(
            "running_value"
        ),
    )


# Same result as w2, computed skew-safely: a hot user (one key with
# 20% of all rows — tools/gen_testdata.py --zipf) turns the single
# running window into one straggler task; the chunked two-pass prefix
# sum spreads it over one task per (user, day).  Oracle is w2's —
# the operator is exact, so the outputs are bit-identical.
@query(
    "w2b_running_value_chunked",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             AS running_value
    FROM events
    """,
)
def w2b_running_value_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.skew import chunked_running_sum

    ev = load_table(spark, sf_dir, "events")
    out = chunked_running_sum(
        ev,
        key="user_id",
        order_cols=["ts", "event_id"],
        value_col=F.col("value").cast(DEC_18_4),
        chunk_col=F.date_trunc("day", F.col("ts")),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("running_value").cast("double").alias("running_value"),
    )


# Auto-selected variant: a sampled top-key-share probe picks the
# plain window or the chunked two-pass form (operators/skew.py:
# running_sum_auto).  Both branches are bit-identical, so the SAME
# w2 oracle checks whichever branch the probe chose — the probe is a
# physical-plan decision, not a semantic one.  On the driver's
# uniform-key corpora this resolves to the plain window; the chunked
# branch is driver-gated via w2b above and the Zipf soak
# (tools/scale_soak_skew.json).
@query(
    "w2c_running_value_auto",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             AS running_value
    FROM events
    """,
)
def w2c_running_value_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.skew import running_sum_auto

    ev = load_table(spark, sf_dir, "events")
    out = running_sum_auto(
        ev,
        key="user_id",
        order_cols=["ts", "event_id"],
        value_col=F.col("value").cast(DEC_18_4),
        chunk_col=F.date_trunc("day", F.col("ts")),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("running_value").cast("double").alias("running_value"),
    )


# --------------------------------------------------------------------
# W3 — deterministic global sequence assignment (reference TxDBSerialNum
# sequence, omniEngine.py:104-106; replaced by replayable row_number).
# A single global window is a 1-partition sort — fine for per-block
# batches (the reference's unit of work), and the plan below shows the
# scalable variant: dense ordering derived from (date, key) zip.
# --------------------------------------------------------------------
@query(
    "w3_order_serial",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS serial
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
    """,
)
def w3_order_serial(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global row_number is only ever applied to one incremental batch
    # (the reference's per-block unit), never the full history — the
    # filter here models that high-watermark slice.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey", F.row_number().over(w).cast("long").alias("serial")
    )


# --------------------------------------------------------------------
# W4 — deterministic two-key ordering + ranked share (reference sortSTO
# sql.py:457-468: STO payout order = balance desc, address asc).
# --------------------------------------------------------------------
@query(
    "w4_customer_rank_in_nation",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROW_NUMBER() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_nation
    FROM customer
    """,
)
def w4_customer_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).cast("long").alias("rank_in_nation"),
    )


# --------------------------------------------------------------------
# W6/A1 — per-key high-watermark (reference max(txdbserialnum) resume
# points, omniEngine.py:61).  max_by gives last event id per user
# without a second join.
# --------------------------------------------------------------------
@query(
    "w6_user_watermark",
    oracle="""
    SELECT user_id,
           MAX(event_id) AS max_event_id,
           CAST(MAX(ts) AS TIMESTAMP) AS watermark_ts
    FROM events
    GROUP BY user_id
    """,
)
def w6_user_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max("event_id").alias("max_event_id"),
        F.max("ts").alias("watermark_ts"),
    )


@query(
    "w9_session_window_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def w9_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window (dynamic-gap merged windows)
    against the lag→flag→cumsum formulation the manual plans use
    (w5/x4): one hash aggregate whose grouping key merges overlapping
    [ts, ts+gap) intervals — no window-function sort at all, which at
    scale beats the two stacked sorts of the manual gap-cut.  The
    oracle proves the two formulations define identical sessions.
    session_window needs TIMESTAMP input; outputs are pinned NTZ to
    the engine's naive-timestamp output convention."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        ev.groupBy(sw, F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start")
            .cast("timestamp_ntz")
            .alias("session_start"),
            F.col("session_window.end")
            .cast("timestamp_ntz")
            .alias("session_end"),
            "n_events",
        )
    )


@query(
    "w10_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT 'viewed' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 'clicked', COUNT(*) FROM c
    UNION ALL
    SELECT 'purchased', COUNT(*) FROM p
    """,
)
def w10_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click after it → purchase after that):
    sequence detection as THREE conditional-min aggregations chained
    by equi-joins on user_id — min(view); join back, min(click >
    t_view); join back, min(purchase > t_click).  No reference analog
    (serving-layer analytics the engine should offer).

    Deliberately NOT collect_list of per-user event arrays: a hot key
    (bot traffic) would put an unbounded array into one aggregation
    buffer — the classic skew OOM at 100×.  Here every agg buffer
    holds exactly one timestamp regardless of per-user event count
    (min has a map-side partial), and the three shuffles share the
    user_id key.  Bounded-state property pinned by
    tests/test_skew.py::test_funnel_hot_user_bounded."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    staged = v.join(c.select("user_id", "t_click"), "user_id", "left").join(
        p.select("user_id", "t_purchase"), "user_id", "left"
    )
    counts = staged.agg(
        F.count(F.lit(1)).alias("viewed"),
        F.count("t_click").alias("clicked"),
        F.count("t_purchase").alias("purchased"),
    )
    stages = [
        ("viewed", F.col("viewed")),
        ("clicked", F.col("clicked")),
        ("purchased", F.col("purchased")),
    ]
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("stage"), v.alias("n_users")
                    )
                    for n, v in stages
                ]
            )
        ).alias("s")
    ).select("s.*")


@query(
    "a20_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(MIN(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day,
                       CAST(date_trunc('day', e.ts) AS TIMESTAMP))
               AS day_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def a20_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort grid: users keyed by first-seen day, counted
    per (cohort, day-offset ≤ 7) — the standard growth-analytics
    rollup.  One shuffle to find cohorts (a min-agg), one broadcast
    join back, one distinct+count; the cohort dim never exceeds
    |days| × 8 rows regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@query(
    "w11_balance_deciles",
    oracle="""
    SELECT c_custkey,
           n_name,
           NTILE(10) OVER w AS decile,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WINDOW w AS (PARTITION BY n_name
                 ORDER BY c.c_acctbal DESC, c.c_custkey)
    """,
)
def w11_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics per partition: ntile deciles and
    percent_rank of customer balances within each nation — one window
    (one shuffle on the nation key, one sort within partitions) feeds
    both functions.  pct_rank is rounded on both engines: the
    (rank-1)/(n-1) division is the only float in the plan."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            "n_name",
            F.ntile(10).over(w).cast("long").alias("decile"),
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        )
    )


@query(
    "w11_debounce_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_burst
      FROM events WHERE event_type = 'click'
    ), bursts AS (
      SELECT user_id, event_id, ts,
             SUM(new_burst) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS burst_id
      FROM flagged
    ), ranked AS (
      SELECT user_id, event_id, ts, burst_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, burst_id
               ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (
               PARTITION BY user_id, burst_id) AS burst_len
      FROM bursts
    )
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(burst_len - 1 AS BIGINT) AS n_suppressed
    FROM ranked WHERE rn = 1
    """,
)
def w11_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: keep the first click of every per-user burst
    (events closer than 5 min to their predecessor are suppressed,
    and a burst extends while consecutive gaps stay under the
    threshold — the session-window gap-cut with keep-first
    semantics).  The event-stream analog of the reference's pending
    duplicate suppression (``sql.py:382-384``: skip a tx already
    seen) generalized to time-proximity dedup — the standard
    bot-click / retry-storm filter in front of a training corpus.

    One shuffle on the user key; two stacked window passes over the
    same sort order (Catalyst reuses the sort); no state beyond the
    window frame.  ``n_suppressed`` reports the burst size minus the
    keeper, so the plan also serves as a suppression audit.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    order = [F.asc("ts"), F.asc("event_id")]
    w_seq = Window.partitionBy("user_id").orderBy(*order)
    ts_us = epoch_us("ts")
    gap = ts_us - F.lag(ts_us).over(w_seq)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            gap.isNull() | (gap > 300_000_000), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_burst"),
    )
    bursts = flagged.withColumn(
        "burst_id",
        F.sum("new_burst").over(
            w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_burst = Window.partitionBy("user_id", "burst_id").orderBy(*order)
    w_burst_all = Window.partitionBy("user_id", "burst_id")
    return (
        bursts.withColumn("rn", F.row_number().over(w_burst))
        .withColumn("burst_len", F.count(F.lit(1)).over(w_burst_all))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "ts",
            (F.col("burst_len") - 1).cast("long").alias("n_suppressed"),
        )
    )


@query(
    "a21_activity_decay",
    oracle="""
    WITH anchor AS (
      SELECT CAST(MAX(date_trunc('day', ts)) AS TIMESTAMP) AS d
      FROM events
    ), ev AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             date_diff('day', CAST(date_trunc('day', ts) AS TIMESTAMP),
                       (SELECT d FROM anchor)) AS age_d
      FROM events
    )
    SELECT user_id,
           CAST(SUM(cents >> CAST(LEAST(age_d // 7, 63) AS INT)) AS BIGINT)
             AS activity_score,
           CAST(SUM(CASE WHEN age_d < 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS recent_events
    FROM ev GROUP BY user_id
    """,
)
def a21_activity_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed activity score per user: each event
    contributes its value halved per week of age (a bit-shift, so
    the decay is INTEGER-exact — no pow/exp float whose rounding
    differs across engines).  The serving-layer "most active
    addresses" ranking the reference derives from AddressStats
    (``sql.py:1644-1656``), with a decay profile instead of a raw
    count.  Shape: one scalar max (tiny agg, broadcast as a 1-row
    frame) and one grouped sum — two shuffles, fixed-width state."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.date_trunc("day", "ts").alias("day"),
    )
    anchor = ev.agg(F.max("day").alias("anchor_day"))
    aged = ev.join(F.broadcast(anchor)).select(
        "user_id",
        "cents",
        F.datediff(F.col("anchor_day"), F.col("day")).alias("age_d"),
    )
    return aged.groupBy("user_id").agg(
        F.sum(
            # shift clamped to 63: Java shift semantics mask the
            # amount mod 64 (shiftright(x, 64) == x), so an unclamped
            # shift would RESTORE full value at 64-week ages while
            # the oracle's >> yields 0.  At 63 any positive cents
            # decays to 0, matching >> on both engines.
            F.expr("shiftright(cents, cast(least(age_d div 7, 63) as int))")
        ).alias("activity_score"),
        F.sum(F.when(F.col("age_d") < 7, 1).otherwise(0)).alias(
            "recent_events"
        ),
    )


# --------------------------------------------------------------------
# W7 — as-of join (the reference's "order by asof desc limit 1" rate
# lookup, sql.py:282/295, done for ALL rows in one pass).  DuckDB has
# native ASOF JOIN, which makes the oracle exact.
# --------------------------------------------------------------------
@query(
    "w7_asof_join",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), s AS (
      SELECT event_id AS sid, user_id, ts FROM events
      WHERE event_type = 'signup'
    )
    SELECT p.event_id, p.user_id, s.sid AS asof_signup_event
    FROM p ASOF LEFT JOIN s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def w7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event"), "user_id", "ts"
    )
    out = as_of_join(
        purchases,
        signups,
        key="user_id",
        right_payload=("signup_event",),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_signup_event").alias("asof_signup_event"),
    )


# --------------------------------------------------------------------
# X8/J7b — SCD2 history: the reference keeps ExchangeRatesHistory via
# a database trigger copying the superseded row on every upsert
# (omni_db_triggers.psql:15-26); PropertyHistory likewise.  Event-
# sourced equivalent: each update row becomes a version with
# [valid_from, valid_to) stamped by lead() per key — one partitioned
# window, no trigger, replayable from the event stream.
# --------------------------------------------------------------------
@query(
    "scd2_rate_history",
    oracle="""
    SELECT
      user_id,
      event_id AS version_id,
      value AS rate,
      ts AS valid_from,
      COALESCE(
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        AS is_current
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def scd2_rate_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    # Open-ended versions get a far-future sentinel instead of NULL so
    # interval predicates (valid_from <= t < valid_to) need no
    # null-branch, and the frame stays hash-comparable.
    sentinel = F.lit("2200-01-01 00:00:00").cast("timestamp")
    return ev.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("value").alias("rate"),
        F.col("ts").alias("valid_from"),
        F.coalesce(valid_to, sentinel).alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------
# W8 — RANGE-frame window: per-event trailing 7-day spend per user
# (value-based frame; the reference only ever uses cumulative ROWS
# frames, SURVEY §2.5 note).  The frame is expressed over epoch
# micros so Spark's numeric rangeBetween matches the SQL INTERVAL
# frame exactly; one shuffle on user_id.
# --------------------------------------------------------------------
@query(
    "w8_trailing_7d_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
           AS VARCHAR) AS DOUBLE) AS spend_7d
    FROM events
    """,
)
def w8_trailing_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-7 * 86_400_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC_18_4)).over(w).cast("double").alias(
            "spend_7d"
        ),
    )
