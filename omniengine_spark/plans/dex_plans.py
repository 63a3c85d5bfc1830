"""Driver-facing plans for the round-2 txtype families: DEx-1
offer/accept/payment with block-height expiry (reference
``sql.py:537-794``, ``1904-2030``), MetaDEx trades (D5,
``sql.py:2032-2166``) and cancels (``sql.py:2129-2166``), crowdsale
participation with the reference bonus formula
(``csvtools.py:205-256``), freeze/unfreeze at volume
(``sql.py:2329-2372`` + ``1408-1414``), the Bitcoin-side UTXO delta
expansion (``sql.py:1671-1719``), pending-tx union
(``sql.py:361-455``), AddressStats (``sql.py:1644-1656``), STO fee
burn (``sql.py:1806-1821``) and the markets effective-price
refinement (``sql.py:903-940``).

Every plan derives a deterministic tx stream from the harness events
table, runs the REAL pipeline stages (stamp → expand → fold), and the
oracle restates the arithmetic closed-form in DuckDB SQL.  All
amounts are indivisible integer cents so parity is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import CENTS_SQL, cents
from omniengine_spark.operators.dex import accept_expiry_deltas
from omniengine_spark.pipeline import (
    build_balances,
    build_full_balances,
    expand_btc_deltas,
    expand_deltas,
    stamp_serials_distributed,
)
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table


def _day() -> F.Column:
    return (F.unix_timestamp("ts") / 86400).cast("long")


# DuckDB equivalent of _day() (epoch_us floor-division mirrors
# unix_timestamp truncation for positive timestamps)
_SQL_DAY = "epoch_us(ts) // 86400000000"


def _union_txs(*frames: DataFrame) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# D4 — DEx-1 accept lifecycle: offers reserve, accepts raise the
# seller's accepted tally, payments release reserve to the buyer,
# and the block-height timer expires unpaid remainders back
# (sql.py:537-588 expireAccepts).  Deterministic stream: one type-20
# offer per seller (sum of view cents), one type-22 accept per signup
# event, payment of full/half/none by event_id % 3 five blocks later,
# expiry 10 blocks after the accept, chain tip = last signup block.
# ---------------------------------------------------------------------------
@query(
    "d4_dex_accept_lifecycle",
    oracle=f"""
    WITH sign AS (
      SELECT event_id, user_id,
             {CENTS_SQL} AS a,
             {_SQL_DAY} AS d,
             'b' || CAST(event_id % 50 AS VARCHAR) AS buyer,
             'u' || CAST(user_id AS VARCHAR) AS seller,
             user_id % 5 AS pid
      FROM events WHERE event_type = 'signup'
    ), pay AS (
      SELECT *,
             CASE WHEN event_id % 3 = 0 THEN a
                  WHEN event_id % 3 = 1 THEN a // 2
                  ELSE 0 END AS p,
             (d + 10 <= (SELECT MAX(d) FROM sign)) AS expired
      FROM sign
    ), offers AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
             user_id % 5 AS pid,
             SUM({CENTS_SQL}) AS off
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), contrib AS (
      SELECT address, pid, -off AS avail, off AS resv, 0 AS acc
      FROM offers
      UNION ALL
      SELECT seller, pid, 0, -p,
             CASE WHEN expired THEN 0 ELSE a - p END
      FROM pay
      UNION ALL
      SELECT buyer, pid, p, 0, 0 FROM pay
    )
    SELECT address, pid AS propertyid,
           CAST(SUM(avail) AS BIGINT) AS available,
           CAST(SUM(resv) AS BIGINT) AS reserved,
           CAST(SUM(acc) AS BIGINT) AS accepted
    FROM contrib GROUP BY address, pid
    """,
)
def d4_dex_accept_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        "event_id",
        "user_id",
        cents().alias("a"),
        _day().alias("d"),
        F.concat(F.lit("b"), (F.col("event_id") % 50).cast("string")).alias(
            "buyer"
        ),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "seller"
        ),
        (F.col("user_id") % 5).cast("long").alias("pid"),
    ).withColumn(
        "p",
        F.when(F.col("event_id") % 3 == 0, F.col("a"))
        .when(F.col("event_id") % 3 == 1, F.expr("a DIV 2"))
        .otherwise(F.lit(0).cast("long")),
    )

    offers = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.sum(cents()).alias("off"))
        .select(
            F.concat(F.lit("o"), F.col("user_id").cast("string")).alias(
                "txid"
            ),
            F.lit(0).cast("long").alias("block"),
            F.col("user_id").alias("position_in_block"),
            F.lit(20).cast("int").alias("type_int"),
            F.lit(True).alias("valid"),
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "sending_address"
            ),
            (F.col("user_id") % 5).cast("long").alias("propertyid"),
            F.lit(False).alias("divisible"),
            F.col("off").cast("string").alias("amount"),
            F.lit("new").alias("subaction"),
        )
    )
    accepts = sign.select(
        F.concat(F.lit("a"), F.col("event_id").cast("string")).alias("txid"),
        F.col("d").alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(22).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.col("buyer").alias("sending_address"),
        F.col("seller").alias("reference_address"),
        F.col("pid").alias("propertyid"),
        F.lit(False).alias("divisible"),
        F.col("a").cast("string").alias("amount"),
    )
    payments = sign.filter(F.col("p") > 0).select(
        F.concat(F.lit("p"), F.col("event_id").cast("string")).alias("txid"),
        (F.col("d") + 5).alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(-22).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.col("buyer").alias("sending_address"),
        F.array(
            F.struct(
                F.col("seller").alias("reference_address"),
                F.col("pid").alias("propertyid"),
                F.lit(False).alias("divisible"),
                F.col("p").cast("string").alias("amount_bought"),
                F.lit(True).alias("valid"),
            )
        ).alias("purchases"),
    )

    txs = _union_txs(offers, accepts, payments)
    deltas = expand_deltas(stamp_serials_distributed(txs))

    tip = sign.agg(F.max("d").alias("tip"))
    accepts_state = sign.crossJoin(F.broadcast(tip)).select(
        F.col("event_id").alias("accept_id"),
        "seller",
        F.col("pid").alias("propertyid"),
        F.col("a").alias("amount_accepted"),
        F.col("p").alias("amount_paid"),
        (F.col("d") + 10).alias("expire_block"),
        F.lit("active").alias("offer_state"),
        "tip",
    )
    expiry = accept_expiry_deltas(accepts_state, F.col("tip")).drop("tip")

    full = deltas.select(expiry.columns).unionByName(expiry)
    return build_full_balances(full).select(
        "address",
        "propertyid",
        "available",
        "reserved",
        "accepted",
    )


# ---------------------------------------------------------------------------
# X3b — pending-tx union view (sql.py:361-455): mempool txs enter
# with negative serials and is_pending=true, disappear once the same
# txid confirms, and stale pending rows (>5 h before the tip) are
# swept.  Confirmed = every 4th signup; the rest stay pending.
# ---------------------------------------------------------------------------
@query(
    "x3b_pending_union",
    oracle=f"""
    WITH base AS (
      SELECT 'e' || CAST(event_id AS VARCHAR) AS txid,
             event_id,
             'u' || CAST(user_id AS VARCHAR) AS address,
             {CENTS_SQL} AS cents, ts
      FROM events WHERE event_type = 'signup'
    ), tip AS (SELECT MAX(ts) AS t FROM base)
    SELECT txid, CAST(event_id AS BIGINT) AS serial, address, cents,
           FALSE AS is_pending
    FROM base WHERE event_id % 4 = 0
    UNION ALL
    SELECT txid, CAST(-(event_id + 1) AS BIGINT) AS serial, address,
           cents, TRUE AS is_pending
    FROM base
    WHERE txid NOT IN (SELECT txid FROM base WHERE event_id % 4 = 0)
      AND ts > (SELECT t FROM tip) - INTERVAL 5 HOUR
    """,
)
def x3b_pending_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
                "txid"
            ),
            "event_id",
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "address"
            ),
            cents().alias("cents"),
            "ts",
        )
    )
    confirmed = base.filter(F.col("event_id") % 4 == 0)
    tip = base.agg(F.max("ts").alias("t"))
    pending = (
        base.join(
            confirmed.select("txid"), "txid", "left_anti"
        )
        .crossJoin(F.broadcast(tip))
        .filter(F.col("ts") > F.col("t") - F.expr("INTERVAL 5 HOURS"))
    )
    out_conf = confirmed.select(
        "txid",
        F.col("event_id").cast("long").alias("serial"),
        "address",
        "cents",
        F.lit(False).alias("is_pending"),
    )
    out_pend = pending.select(
        "txid",
        (-(F.col("event_id") + 1)).cast("long").alias("serial"),
        "address",
        "cents",
        F.lit(True).alias("is_pending"),
    )
    return out_conf.unionByName(out_pend)


# ---------------------------------------------------------------------------
# D6b — crowdsale participation with the reference bonus arithmetic
# (csvtools.py:205-256): tokensperunit × time-decaying early-bird
# (10 % per whole week before the deadline) for the participant,
# flat issuer percentage (csvtools.py:230-236) for the issuer.
# Integer token math (indivisible property) keeps parity exact.
# ---------------------------------------------------------------------------
@query(
    "d6b_crowdsale_reference_bonus",
    oracle=f"""
    WITH part AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS participant,
             {CENTS_SQL} AS a,
             epoch_us(ts) // 1000000 AS sec
      FROM events WHERE event_type = 'purchase'
    ), dl AS (SELECT MAX(sec) AS deadline FROM part),
    tok AS (
      SELECT participant, a,
             (a * 3 * (100 + 10 * (((SELECT deadline FROM dl) - sec)
                                   // 604800))) // 100 AS pt,
             (a * 3 * 12) // 100 AS it
      FROM part
    ), contrib AS (
      SELECT participant AS address, 1 AS pid, -a AS units FROM tok
      UNION ALL
      SELECT 'iss', 1, a FROM tok
      UNION ALL
      SELECT 'iss', 99, it FROM tok WHERE it > 0
      UNION ALL
      SELECT participant, 99, pt FROM tok
    )
    SELECT address, CAST(pid AS BIGINT) AS propertyid,
           CAST(SUM(units) AS BIGINT) AS balance
    FROM contrib GROUP BY address, pid
    """,
)
def d6b_crowdsale_reference_bonus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "ts",
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "participant"
            ),
            cents().alias("a"),
            F.unix_timestamp("ts").alias("sec"),
        )
    )
    dl = part.agg(F.max("sec").alias("deadline"))
    tok = part.crossJoin(F.broadcast(dl)).select(
        "event_id",
        "ts",
        "participant",
        "a",
        F.expr(
            "(a * 3 * (100 + 10 * ((deadline - sec) DIV 604800))) DIV 100"
        ).alias("pt"),
        F.expr("(a * 3 * 12) DIV 100").alias("it"),
    )
    txs = tok.select(
        F.concat(F.lit("c"), F.col("event_id").cast("string")).alias("txid"),
        _day().alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(-51).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.col("participant").alias("sending_address"),
        F.lit("iss").alias("reference_address"),
        F.lit(1).cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
        F.col("a").cast("string").alias("amount"),
        F.lit(99).cast("long").alias("purchased_propertyid"),
        F.lit(False).alias("purchased_divisible"),
        F.col("pt").cast("string").alias("purchased_tokens"),
        F.col("it").cast("string").alias("issuer_tokens"),
    )
    deltas = expand_deltas(stamp_serials_distributed(txs))
    return build_balances(deltas).select(
        "address",
        "propertyid",
        F.col("balance").cast("long").alias("balance"),
    )


# ---------------------------------------------------------------------------
# D7c — freeze/unfreeze at volume through the split fold
# (build_full_balances): recipients of every purchase-send whose
# sender id % 7 == 0 are frozen BEFORE the stream (credits divert to
# frozen, sql.py:1408-1414); % 14 == 0 additionally unfreeze after it
# (everything returns to available).  Closed form: freeze/unfreeze
# only move value between the two pockets, so the final split depends
# only on the LAST marker — exact in SQL while Spark runs the real
# ordered replay.
# ---------------------------------------------------------------------------
@query(
    "d7c_freeze_pipeline",
    oracle=f"""
    WITH s AS (
      SELECT user_id, user_id % 5 AS pid, SUM({CENTS_SQL}) AS total
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), rows_ AS (
      SELECT 'v' || CAST(user_id AS VARCHAR) AS address, pid,
             CASE WHEN user_id % 7 = 0 AND user_id % 14 != 0
                  THEN 0 ELSE total END AS available,
             CASE WHEN user_id % 7 = 0 AND user_id % 14 != 0
                  THEN total ELSE 0 END AS frozen
      FROM s
      UNION ALL
      SELECT 'u' || CAST(user_id AS VARCHAR), pid, -total, 0 FROM s
      UNION ALL
      SELECT DISTINCT 'gov', pid, 0, 0 FROM s WHERE user_id % 7 = 0
    )
    SELECT address, CAST(pid AS BIGINT) AS propertyid,
           CAST(SUM(available) AS BIGINT) AS available,
           CAST(SUM(frozen) AS BIGINT) AS frozen
    FROM rows_ GROUP BY address, pid
    """,
)
def d7c_freeze_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sends = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("txid"),
        _day().alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(0).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "sending_address"
        ),
        F.concat(F.lit("v"), F.col("user_id").cast("string")).alias(
            "reference_address"
        ),
        (F.col("user_id") % 5).cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
        cents().cast("string").alias("amount"),
    )
    frozen_users = (
        ev.select("user_id").distinct().filter(F.col("user_id") % 7 == 0)
    )
    freezes = frozen_users.select(
        F.concat(F.lit("f"), F.col("user_id").cast("string")).alias("txid"),
        F.lit(1).cast("long").alias("block"),
        F.col("user_id").alias("position_in_block"),
        F.lit(185).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.lit("gov").alias("sending_address"),
        F.concat(F.lit("v"), F.col("user_id").cast("string")).alias(
            "reference_address"
        ),
        (F.col("user_id") % 5).cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
    )
    unfreezes = (
        frozen_users.filter(F.col("user_id") % 14 == 0)
        .select(
            F.concat(F.lit("g"), F.col("user_id").cast("string")).alias(
                "txid"
            ),
            F.lit(1 << 20).cast("long").alias("block"),
            F.col("user_id").alias("position_in_block"),
            F.lit(186).cast("int").alias("type_int"),
            F.lit(True).alias("valid"),
            F.lit("gov").alias("sending_address"),
            F.concat(F.lit("v"), F.col("user_id").cast("string")).alias(
                "reference_address"
            ),
            (F.col("user_id") % 5).cast("long").alias("propertyid"),
            F.lit(False).alias("divisible"),
        )
    )
    txs = _union_txs(sends, freezes, unfreezes)
    deltas = expand_deltas(stamp_serials_distributed(txs))
    return build_full_balances(deltas).select(
        "address", "propertyid", "available", "frozen"
    )


# ---------------------------------------------------------------------------
# D5c — MetaDEx offer reservation + cancel-by-price (sql.py:2032-2055
# + 2129-2166): every view event places a type-25 offer (reserving
# its cents); users who ever clicked cancel everything afterwards,
# releasing the reserve.
# ---------------------------------------------------------------------------
@query(
    "d5c_metadex_cancels",
    oracle=f"""
    WITH v AS (
      SELECT user_id, user_id % 5 AS pid,
             SUM({CENTS_SQL}) AS vs
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ), u AS (
      SELECT COALESCE(v.user_id, c.user_id) AS user_id,
             COALESCE(v.pid, COALESCE(c.user_id, 0) % 5) AS pid,
             COALESCE(v.vs, 0) AS vs,
             (c.user_id IS NOT NULL) AS cancelled
      FROM v FULL OUTER JOIN c ON v.user_id = c.user_id
    )
    SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
           CAST(pid AS BIGINT) AS propertyid,
           CAST(CASE WHEN cancelled THEN 0 ELSE -vs END AS BIGINT)
             AS available,
           CAST(CASE WHEN cancelled THEN 0 ELSE vs END AS BIGINT)
             AS reserved
    FROM u
    """,
)
def d5c_metadex_cancels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    offers = ev.filter(F.col("event_type") == "view").select(
        F.concat(F.lit("t"), F.col("event_id").cast("string")).alias("txid"),
        _day().alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(25).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "sending_address"
        ),
        (F.col("user_id") % 5).cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
        (F.col("user_id") % 3 + 5).cast("long").alias("propertyid_desired"),
        F.lit(False).alias("divisible_desired"),
        cents().cast("string").alias("amount_forsale"),
    )
    views_per_user = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.sum(cents()).alias("vs"))
    )
    clickers = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    cancels = clickers.join(views_per_user, "user_id", "left").select(
        F.concat(F.lit("x"), F.col("user_id").cast("string")).alias("txid"),
        F.lit(1 << 20).cast("long").alias("block"),
        F.col("user_id").alias("position_in_block"),
        F.lit(26).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "sending_address"
        ),
        (F.col("user_id") % 5).cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
        F.array(
            F.struct(
                F.lit("old").alias("txid"),
                (F.col("user_id") % 5).cast("long").alias("propertyid"),
                F.lit(False).alias("divisible"),
                F.coalesce(F.col("vs"), F.lit(0))
                .cast("string")
                .alias("amount_unreserved"),
            )
        ).alias("cancellations"),
    )
    txs = _union_txs(offers, cancels)
    deltas = expand_deltas(stamp_serials_distributed(txs))
    return deltas.groupBy("address", "propertyid").agg(
        F.sum("delta_base_units").cast("long").alias("available"),
        F.sum("delta_reserved").cast("long").alias("reserved"),
    )


# ---------------------------------------------------------------------------
# S2b — Bitcoin UTXO chain fold (sql.py:1671-1719): each purchase
# event's tx credits its user and spends the user's previous
# purchase output, so the final balance is exactly the last event's
# cents — a closed form the oracle states directly while Spark walks
# the real vin⋈vout linkage.
# ---------------------------------------------------------------------------
@query(
    "s2b_btc_utxo_balances",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id, {CENTS_SQL} AS cents,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events WHERE event_type = 'purchase'
    )
    SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
           CAST(ARG_MAX(cents, event_id) AS BIGINT) AS balance_sat,
           CAST(2 * MAX(cnt) - 1 AS BIGINT) AS n_deltas
    FROM p GROUP BY user_id
    """,
)
def s2b_btc_utxo_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            cents().alias("cents"),
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
                "txid"
            ),
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "address"
            ),
        )
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    chained = p.withColumn("prev_txid", F.lag("txid").over(w))
    btc = chained.select(
        "txid",
        F.when(
            F.col("prev_txid").isNull(),
            F.array().cast("array<struct<prev_txid:string,vout_n:bigint>>"),
        )
        .otherwise(
            F.array(
                F.struct(
                    F.col("prev_txid").alias("prev_txid"),
                    F.lit(0).cast("bigint").alias("vout_n"),
                )
            )
        )
        .alias("vin"),
        F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("n"),
                F.col("address").alias("address"),
                F.col("cents").alias("value_sat"),
                F.lit("pubkeyhash").alias("script_type"),
            )
        ).alias("vout"),
    )
    deltas = expand_btc_deltas(btc)
    return deltas.groupBy("address").agg(
        F.sum("delta_base_units").cast("long").alias("balance_sat"),
        F.count(F.lit(1)).alias("n_deltas"),
    )


# ---------------------------------------------------------------------------
# A15 — AddressStats (sql.py:1644-1656): per address, how many txs it
# participated in and the serial/block of its latest activity, over
# the same signup/purchase tx stream as omni_balance_pipeline.
# ---------------------------------------------------------------------------
@query(
    "a15_address_stats",
    oracle=f"""
    WITH tx AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             {_SQL_DAY} AS d,
             ROW_NUMBER() OVER (ORDER BY {_SQL_DAY}, event_id) AS serial
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), touch AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
             event_id, serial, d
      FROM tx
      UNION ALL
      SELECT 'u' || CAST(user_id + 1 AS VARCHAR), event_id, serial, d
      FROM tx WHERE t = 0
    )
    SELECT address,
           COUNT(*) AS tx_count,
           CAST(MAX(serial) AS BIGINT) AS last_serial,
           CAST(MAX(d) AS BIGINT) AS last_block
    FROM touch GROUP BY address
    """,
)
def a15_address_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.plans.pipeline_plans import _tx_stream

    txs = stamp_serials_distributed(_tx_stream(spark, sf_dir))
    deltas = expand_deltas(txs)
    return deltas.groupBy("address").agg(
        F.count_distinct("txid").alias("tx_count"),
        F.max("serial").alias("last_serial"),
        F.max("block").alias("last_block"),
    )


@query(
    "a15b_address_stats_preagg",
    oracle=f"""
    WITH tx AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             {_SQL_DAY} AS d,
             ROW_NUMBER() OVER (ORDER BY {_SQL_DAY}, event_id) AS serial
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), touch AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS address,
             event_id, serial, d
      FROM tx
      UNION ALL
      SELECT 'u' || CAST(user_id + 1 AS VARCHAR), event_id, serial, d
      FROM tx WHERE t = 0
    )
    SELECT address,
           COUNT(*) AS tx_count,
           CAST(MAX(serial) AS BIGINT) AS last_serial,
           CAST(MAX(d) AS BIGINT) AS last_block
    FROM touch GROUP BY address
    """,
)
def a15b_address_stats_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a15's 100× form: ``count_distinct(txid)`` carries an unbounded
    per-address key set through the aggregation; pre-aggregating on
    (address, txid) first makes every partial buffer a fixed-size
    (count, max, max) triple at BOTH levels — same exact answer, same
    oracle, bounded state.  The extra shuffle is on the finer key, so
    map-side combine absorbs the txid fan-out before it moves."""
    from omniengine_spark.plans.pipeline_plans import _tx_stream

    txs = stamp_serials_distributed(_tx_stream(spark, sf_dir))
    deltas = expand_deltas(txs)
    per_tx = deltas.groupBy("address", "txid").agg(
        F.max("serial").alias("s"), F.max("block").alias("b")
    )
    return per_tx.groupBy("address").agg(
        F.count(F.lit(1)).alias("tx_count"),
        F.max("s").alias("last_serial"),
        F.max("b").alias("last_block"),
    )


# ---------------------------------------------------------------------------
# A16 — STO fee burn (sql.py:1806-1821): the fee is debited from the
# sender in the ecosystem's fee property (1 production / 2 test) with
# no matching credit.  Every purchase event becomes an STO paying a
# 2-willet fee; even users hit the test ecosystem.
# ---------------------------------------------------------------------------
@query(
    "a16_sto_fee_burn",
    oracle="""
    SELECT CAST(CASE WHEN user_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS propertyid,
           CAST(-2 * COUNT(*) AS BIGINT) AS burned,
           COUNT(*) AS n_fee_rows
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def a16_sto_fee_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # test-ecosystem property ids start at 2147483651 (reference
    # getEcosystem, omniutils.py:14-17 — 2^31..2^31+2 are still main
    # ecosystem); pid drives the fee property choice
    pid = F.when(
        F.col("user_id") % 2 == 0,
        F.lit(2147483651) + F.col("user_id") % 5,
    ).otherwise(
        # 3..7: main-ecosystem band — NOT 0..4, which would include
        # pid 2 (TOMNI, test ecosystem) for user_id % 5 == 2
        (F.lit(3) + F.col("user_id") % 5).cast("long")
    )
    ev = ev.withColumn("a", cents())
    txs = ev.select(
        F.concat(F.lit("s"), F.col("event_id").cast("string")).alias("txid"),
        _day().alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(3).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "sending_address"
        ),
        pid.cast("long").alias("propertyid"),
        F.lit(False).alias("divisible"),
        cents().cast("string").alias("amount"),
        F.array(
            F.struct(
                F.lit("r1").alias("address"),
                F.expr("a DIV 2").cast("string").alias("amount"),
            ),
            F.struct(
                F.lit("r2").alias("address"),
                F.expr("a - a DIV 2").cast("string").alias("amount"),
            ),
        ).alias("recipients"),
        F.lit("0.00000002").alias("sto_fee"),
    )
    deltas = expand_deltas(stamp_serials_distributed(txs))
    return (
        deltas.filter(F.col("role") == "feepayer")
        .groupBy("propertyid")
        .agg(
            F.sum("delta_base_units").cast("long").alias("burned"),
            F.count(F.lit(1)).alias("n_fee_rows"),
        )
    )


# ---------------------------------------------------------------------------
# A17 — markets effective-price refinement (sql.py:903-940): market
# supply is the sum of active availability; the headline unit price
# is the best of (a) untouched offers' listed price and (b) partially
# filled offers' effective price — remaining desired over remaining
# availability, capped at the original ask.  All integer arithmetic
# (price scaled 1e8) so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "a17_market_effective_price",
    oracle=f"""
    WITH o AS (
      SELECT user_id % 5 AS pid_s, user_id % 3 + 5 AS pid_d,
             {CENTS_SQL} + 1 AS total,
             event_id % ({CENTS_SQL} + 2) AS avail,
             event_id % 1000 + 1 AS amountdesired
      FROM events WHERE event_type = 'view'
    ), t AS (
      SELECT pid_s, pid_d, total,
             CASE WHEN avail > total THEN total ELSE avail END AS avail,
             amountdesired,
             amountdesired // total AS unitprice
      FROM o
    ), agg AS (
      SELECT pid_s, pid_d,
             SUM(avail) AS supply,
             MIN(CASE WHEN avail = total THEN unitprice * 100000000
                 END) AS best_untouched,
             MIN(CASE WHEN avail != total AND avail > 0 THEN
                 (CASE WHEN avail * unitprice > amountdesired
                       THEN amountdesired
                       ELSE avail * unitprice END) * 100000000 // avail
                 END) AS best_effective
      FROM t GROUP BY pid_s, pid_d
    )
    SELECT CAST(pid_s AS BIGINT) AS pid_s, CAST(pid_d AS BIGINT) AS pid_d,
           CAST(supply AS BIGINT) AS supply,
           CAST(LEAST(COALESCE(best_untouched, 9223372036854775807),
                      COALESCE(best_effective, 9223372036854775807))
                AS BIGINT) AS best_price_e8
    FROM agg
    """,
)
def a17_market_effective_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    o = ev.select(
        (F.col("user_id") % 5).cast("long").alias("pid_s"),
        (F.col("user_id") % 3 + 5).cast("long").alias("pid_d"),
        (cents() + 1).alias("total"),
        (F.col("event_id") % (cents() + 2)).alias("avail0"),
        (F.col("event_id") % 1000 + 1).alias("amountdesired"),
    ).select(
        "pid_s",
        "pid_d",
        "total",
        F.least("avail0", "total").alias("avail"),
        "amountdesired",
        F.expr("amountdesired DIV total").alias("unitprice"),
    )
    big = F.lit(9223372036854775807)
    agg = o.groupBy("pid_s", "pid_d").agg(
        F.sum("avail").cast("long").alias("supply"),
        F.min(
            F.when(
                F.col("avail") == F.col("total"),
                F.col("unitprice") * 100000000,
            )
        ).alias("best_untouched"),
        F.min(
            F.when(
                (F.col("avail") != F.col("total")) & (F.col("avail") > 0),
                F.expr(
                    "(CASE WHEN avail * unitprice > amountdesired "
                    "THEN amountdesired ELSE avail * unitprice END) "
                    "* 100000000 DIV avail"
                ),
            )
        ).alias("best_effective"),
    )
    return agg.select(
        "pid_s",
        "pid_d",
        "supply",
        F.least(
            F.coalesce("best_untouched", big),
            F.coalesce("best_effective", big),
        )
        .cast("long")
        .alias("best_price_e8"),
    )


# ---------------------------------------------------------------------------
# D3b — the un-simplified ActiveOffers state machine (sql.py:590-794):
# offer listing, accept reservations, payments, and expiry returns
# folded sequentially per seller by offer_book_replay, proven against
# the closed-form restatement.  Same deterministic stream as d4.
# ---------------------------------------------------------------------------
@query(
    "d3b_offer_book",
    oracle=f"""
    WITH sign AS (
      SELECT event_id, user_id,
             {CENTS_SQL} AS a,
             {_SQL_DAY} AS d,
             'u' || CAST(user_id AS VARCHAR) AS seller,
             user_id % 5 AS pid
      FROM events WHERE event_type = 'signup'
    ), pay AS (
      SELECT *,
             CASE WHEN event_id % 3 = 0 THEN a
                  WHEN event_id % 3 = 1 THEN a // 2
                  ELSE 0 END AS p,
             (d + 10 <= (SELECT MAX(d) FROM sign)) AS expired
      FROM sign
    ), offers AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS seller,
             user_id % 5 AS pid,
             SUM({CENTS_SQL}) AS off
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), acc AS (
      SELECT seller, pid,
             SUM(a) AS sa,
             SUM(CASE WHEN expired THEN a - p ELSE 0 END) AS sexp,
             SUM(CASE WHEN expired THEN 0 ELSE a - p END) AS sacc
      FROM pay GROUP BY seller, pid
    ), u AS (
      SELECT COALESCE(o.seller, acc.seller) AS seller,
             COALESCE(o.pid, acc.pid) AS pid,
             COALESCE(o.off, 0) - COALESCE(acc.sa, 0)
               + COALESCE(acc.sexp, 0) AS amount_available,
             COALESCE(acc.sacc, 0) AS amount_accepted
      FROM offers o FULL OUTER JOIN acc ON o.seller = acc.seller
    )
    SELECT seller, CAST(pid AS BIGINT) AS propertyid,
           CAST(amount_available AS BIGINT) AS amount_available,
           CAST(amount_accepted AS BIGINT) AS amount_accepted,
           CASE WHEN amount_available = 0 AND amount_accepted = 0
                THEN 'sold' ELSE 'active' END AS offer_state
    FROM u
    """,
)
def d3b_offer_book(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.operators.dex import offer_book_replay

    ev = load_table(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        "event_id",
        cents().alias("a"),
        _day().alias("d"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "seller"
        ),
        (F.col("user_id") % 5).cast("long").alias("propertyid"),
    ).withColumn(
        "p",
        F.when(F.col("event_id") % 3 == 0, F.col("a"))
        .when(F.col("event_id") % 3 == 1, F.expr("a DIV 2"))
        .otherwise(F.lit(0).cast("long")),
    )
    tip = sign.agg(F.max("d").alias("tip"))
    signt = sign.crossJoin(F.broadcast(tip))
    B = F.lit(1_000_000_000)

    offers = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.sum(cents()).alias("off"))
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "seller"
            ),
            (F.col("user_id") % 5).cast("long").alias("propertyid"),
            F.lit(0).cast("long").alias("serial"),
            F.lit("offer").alias("kind"),
            F.col("off").cast("long").alias("amount"),
        )
    )
    accepts = sign.select(
        "seller",
        "propertyid",
        (F.col("d") * B + F.col("event_id")).alias("serial"),
        F.lit("accept").alias("kind"),
        F.col("a").alias("amount"),
    )
    payments = sign.filter(F.col("p") > 0).select(
        "seller",
        "propertyid",
        ((F.col("d") + 5) * B + F.col("event_id")).alias("serial"),
        F.lit("payment").alias("kind"),
        F.col("p").alias("amount"),
    )
    expiries = signt.filter(
        (F.col("d") + 10 <= F.col("tip")) & (F.col("a") - F.col("p") > 0)
    ).select(
        "seller",
        "propertyid",
        ((F.col("d") + 10) * B + F.col("event_id")).alias("serial"),
        F.lit("expiry").alias("kind"),
        (F.col("a") - F.col("p")).alias("amount"),
    )
    events = (
        offers.unionByName(accepts)
        .unionByName(payments)
        .unionByName(expiries)
    )
    return offer_book_replay(events)


# --------------------------------------------------------------------
# D5 — MetaDEx trade expansion, oracle-checked.  Each type-25 tx
# carries its pre-computed match list (reference omni_gettrade, S7);
# expand_deltas emits 4 double-entry rows per match
# (sql.py:2032-2166 insertMatch semantics).  The tx stream is derived
# deterministically from events (purchase → one-match trade) and the
# oracle restates the expansion + net-position fold in SQL, proving
# the pipeline's type-25 branch value-for-value — the golden tests
# cover edge shapes, this covers volume.
# --------------------------------------------------------------------
@query(
    "d5_metadex_net_positions",
    oracle="""
    WITH tx AS (
      SELECT
        'u' || CAST(user_id AS VARCHAR) AS seller,
        'm' || CAST(user_id % 97 AS VARCHAR) AS buyer,
        user_id % 5 AS pid,
        user_id % 3 + 5 AS pid_d,
        CASE WHEN user_id % 2 = 0
             THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000 AS BIGINT)
             ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8))) AS BIGINT)
             END AS sold_units,
        CASE WHEN user_id % 3 = 0
             THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000 AS BIGINT)
             ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8))) AS BIGINT)
             END AS recv_units
      FROM events WHERE event_type = 'purchase'
    ), deltas AS (
      SELECT seller AS address, pid AS propertyid, -sold_units AS delta FROM tx
      UNION ALL
      SELECT seller, pid_d, recv_units FROM tx
      UNION ALL
      SELECT buyer, pid, sold_units FROM tx
      UNION ALL
      SELECT buyer, pid_d, -recv_units FROM tx
    )
    SELECT address, propertyid,
           CAST(SUM(delta) AS BIGINT) AS net_units,
           COUNT(*) AS n_deltas
    FROM deltas
    GROUP BY address, propertyid
    """,
)
def d5_metadex_net_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    user = F.col("user_id")
    amount_str = F.col("value").cast("decimal(38,8)").cast("string")
    txs = ev.select(
        F.concat(F.lit("t"), F.col("event_id").cast("string")).alias("txid"),
        (F.unix_timestamp("ts") / 86400).cast("long").alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.lit(25).cast("int").alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), user.cast("string")).alias("sending_address"),
        (user % 5).alias("propertyid"),
        (user % 2 == 0).alias("divisible"),
        (user % 3 + 5).cast("long").alias("propertyid_desired"),
        (user % 3 == 0).alias("divisible_desired"),
        F.array(
            F.struct(
                F.concat(F.lit("m"), (user % 97).cast("string")).alias(
                    "address"
                ),
                amount_str.alias("amount_sold"),
                amount_str.alias("amount_received"),
            )
        ).alias("matches"),
    )
    deltas = expand_deltas(stamp_serials_distributed(txs))
    # net position = available + reserved: under the reference's
    # reserve semantics (sql.py:2032-2127) the sold amount leaves the
    # maker's reserve while the taker is credited available; their sum
    # is the economic position and matches the oracle's single-column
    # restatement exactly.
    return deltas.groupBy("address", "propertyid").agg(
        F.sum(
            F.col("delta_base_units") + F.col("delta_reserved")
        ).cast("long").alias("net_units"),
        F.count(F.lit(1)).alias("n_deltas"),
    )
