"""Driver-facing omni-pipeline plans: a deterministic tx stream is
derived from the events table (signup → fixed issuance type 50,
purchase → simple send type 0), run through the real pipeline stages
(stamp_serials_distributed → expand_deltas → build_balances), and the
oracle re-states the expansion + fold declaratively in SQL.

Around the pipeline sit its incremental-processing shapes: resume
points (A1/A2), the consensus check against a snapshot (X7/§5), the
per-run processing cap (T3), reorg as recompute (X2), the
high-watermark batch (X1b) and incremental view maintenance (X15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import CENTS_SQL
from omniengine_spark.operators.reconcile import reconcile
from omniengine_spark.pipeline import (
    build_balances,
    expand_deltas,
    stamp_serials_distributed,
)
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table
from omniengine_spark.sources.catalog import session_memo
from omniengine_spark.sources.sinks import (
    read_warehouse,
    scratch_dir,
    write_partitioned,
)


def _tx_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tx_projection(
        load_table(spark, sf_dir, "events")
    )


def _stamped_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the tx→serial→delta chain is shared by four plans and costs
    # ~0.5 s of py4j round trips per build: memoize the unexecuted plan
    return session_memo(
        spark, "stamped-txs", f"{sf_dir}/events.parquet",
        lambda: stamp_serials_distributed(_tx_stream(spark, sf_dir)),
    )


def _stamped_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        spark, "stamped-deltas", f"{sf_dir}/events.parquet",
        lambda: expand_deltas(_stamped_txs(spark, sf_dir)),
    )


def _tx_projection(ev: DataFrame) -> DataFrame:
    """signup → fixed issuance (50), purchase → simple send (0) —
    works over a batch OR streaming events frame (pure projection)."""
    ev = ev.filter(F.col("event_type").isin("signup", "purchase"))
    user = F.col("user_id")
    return ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
            "txid"
        ),
        (F.unix_timestamp("ts") / 86400).cast("long").alias("block"),
        F.col("event_id").alias("position_in_block"),
        F.when(F.col("event_type") == "signup", 50)
        .otherwise(0)
        .cast("int")
        .alias("type_int"),
        F.lit(True).alias("valid"),
        F.concat(F.lit("u"), user.cast("string")).alias(
            "sending_address"
        ),
        F.concat(F.lit("u"), (user + 1).cast("string")).alias(
            "reference_address"
        ),
        (user % 5).alias("propertyid"),
        (user % 2 == 0).alias("divisible"),
        F.col("value").cast("decimal(38,8)").cast("string").alias(
            "amount"
        ),
        F.lit(None)
        .cast(
            "array<struct<address:string,amount:string>>"
        )
        .alias("recipients"),
        F.lit(None)
        .cast(
            "array<struct<propertyid:bigint,divisible:boolean,"
            "amount:string>>"
        )
        .alias("subsends"),
        F.lit(None).cast("bigint").alias("propertyid_desired"),
        F.lit(None).cast("boolean").alias("divisible_desired"),
        F.lit(None)
        .cast(
            "array<struct<address:string,amount_sold:string,"
            "amount_received:string>>"
        )
        .alias("matches"),
    )


@query(
    "omni_balance_pipeline",
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
      SELECT sender AS address, propertyid, -base_units AS delta
      FROM tx WHERE t = 0
      UNION ALL
      SELECT ref AS address, propertyid, base_units AS delta
      FROM tx WHERE t = 0
    )
    SELECT address, propertyid,
           CAST(SUM(delta) AS BIGINT) AS balance,
           COUNT(*) AS n_deltas
    FROM deltas
    GROUP BY address, propertyid
    """,
)
def omni_balance_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    deltas = _stamped_deltas(spark, sf_dir)
    out = build_balances(deltas)
    return out.select(
        "address",
        "propertyid",
        F.col("balance").cast("long").alias("balance"),
        "n_deltas",
    )


@query(
    "omni_genesis_fold",
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
      SELECT sender AS address, propertyid, -base_units AS delta
      FROM tx WHERE t = 0
      UNION ALL
      SELECT ref AS address, propertyid, base_units AS delta
      FROM tx WHERE t = 0
      UNION ALL
      SELECT 'u' || CAST(c_custkey AS VARCHAR) AS address,
             c_custkey % 5 AS propertyid,
             CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
               AS delta
      FROM customer
    )
    SELECT address, propertyid,
           CAST(SUM(delta) AS BIGINT) AS balance,
           COUNT(*) AS n_deltas
    FROM deltas
    GROUP BY address, propertyid
    """,
)
def omni_genesis_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-history rebuild seeded from a genesis snapshot (reference
    ``database/balances.csv:1-679`` via ``tools/resetBalances.py``):
    the snapshot is CSV-ingested (``sources.genesis``), converted to
    serial -1 deltas, and unioned under the SAME fold as the tx
    stream — the balance pipeline no longer folds from zero.  One
    shuffle (the fold's groupBy); the genesis union is shuffle-free.
    """
    from omniengine_spark.pipeline import genesis_deltas
    from omniengine_spark.sources.genesis import synthetic_genesis

    deltas = _stamped_deltas(spark, sf_dir)
    gen = genesis_deltas(synthetic_genesis(spark, sf_dir))
    out = build_balances(gen.select(*deltas.columns).unionByName(deltas))
    return out.select(
        "address",
        "propertyid",
        F.col("balance").cast("long").alias("balance"),
        "n_deltas",
    )


@query(
    "x7b_consensus_hash",
    oracle="""
    WITH tx AS (
      SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             'u' || CAST(user_id AS VARCHAR) AS sender,
             'u' || CAST(user_id + 1 AS VARCHAR) AS ref,
             user_id % 5 AS propertyid,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS block,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000
                            AS BIGINT)
                  ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8)))
                            AS BIGINT) END AS base_units
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), deltas AS (
      SELECT sender AS address, propertyid, block, base_units AS delta
      FROM tx WHERE t = 50
      UNION ALL
      SELECT sender, propertyid, block, -base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT ref, propertyid, block, base_units FROM tx WHERE t = 0
    ), per AS (
      SELECT address, propertyid, block, SUM(delta) AS d
      FROM deltas GROUP BY address, propertyid, block
    ), bal AS (
      SELECT address, propertyid, block,
             CAST(SUM(d) OVER (PARTITION BY address, propertyid
                               ORDER BY block) AS BIGINT) AS b
      FROM per
    ), st AS (
      SELECT block, address, propertyid, b,
             LAG(b) OVER (PARTITION BY address, propertyid
                          ORDER BY block) AS prev_b
      FROM bal
    ), contrib AS (
      SELECT block,
             CAST(('0x' || substr(md5(address || ':' ||
                     CAST(propertyid AS VARCHAR) || ':' ||
                     CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
             - COALESCE(
                 CAST(('0x' || substr(md5(address || ':' ||
                     CAST(propertyid AS VARCHAR) || ':' ||
                     CAST(prev_b AS VARCHAR)), 1, 15)) AS BIGINT),
                 0) AS dh
      FROM st
    ), perblk AS (
      SELECT block, CAST(SUM(dh) AS DECIMAL(38,0)) AS dh
      FROM contrib GROUP BY block
    )
    SELECT block,
           CAST(((SUM(dh) OVER (ORDER BY block)
                  % 1000000000000000000)
                 + 1000000000000000000) % 1000000000000000000
                AS BIGINT) AS consensus_hash
    FROM perblk
    """,
)
def x7b_consensus_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block consensus fingerprint (reference ``sql.py:221-229``
    updateConsensusHash — the cheap every-block state hash, distinct
    from x7's full-state diff).  Difference-trick formulation: see
    ``operators.reconcile.per_block_consensus``."""
    from omniengine_spark.operators.reconcile import per_block_consensus

    deltas = _stamped_deltas(spark, sf_dir).select(
        "address",
        "propertyid",
        "block",
        F.col("delta_base_units").alias("delta"),
    )
    return per_block_consensus(deltas)


@query(
    "omni_incremental_lifecycle",
    oracle="""
    WITH tx AS (
      SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 50 ELSE 0 END AS t,
             'u' || CAST(user_id AS VARCHAR) AS sender,
             'u' || CAST(user_id + 1 AS VARCHAR) AS ref,
             user_id % 5 AS propertyid,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS block,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(CAST(value AS DECIMAL(38,8)) * 100000000
                            AS BIGINT)
                  ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,8)))
                            AS BIGINT) END AS base_units
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), deltas AS (
      SELECT sender AS address, propertyid, block, base_units AS delta
      FROM tx WHERE t = 50
      UNION ALL
      SELECT sender, propertyid, block, -base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT ref, propertyid, block, base_units FROM tx WHERE t = 0
      UNION ALL
      SELECT 'u' || CAST(c_custkey AS VARCHAR) AS address,
             c_custkey % 5 AS propertyid, 0 AS block,
             CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
      FROM customer
    ), per AS (
      SELECT address, propertyid, block, SUM(delta) AS d
      FROM deltas GROUP BY address, propertyid, block
    ), bal AS (
      SELECT address, propertyid, block,
             CAST(SUM(d) OVER (PARTITION BY address, propertyid
                               ORDER BY block) AS BIGINT) AS b
      FROM per
    ), st AS (
      SELECT block, address, propertyid, b,
             LAG(b) OVER (PARTITION BY address, propertyid
                          ORDER BY block) AS prev_b
      FROM bal
    ), contrib AS (
      SELECT block,
             CAST(('0x' || substr(md5(address || ':' ||
                     CAST(propertyid AS VARCHAR) || ':' ||
                     CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
             - COALESCE(
                 CAST(('0x' || substr(md5(address || ':' ||
                     CAST(propertyid AS VARCHAR) || ':' ||
                     CAST(prev_b AS VARCHAR)), 1, 15)) AS BIGINT),
                 0) AS dh
      FROM st
    ), perblk AS (
      SELECT block, CAST(SUM(dh) AS DECIMAL(38,0)) AS dh
      FROM contrib GROUP BY block
    )
    SELECT block,
           CAST(((SUM(dh) OVER (ORDER BY block)
                  % 1000000000000000000)
                 + 1000000000000000000) % 1000000000000000000
                AS BIGINT) AS consensus_hash
    FROM perblk
    """,
)
def omni_incremental_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's actual operating mode as ONE verified artifact
    (reference ``omniEngine.py:109-232``: genesis seed → loop of
    incremental block batches with watermark resume → reorg detect +
    replay → mempool overlay → per-block consensus stamp).

    Lifecycle staged here, all against a partitioned delta warehouse:

    1. genesis snapshot (CSV ingest path) lands as block-0 deltas;
    2. batch 1 appends confirmed blocks ≤ q1;
    3. batch 2 resumes from the warehouse's own max(block) watermark
       (A1/X1b) and appends blocks ≤ q2;
    4. batch 3 lands the REMAINING confirmed blocks from an orphaned
       chain (every delta off by one base unit) — then the reorg
       recomputes exactly those partitions from the true stream via
       dynamic partition overwrite (X2; reference sql.py:85-218 does
       this with imperative row-by-row undo);
    5. the tip block never enters the warehouse — it overlays as a
       mempool union at read time (X3);
    6. per-block consensus fingerprints (X7b difference trick) run
       over warehouse ∪ mempool.

    The oracle is the ONE-SHOT closed form over the whole stream —
    equality proves the incremental path converges: watermark resume
    lost nothing, the reorg replaced every orphaned partition, and
    the overlay is indistinguishable from confirmation.

    Scale: each batch writes only its own block partitions; the
    watermark is a partition-pruned max; the reorg rewrites only
    partitions ≥ fork; consensus is the O(deltas) difference trick —
    no stage is O(history) per batch.
    """
    from omniengine_spark.operators.reconcile import per_block_consensus
    from omniengine_spark.pipeline import genesis_deltas
    from omniengine_spark.sources.genesis import synthetic_genesis

    deltas = _stamped_deltas(spark, sf_dir).select(
        "address",
        "propertyid",
        F.col("block").cast("long").alias("block"),
        F.col("delta_base_units").cast("decimal(38,0)").alias("delta"),
    ).persist()
    # persist: the four batch writes, the mempool overlay and the
    # min/max boundary agg below all filter THIS one computed stream;
    # unpersisted, the full serial-stamp + delta-expansion pipeline
    # re-ran once per write (measured 5 executions per bench run).
    # The min/max collect right below materializes it once.  Cache
    # contract: the returned frame's mempool arm still reads this
    # cache, so it is released by the CALLER (clearCache between
    # invocations — the bench/oracle harness already does).
    gen = genesis_deltas(synthetic_genesis(spark, sf_dir)).select(
        "address",
        "propertyid",
        F.lit(0).cast("long").alias("block"),
        F.col("delta_base_units").cast("decimal(38,0)").alias("delta"),
    )

    # deterministic batch boundaries: blocks are day numbers (~30
    # distinct), split at thirds; the tip block stays mempool-only
    lo, hi = deltas.agg(F.min("block"), F.max("block")).collect()[0]
    q1 = lo + (hi - lo) // 3
    q2 = lo + 2 * (hi - lo) // 3

    path = scratch_dir("warehouse-lifecycle")
    blk = F.col("block")
    # 1+2: genesis + first confirmed batch
    write_partitioned(
        gen.unionByName(deltas.filter(blk <= q1)), path, ["block"]
    )
    # 3: resume strictly from the warehouse's own watermark
    watermark = (
        read_warehouse(spark, path)
        .agg(F.max(F.col("block").cast("long")))
        .collect()[0][0]
    )
    write_partitioned(
        deltas.filter((blk > watermark) & (blk <= q2)), path, ["block"]
    )
    # 4: orphaned chain lands (every delta +1), then the reorg
    # overwrites those same partitions from the true stream
    orphaned = deltas.filter((blk > q2) & (blk < hi)).withColumn(
        "delta", F.col("delta") + 1
    )
    write_partitioned(orphaned, path, ["block"])
    write_partitioned(
        deltas.filter((blk > q2) & (blk < hi)), path, ["block"]
    )

    # 5+6: mempool overlay at read time, then consensus fingerprints
    confirmed = read_warehouse(spark, path).select(
        "address",
        "propertyid",
        F.col("block").cast("long").alias("block"),
        F.col("delta").cast("decimal(38,0)").alias("delta"),
    )
    mempool = deltas.filter(blk == hi)
    return per_block_consensus(confirmed.unionByName(mempool))


@query(
    "btc_wallet_clusters",
    oracle="""
    SELECT event_id AS address_id,
           MIN(event_id) OVER (PARTITION BY user_id) AS cluster_id
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def btc_wallet_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-input-ownership wallet clustering — the standard chain-
    analytics entity-resolution heuristic: all input addresses of one
    transaction belong to one owner, and clusters chain transitively
    through shared inputs (change-address reuse).

    Deterministic fixture: every purchase event mints address
    ``event_id``; a user's same-day purchases are co-spent in one tx,
    and each day's tx also spends the previous day's anchor address —
    so each user's whole address set chains into ONE cluster whose
    canonical id is the user's first purchase (the oracle's closed
    form).  The Spark side builds STAR edges (every input → the tx's
    anchor input, linear in inputs, never all-pairs within a tx) and
    resolves transitive ownership with the same distributed
    ``connected_components`` the dedup suite uses — per-user chains
    ~30 days deep, so this actually exercises the pointer-jumping
    regime, unlike the shallow near-dup graphs.
    """
    from omniengine_spark.functions.scalars import epoch_us
    from omniengine_spark.operators.dedup import connected_components
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("address_id"),
            (epoch_us("ts") / F.lit(86400000000)).cast("long").alias("d"),
        )
    )
    anchors = p.groupBy("user_id", "d").agg(
        F.min("address_id").alias("anchor")
    )
    wd = Window.partitionBy("user_id").orderBy("d")
    day_links = (
        anchors.withColumn("prev_anchor", F.lag("anchor").over(wd))
        .filter(F.col("prev_anchor").isNotNull())
        .select(
            F.col("prev_anchor").alias("doc_a"),
            F.col("anchor").alias("doc_b"),
        )
    )
    star_edges = (
        p.join(anchors, ["user_id", "d"])
        .filter(F.col("address_id") != F.col("anchor"))
        .select(
            F.col("anchor").alias("doc_a"),
            F.col("address_id").alias("doc_b"),
        )
    )
    nodes = p.select("address_id")
    # ~30-day change chains: deep-graph regime, so pointer jumping
    # runs from round one (halves the round count vs plain hops)
    return connected_components(
        nodes, star_edges.union(day_links), "address_id", jump_from=0
    )


# --------------------------------------------------------------------
# A1/A2 — resume-point aggregates (reference max(blocknumber)+coalesce
# resume, omniEngine.py:61-106; least(-1, min(serial)) pending serial,
# sql.py:388).  One scalar row driving incremental batch boundaries.
# --------------------------------------------------------------------
@query(
    "a1_resume_points",
    oracle="""
    SELECT COALESCE(MAX(event_id), 22111443) AS max_serial,
           LEAST(-1, MIN(event_id)) AS next_pending_serial,
           CAST(MAX(ts) AS TIMESTAMP) AS high_watermark
    FROM events
    """,
)
def a1_resume_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.coalesce(F.max("event_id"), F.lit(22111443)).alias("max_serial"),
        F.least(F.lit(-1).cast("long"), F.min("event_id")).alias(
            "next_pending_serial"
        ),
        F.max("ts").alias("high_watermark"),
    )


# --------------------------------------------------------------------
# X7/§5 — consensus check: engine state vs oracle snapshot, full-outer
# diff with per-key status (reference checkbalances_MP
# sql.py:1205-1316).  The "snapshot" here is the pre-cutoff fold and
# the "engine" is the full fold, so every status class appears.
# --------------------------------------------------------------------
@query(
    "x7_consensus_check",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) - INTERVAL 2 DAY AS cutoff FROM events),
    engine AS (
      SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    oracle_snap AS (
      SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events, anchor
      WHERE event_type = 'purchase' AND ts <= anchor.cutoff
      GROUP BY user_id
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           CAST(e.cents AS BIGINT) AS engine_cents,
           CAST(o.cents AS BIGINT) AS oracle_cents,
           CASE WHEN e.user_id IS NULL THEN 'missing_in_engine'
                WHEN o.user_id IS NULL THEN 'missing_in_oracle'
                WHEN e.cents <> o.cents THEN 'mismatch'
                ELSE 'ok' END AS status
    FROM engine e FULL OUTER JOIN oracle_snap o ON e.user_id = o.user_id
    """,
)
def x7_consensus_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    purchases = ev.filter(F.col("event_type") == "purchase")
    engine = purchases.groupBy("user_id").agg(F.sum(cents).alias("cents"))
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 DAY")).alias("cutoff")
    )
    oracle_snap = (
        purchases.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.sum(cents).alias("cents"))
    )
    return reconcile(engine, oracle_snap, ["user_id"], ["cents"])


# ---------------------------------------------------------------------------
# T3 — incremental processing cap (sql.py:242-247: resume from a
# high-watermark, process at most 25 000 blocks per run).  Pending
# work = orders past the watermark date, deterministically ordered;
# the capped batch aggregates to its resume bookkeeping row.
# ---------------------------------------------------------------------------
_T3_WATERMARK = "1995-06-01"
_T3_CAP = 1000


@query(
    "t3_processing_cap",
    oracle=f"""
    WITH batch AS (
      SELECT o_orderkey, o_orderdate
      FROM orders
      WHERE o_orderdate > DATE '{_T3_WATERMARK}'
      ORDER BY o_orderdate, o_orderkey
      LIMIT {_T3_CAP}
    )
    SELECT COUNT(*) AS n_processed,
           MIN(o_orderkey) AS first_key,
           MAX(o_orderkey) AS last_key,
           CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT)
             AS new_watermark_epoch
    FROM batch
    """,
)
def t3_processing_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") > F.lit(_T3_WATERMARK).cast("date"))
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_T3_CAP)
    )
    return batch.agg(
        F.count(F.lit(1)).alias("n_processed"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
        F.unix_timestamp(F.max("o_orderdate")).alias(
            "new_watermark_epoch"
        ),
    )


# ---------------------------------------------------------------------------
# X2 — reorg as recompute (reference undoes state imperatively,
# sql.py:85-218; the engine overwrites partitions ≥ fork and
# replays, SURVEY §7.0).  Block ranges ≥ the fork are first written
# from a corrupted "orphaned chain" (cents off by one), then the
# reorg recomputes those ranges from the true stream via dynamic
# partition overwrite.  The oracle is the truth over the full
# stream: equality proves convergence — corrupt partitions were
# replaced, pre-fork partitions were never touched.
# ---------------------------------------------------------------------------
_X2_FORK = 2  # block ranges >= this get orphaned then replayed


@query(
    "x2_reorg_recompute",
    oracle=f"""
    SELECT event_id // 1000 AS block_range,
           COUNT(*) AS n_events,
           CAST(SUM({CENTS_SQL}) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_id // 1000
    """,
)
def x2_reorg_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") / F.lit(1000))
        .cast("long")
        .alias("block_range"),
    )
    fork = F.lit(_X2_FORK)
    orphaned = ev.withColumn(
        "cents",
        F.when(
            F.col("block_range") >= fork, F.col("cents") + 1
        ).otherwise(F.col("cents")),
    )
    path = scratch_dir("warehouse-x2")
    write_partitioned(orphaned, path, ["block_range"])
    # reorg: recompute every range >= fork from the true stream
    write_partitioned(
        ev.filter(F.col("block_range") >= fork), path, ["block_range"]
    )
    return (
        read_warehouse(spark, path)
        # partition-column values are re-inferred as int on read
        .withColumn("block_range", F.col("block_range").cast("long"))
        .groupBy("block_range")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# X1b — incremental high-watermark batch, driver-checked (reference
# resume loop, omniEngine.py:60-69 + A1 coalesce(max(...)) resume
# points): batch 1 lands days ≤ split into the warehouse; batch 2
# reads the warehouse's own max(day) watermark — exactly the
# reference's `max(blocknumber)+1` — and appends only newer days.
# The result proves incremental == one-shot over the same stream.
# At scale each batch touches only its new day partitions; the
# watermark read is a partition-pruned max over the partition column.
# ---------------------------------------------------------------------------
@query(
    "x1b_incremental_batch",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY 1
    """,
)
def x1b_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    split = ev.agg(
        F.date_add(F.min("day"), 10).alias("s")
    ).collect()[0]["s"]

    path = scratch_dir("warehouse-x1b")
    write_partitioned(ev.filter(F.col("day") <= F.lit(split)), path, ["day"])

    # resume point read back from the warehouse itself (A1)
    watermark = (
        read_warehouse(spark, path)
        .agg(F.max(F.col("day").cast("date")).alias("w"))
        .collect()[0]["w"]
    )
    write_partitioned(
        ev.filter(F.col("day") > F.lit(watermark)), path, ["day"]
    )

    return (
        read_warehouse(spark, path)
        .withColumn(
            "day", F.col("day").cast("date").cast("timestamp_ntz")
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# X15 — incremental view maintenance: the per-user rollup is updated
# by MERGING aggregate state (old rollup rows are themselves valid
# partials for sum/count/max) with the new batch's partials — raw
# history is never rescanned.  This is the scalable form of the
# reference's read-modify-write AddressBalances upsert
# (sql.py:1320-1418): at 100 TB the merge touches |keys| rollup rows
# + the new partition only, one shuffle on the key.  The oracle
# states the rollup directly against all raw events, proving the
# merge chain is lossless.
# ---------------------------------------------------------------------------
@query(
    "x15_ivm_rollup_merge",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MAX(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM events
    GROUP BY user_id
    """,
)
def x15_ivm_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    split = ev.agg(
        F.date_add(F.min("day"), 10).alias("s")
    ).collect()[0]["s"]

    def partials(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.max("cents").alias("max_cents"),
        )

    path = scratch_dir("warehouse-x15")
    # v1: rollup over the historical prefix, materialized
    write_partitioned(
        partials(ev.filter(F.col("day") <= F.lit(split))), path, []
    )

    # v2: merge stored state with the new batch's partials — the
    # stored rollup rows re-enter the same aggregation as partials
    merged = (
        read_warehouse(spark, path)
        .select("user_id", "n_events", "total_cents", "max_cents")
        .unionByName(partials(ev.filter(F.col("day") > F.lit(split))))
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("total_cents").cast("long").alias("total_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )
    write_partitioned(merged, path, [])
    return read_warehouse(spark, path).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "total_cents",
        "max_cents",
    )
