"""Driver-facing omni-pipeline plan: a deterministic tx stream is
derived from the events table (signup → fixed issuance type 50,
purchase → simple send type 0), run through the real pipeline stages
(stamp_serials → expand_deltas → build_balances), and the oracle
re-states the expansion + fold declaratively in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.pipeline import (
    build_balances,
    expand_deltas,
    stamp_serials_distributed,
)
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import load_table
from omniengine_spark.sources.catalog import session_memo


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
    from omniengine_spark.sources.sinks import (
        read_warehouse,
        scratch_dir,
        write_partitioned,
    )

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
