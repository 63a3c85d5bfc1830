"""Source and sink plans.  The file-format round trips (S13/S16)
write the data out through the sink, read it back through the
source, and the oracle aggregates the original parquet — equal
results prove the round trip is lossless.

The same discipline covers the other adapters: the HTTP rate and fee
normalizers (S9-S12, and the S9b feed connector), the warehouse sink
with dynamic partition overwrite (S14), time-travel reads over
versioned commits (S19), and CDC snapshot diffs (X16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import CENTS_SQL, DEC_18_4
from omniengine_spark.plans.registry import query
from omniengine_spark.sources.catalog import cutoff_day, load_table, persist
from omniengine_spark.sources.http import (
    fees_frame,
    normalize_fee_estimates,
    normalize_fiat_rates,
    rates_frame,
)
from omniengine_spark.sources.sinks import (
    csv_roundtrip,
    jdbc_publish,
    json_roundtrip,
    read_warehouse,
    scratch_dir,
    write_partitioned,
)


@query(
    "s13_csv_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MAX(event_id) AS max_event_id
    FROM events
    GROUP BY event_type
    """,
)
def s13_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lossless = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    back = csv_roundtrip(lossless, "events")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.max("event_id").alias("max_event_id"),
    )


@query(
    "s16_json_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY lang
    """,
)
def s16_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    back = json_roundtrip(docs, "documents")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "s17_schema_migration",
    oracle="""
    SELECT priority_class,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
               AS priority_class,
             o_totalprice
      FROM orders
    )
    GROUP BY priority_class
    """,
)
def s17_schema_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned schema migration (reference ``upgrade.py:17-36``,
    ``patches/omniDB.v*.patch``): seed a v0 warehouse from orders,
    apply v1 (add backfilled ``prio_class``, the add-column-default
    patch shape) and v2 (rename to ``priority_class``, the
    txsubmittime→txrecvtime patch shape), each committed as a version
    of the table, then aggregate the migrated head, read with the
    schema its manifest recorded.  The oracle recomputes the same
    result straight from the original orders — equality proves the
    two rewrites were lossless and the backfill expression matched."""
    from omniengine_spark.sources.migrate import (
        Migration,
        add_column,
        migrate,
        rename_column,
    )
    from omniengine_spark.sources.versioned import (
        commit,
        read_version,
        vacuum,
    )

    path = scratch_dir("migrate-wh")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit(orders, path, "seed")
    migrations = [
        Migration(
            1,
            "add prio_class backfilled from o_orderpriority",
            add_column(
                "prio_class",
                F.substring("o_orderpriority", 1, 1).cast("long"),
            ),
        ),
        Migration(
            2,
            "rename prio_class -> priority_class",
            rename_column("prio_class", "priority_class"),
        ),
    ]
    migrate(spark, path, migrations)
    # the superseded versions' files go; their tags stay in the manifest
    vacuum(path, keep_last=1)
    wh = read_version(spark, path)
    return wh.groupBy("priority_class").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


@query(
    "s18_zorder_pointscan",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE user_id = 42
    """,
)
def s18_zorder_pointscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout (operators/layout.py): rewrite events clustered
    along the Morton curve of (user_id, event_id), then serve a
    point-lookup on user_id from the clustered copy.

    The content is layout-invariant (the oracle reads the raw table),
    but the plan is the lakehouse replacement for the reference's
    nine btree indexes (``omni_db_schema.psql:101-117``): after the
    rewrite, the user_id filter prunes most FILES via parquet min/max
    stats — tests/test_layout.py proves the footer bounding boxes are
    tight on both dimensions, which no single-column sort achieves."""
    from omniengine_spark.operators.layout import write_zordered

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = scratch_dir("zorder")
    write_zordered(ev, path, "user_id", "event_id", n_files=16)
    return read_warehouse(spark, path, ev.schema).filter(
        F.col("user_id") == 42
    )


@query(
    "s13b_corrupt_ingest",
    # Oracle recomputes the partition of good vs corrupt rows from
    # the source table: every 100th orderkey was written malformed.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 100 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN o_orderkey % 100 <> 0
                         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS good_cents
    FROM orders
    """,
)
def s13b_corrupt_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine: ingest a CSV feed where some rows
    are garbage, in PERMISSIVE mode with a corrupt-record column —
    bad rows are COUNTED AND KEPT for quarantine instead of killing
    the job (FAILFAST) or vanishing (DROPMALFORMED).  The reference's
    row-at-a-time loop skips unparseable payloads with a logged
    ``continue`` (``omniEngine.py:142-151``); at 100 TB the bulk
    scanner needs the same tolerance without sacrificing the audit
    trail.  The fixture derives from orders: every 100th orderkey is
    written as a non-numeric line, the rest as (orderkey, cents)."""

    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 100 == 0,
            F.concat(F.lit("corrupt#"), F.col("o_orderkey"), F.lit("#row")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey"),
                F.round(F.col("o_totalprice") * 100).cast("long"),
            )
        )
        .alias("value")
    )
    path = scratch_dir("corrupt_feed")
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "o_orderkey LONG, cents LONG, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark refuses queries that touch only the internal corrupt
    # column of an in-flight parse; cache materializes the parsed
    # rows first (documented CSV-source limitation).
    back = persist(back)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("good_cents"),
    )


@query(
    "s20_stats_skipping_scan",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
      AND CAST(ts AS DATE) <= DATE '2024-01-14'
    GROUP BY day
    """,
)
def s20_stats_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planning-time FILE skipping over the versioned warehouse (the
    Delta/Iceberg data-skipping layer): the week-window scan prunes
    the shared ``_events_book`` (16 ts-ranged files with per-file
    footer min/max in each version's ``_stats.json``) on ``ts`` over
    [2024-01-08, 2024-01-15) UTC, so Spark is handed ONLY the files
    whose range intersects the window — at 100 TB the listing and
    footer phase itself shrinks, which partition pruning (dir names)
    and row-group stats (post-open) cannot do.  Replaces the
    reference's btree range indexes (``omni_db_schema.psql:101-117``,
    e.g. the TxBlockNumber scans at ``sql.py:266-276``) at the file
    level.  Skipping is advisory — the exact day filter still runs on
    ``to_date(ts)``, so the result is stats-invariant; the plan-shape
    test pins the executed scan to the kept files."""
    import datetime as dt

    from omniengine_spark.sources.versioned import read_version

    path = _events_book(spark, sf_dir)  # pins session tz UTC
    lo, hi = dt.date(2024, 1, 8), dt.date(2024, 1, 14)
    window = (
        dt.datetime.combine(lo, dt.time.min, tzinfo=dt.timezone.utc),
        dt.datetime.combine(hi, dt.time.max, tzinfo=dt.timezone.utc),
    )
    pruned = read_version(spark, path, prune={"ts": window}).select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        pruned.filter(
            (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi))
        )
        .groupBy(
            F.date_format("day", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
    )


def _events_book(spark: SparkSession, sf_dir: str) -> str:
    """The events table as a stats-committed versioned book, committed
    once per process and input content (``versioned.commit_once``) —
    the persisted artifact the pruned domain plans serve from.  Day-
    ranged layout (16 range partitions on ts) so file min/max windows
    are tight; ``stats_cols=["ts"]`` writes the skipping manifest."""
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import commit_once

    # the book is written through load_table (UTC session, LTZ ts);
    # every pruned plan's timestamp literals and rendering must agree
    # with it even on a session whose tz nobody pinned yet — pin here,
    # the shared entry point
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = artifact_root("events-book", sf_dir, "events.parquet")
    commit_once(
        path, "events day-ranged",
        lambda: load_table(spark, sf_dir, "events").repartitionByRange(
            16, "ts"
        ),
        stats_cols=["ts"],
    )
    return path


def _book_anchor(spark: SparkSession, path: str):
    """max(ts) of the events book as a tz-aware UTC datetime — from
    planning-time manifest metadata when the stats chain can prove it
    (``stats_minmax``: no file opens, no Spark job), else from data.
    The fallback computes epoch micros IN SPARK (``unix_micros`` is
    exact on the book's UTC-adjusted timestamps); collect()ing the
    timestamp value itself converts through the OS-local timezone
    (``datetime.fromtimestamp``), which would skew the tz-aware prune
    bound by the UTC offset on a non-UTC host."""
    import datetime as dt

    from omniengine_spark.functions.scalars import epoch_us
    from omniengine_spark.sources.versioned import (
        read_version,
        stats_minmax,
    )

    rng = stats_minmax(path, "ts")
    if rng is not None:
        return rng[1]  # exact max(ts): footer ts stats are exact
    us = (
        read_version(spark, path)
        .agg(F.max(epoch_us("ts")).alias("us"))
        .collect()[0][0]
    )
    if us is None:
        raise ValueError(
            f"events book at {path} is empty: no anchor to serve "
            "a trailing window from"
        )
    return dt.datetime(
        1970, 1, 1, tzinfo=dt.timezone.utc
    ) + dt.timedelta(microseconds=us)


@query(
    "j9b_trailing_24h_pruned",
    # identical contract to j9_trailing_24h_purchase_volume — same
    # anchor, same window, same aggregates — but served from the
    # stats-committed versioned book through planning-time file
    # skipping instead of a full scan.
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events)
    SELECT
      event_type,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS vol_24h,
      COUNT(*) AS n_24h
    FROM events, anchor
    WHERE ts > anchor.mx - INTERVAL 1 DAY
    GROUP BY event_type
    """,
    artifact=True,
)
def j9b_trailing_24h_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J9/A6 through the data-skipping layer (the gated-domain wiring
    of ``s20``'s mechanism): the trailing-24 h volume (reference
    ``sql.py:888-890``) reads ONLY the files whose footer-stat ts
    range can intersect the window.  The anchor itself comes from
    planning-time metadata: ``stats_minmax`` folds the manifest's
    per-file ranges into the global max(ts) with no file opens and
    no Spark job — at 100 TB, scanning the table to learn which
    files not to scan would defeat the skipping.  The exact filter
    still runs (skipping is file-granular, advisory by contract), so
    the result is stats-invariant; the plan-shape test asserts the
    kept-file count actually dropped.  Replaces the reference's
    TxBlockNumber btree range scans (``omni_db_schema.psql:241-251``,
    ``sql.py:266,276,890``) at the file level."""
    import datetime as dt

    from omniengine_spark.sources.versioned import read_version

    path = _events_book(spark, sf_dir)  # pins session tz UTC
    anchor = _book_anchor(spark, path)
    window_lo = anchor - dt.timedelta(days=1)
    pruned = read_version(spark, path, prune={"ts": (window_lo, None)})
    return (
        pruned.filter(
            F.col("ts")
            > F.lit(anchor.replace(tzinfo=None) - dt.timedelta(days=1))
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast(DEC_18_4))
            .cast("double")
            .alias("vol_24h"),
            F.count(F.lit(1)).alias("n_24h"),
        )
    )


@query(
    "s21_jdbc_serving_sink",
    oracle="""
    SELECT event_type,
           CAST(user_id % 100 AS BIGINT) AS user_bucket,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type, user_bucket
    """,
)
def s21_jdbc_serving_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC serving sink + source (SURVEY §2.1 S14 "optional
    ``df.write.jdbc``"; reference ``sqltools.py:58-87`` serves query
    results through a DB-API connection): per-(type, user-bucket)
    balances are written to a relational serving store through
    ``df.write.jdbc`` and read back through ``spark.read.jdbc`` — the
    round trip the oracle checks against the raw parquet, so a lossy
    type mapping or dropped partition write would hash-fail.

    The store is Apache Derby EMBEDDED (ships in Spark's own jars for
    the metastore — zero external services), which closes what
    rounds 8-9 carried as the one infra-blocked gap: the JDBC code
    path itself is exercised for real; pointing it at Postgres is a
    URL swap, not a code change.  Scale notes: executors open their
    own JDBC connections per partition (the write here keeps 4
    partitions to exercise concurrent writers); an embedded
    single-JVM store only works in local mode — a cluster serving
    sink is the same two calls against a network DB, plus
    ``partitionColumn`` bounds on the read side for parallel scans
    (``s21b``).  ``createTableColumnTypes`` pins VARCHAR over Derby's
    default CLOB mapping for the string key (CLOBs cannot be compared
    or grouped).  The write goes through ``sinks.jdbc_publish`` —
    staging table + one-DDL-transaction rename swap — because a plain
    ``mode="overwrite"`` commits one transaction PER PARTITION and a
    racing reader can observe k-of-4 partition subsets
    (tests/test_warehouse.py pins the swap's atomicity)."""

    base = scratch_dir("jdbc-serve")
    # derby.log (and any relative DB path) lands in the scratch dir,
    # not the process CWD; safe to set repeatedly
    spark._jvm.System.setProperty("derby.system.home", base)
    url = f"jdbc:derby:{base}/servedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            "event_type",
            (F.col("user_id") % 100).alias("user_bucket"),
        )
        .agg(
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("balance_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    jdbc_publish(
        agg,
        url,
        "user_balances",
        props,
        create_column_types="event_type VARCHAR(32)",
    )
    return spark.read.jdbc(url, "user_balances", properties=props)


@query(
    "a5b_daily_stats_pruned",
    # a5's day-grain rollup restricted to the trailing 7 days ending
    # at max(ts) — the reference's per-block txstats window
    # (``sql.py:257-312``) asked incrementally: a refresh never needs
    # the archive, only the recent files.
    oracle="""
    WITH anchor AS (SELECT CAST(MAX(ts) AS DATE) AS ad FROM events)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                AS DOUBLE) AS day_value
    FROM events, anchor
    WHERE CAST(ts AS DATE) > ad - 7
    GROUP BY day
    """,
    artifact=True,
)
def a5b_daily_stats_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 through the data-skipping layer (second consumer of the
    shared ``_events_book`` — one committed book, N pruned plans):
    the trailing-week daily stats read only the files whose footer ts
    range can reach the window; the anchor day comes from
    ``stats_minmax`` planning-time metadata (``_book_anchor``).  At
    100 TB a daily-stats refresh touches ~7/N_days of the files
    instead of all of them — the reference recomputes its txstats
    windows from the full transactions table every block
    (``sql.py:266,276``).  Skipping is advisory: the exact
    day-predicate still runs, so the result is stats-invariant
    (plan-shape test pins kept < total and the full-scan hash)."""
    import datetime as dt

    from omniengine_spark.sources.versioned import read_version

    path = _events_book(spark, sf_dir)  # pins session tz UTC
    anchor_day = _book_anchor(spark, path).date()
    # rows kept: to_date(ts) > anchor_day - 7  ⇔  ts ≥ midnight of
    # (anchor_day - 6); that midnight is the closed prune bound
    window_lo = dt.datetime.combine(
        anchor_day - dt.timedelta(days=6),
        dt.time.min,
        tzinfo=dt.timezone.utc,
    )
    pruned = read_version(spark, path, prune={"ts": (window_lo, None)})
    return (
        pruned.filter(
            F.to_date("ts") > F.lit(anchor_day - dt.timedelta(days=7))
        )
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC_18_4))
            .cast("double")
            .alias("day_value"),
        )
    )


@query(
    "w8b_trailing_7d_spend_pruned",
    # w8's RANGE-frame window asked as the serving question — each
    # user's CURRENT trailing-7-day spend (the frame anchored at
    # max(ts), reference ``sql.py:890``'s trailing windows) — so the
    # scan only needs the last 7 days of files, not the archive.
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events)
    SELECT user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                AS DOUBLE) AS spend_7d,
           COUNT(*) AS n_7d
    FROM events, anchor
    WHERE ts > anchor.mx - INTERVAL 7 DAY
    GROUP BY user_id
    """,
    artifact=True,
)
def w8b_trailing_7d_spend_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """W8/A6 through the data-skipping layer (third consumer of the
    shared ``_events_book``): per-user trailing-7-day spend at the
    anchor.  ``w8_trailing_7d_user_value`` computes the running frame
    for EVERY event and so legitimately scans everything; the serving
    form — "each user's spend over the LAST 7 days" — only ever needs
    the window's files, which is what the book's footer-stat manifest
    hands Spark at planning time.  Anchor from metadata
    (``_book_anchor``), exact filter still runs (stats-invariant),
    kept < total pinned in the plan-shape test."""
    import datetime as dt

    from omniengine_spark.sources.versioned import read_version

    path = _events_book(spark, sf_dir)  # pins session tz UTC
    anchor = _book_anchor(spark, path)
    window_lo = anchor - dt.timedelta(days=7)
    pruned = read_version(spark, path, prune={"ts": (window_lo, None)})
    return (
        pruned.filter(
            F.col("ts")
            > F.lit(anchor.replace(tzinfo=None) - dt.timedelta(days=7))
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast(DEC_18_4))
            .cast("double")
            .alias("spend_7d"),
            F.count(F.lit(1)).alias("n_7d"),
        )
    )


def _events_incr_book(spark: SparkSession, sf_dir: str):
    """Two-commit incremental events book: batch 1 (days ≤ min+10) as
    a snapshot version, batch 2 as a DELTA on it — the resume point
    between the two read from the version-1 stats manifest alone
    (``stats_minmax``: the reference's ``max(blocknumber)+1`` watermark
    at ``omniEngine.py:60-69``, answered with zero file opens).
    Returns ``(path, watermark)``; both commits happen once per
    process and input content (``versioned.commit_once``)."""
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import commit_once, stats_minmax

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = artifact_root("events-incr", sf_dir, "events.parquet")

    def base_batch() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        split = ev.agg(
            F.date_add(F.to_date(F.min("ts")), 10).alias("s")
        ).collect()[0]["s"]
        # day-ranged file layout inside each commit: pruning is
        # file-granular, so the base batch must span >1 file for the
        # resume read to skip anything
        return ev.filter(F.to_date("ts") <= F.lit(split)).repartitionByRange(
            8, "ts"
        )

    base = commit_once(path, "base batch", base_batch, stats_cols=["ts"])
    # the A1 resume point, from planning-time metadata: max ts of
    # everything committed so far — no scan of the base batch
    watermark = stats_minmax(path, "ts", version=base["version"])[1]
    commit_once(
        path, "delta batch",
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit(watermark.replace(tzinfo=None)))
        .repartitionByRange(4, "ts"),
        delta=True,
        stats_cols=["ts"],
    )
    return path, watermark


@query(
    "x1c_incremental_pruned_resume",
    # the rows the DELTA commit added — i.e. everything after the
    # base batch's watermark (min day + 10); proving the
    # metadata-derived resume point and the delta chain lost nothing.
    oracle="""
    WITH split AS (SELECT CAST(MIN(ts) AS DATE) + 10 AS s FROM events)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events, split
    WHERE CAST(ts AS DATE) > s
    GROUP BY day
    """,
    artifact=True,
)
def x1c_incremental_pruned_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X1/A1 with BOTH incremental legs on planning-time metadata:
    the watermark between batches comes from the base version's stats
    manifest (``stats_minmax`` — the reference's resume loop reads
    ``max(blocknumber)+1`` with a table scan, ``omniEngine.py:60-69``),
    and the post-resume rollup reads the
    versioned book PRUNED to files past the watermark — the delta
    dir's files plus at most the base's boundary file, never the
    archive.  ``x1b_incremental_batch`` proves incremental == one-
    shot over the full stream; this twin proves the incremental STEP
    itself runs at shard cost: watermark with no scan, recompute
    touching only new files (kept < total pinned in the plan-shape
    test).  Exact filter still runs — stats-invariant."""
    from omniengine_spark.sources.versioned import read_version

    path, watermark = _events_incr_book(spark, sf_dir)
    pruned = read_version(spark, path, prune={"ts": (watermark, None)})
    return (
        pruned.filter(
            F.col("ts") > F.lit(watermark.replace(tzinfo=None))
        )
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )


@query(
    "s21b_jdbc_parallel_read",
    oracle="""
    SELECT event_type,
           CAST(user_id % 100 AS BIGINT) AS user_bucket,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type, user_bucket
    """,
)
def s21b_jdbc_parallel_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``s21``'s read side made cluster-shaped: ``spark.read.jdbc``
    with ``partitionColumn``/``lowerBound``/``upperBound``/
    ``numPartitions`` issues N range-predicated queries from N
    executors in parallel — the serving-layer scan pattern the
    reference's single psycopg2 cursor (``sqltools.py:58-87``,
    serving reads ``database/SQLstatements.md:15-105``) cannot
    express.  Partitioned on ``user_bucket`` (uniform by
    construction, so the range slices are balanced; a skewed
    partition column would serialize the read on one executor), with
    the bounds read FROM THE STORE first — a serving reader does not
    know the writer's key range, and hardcoded bounds turn into one
    fat slice + empty ones the moment the data's range shifts
    (measured here: sf0.001 only populates buckets 0-14).  The
    plan-shape test pins 4 slices with the rows actually spread; the
    oracle pins the round trip lossless.  Embedded Derby serializes
    writers on table locks but handles concurrent READ cursors fine —
    the parallel scan is real even single-node, and against Postgres
    it is the same calls with a URL swap."""

    base = scratch_dir("jdbc-serve-par")
    spark._jvm.System.setProperty("derby.system.home", base)
    url = f"jdbc:derby:{base}/servedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            "event_type",
            (F.col("user_id") % 100).alias("user_bucket"),
        )
        .agg(
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("balance_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    jdbc_publish(
        agg,
        url,
        "user_balances",
        props,
        create_column_types="event_type VARCHAR(32)",
    )
    # bounds from the store (one 1-row pushed-down aggregate — the
    # dbtable subquery runs inside Derby, not in Spark)
    lo, hi = (
        spark.read.jdbc(
            url,
            '(SELECT MIN("user_bucket") AS lo,'
            ' MAX("user_bucket") AS hi FROM user_balances) AS b',
            properties=props,
        ).collect()[0]
    )
    if lo is None or hi is None:
        raise ValueError(
            "serving table user_balances is empty: no partition "
            "bounds to derive"
        )
    return spark.read.jdbc(
        url,
        "user_balances",
        column="user_bucket",
        lowerBound=int(lo),
        upperBound=int(hi) + 1,
        numPartitions=4,
        properties=props,
    )


# ---------------------------------------------------------------------------
# S9/S10 — HTTP rate source normalization + broadcast rate join
# (reference updateBTC, updatePrices.py:113-138; rate join
# SQLstatements.md:15-43).  The "HTTP response" is a fixture derived
# from the nation dim on the driver — exactly where the reference's
# fetch runs — with one malformed entry (no `last`) that the
# normalizer must skip.  Rates stay OUT of the float aggregate: cents
# are summed as BIGINT per nation first, the rate scales the single
# aggregated value.
# ---------------------------------------------------------------------------
@query(
    "s9_http_rate_join",
    oracle="""
    WITH bal AS (
      SELECT c_nationkey AS nationkey,
             CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             COUNT(*) AS n_customers
      FROM customer GROUP BY c_nationkey
    )
    SELECT n.n_name AS currency,
           b.sum_cents,
           b.n_customers,
           CAST(ROUND(b.sum_cents * ((n.n_nationkey*17 + 3) / 8.0))
                AS BIGINT) AS fiat_cents
    FROM nation n JOIN bal b ON b.nationkey = n.n_nationkey
    WHERE n.n_nationkey <> 0
    """,
)
def s9_http_rate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    ).collect()  # 25-row dim: the driver-side "HTTP fetch"
    payload = {
        r["n_name"]: (
            {}  # malformed entry the normalizer must skip
            if r["n_nationkey"] == 0
            else {"last": (r["n_nationkey"] * 17 + 3) / 8.0}
        )
        for r in nations
    }
    rates = rates_frame(
        spark, normalize_fiat_rates(payload, "fixture", 1_700_000_000)
    ).join(
        spark.createDataFrame(
            [(r["n_nationkey"], r["n_name"]) for r in nations],
            "nationkey long, n_name string",
        ),
        F.col("quote") == F.col("n_name"),
    )
    bal = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )
    return bal.join(F.broadcast(rates), "nationkey").select(
        F.col("quote").alias("currency"),
        "sum_cents",
        "n_customers",
        F.round(F.col("sum_cents") * F.col("rate"))
        .cast("long")
        .alias("fiat_cents"),
    )


# ---------------------------------------------------------------------------
# S11/S12 — fee-estimate union + averaging (updateFees.py:27-93) and
# the supply source's single-value normalization (sql.py:1460-1467).
# Two provider payloads normalize to tier rows, union, and average
# per tier — the oracle re-states the normalized rows as VALUES, so
# equality pins the normalizer's output row-for-row.
# ---------------------------------------------------------------------------
@query(
    "s11_fee_estimates",
    oracle="""
    SELECT tier,
           CAST(CAST(AVG(fee_per_kb) AS DECIMAL(19,4)) AS BIGINT)
             AS avg_fee,
           COUNT(*) AS n_providers
    FROM (VALUES
      ('bitgo',   'fastestFee',  61), ('bitgo',   'halfHourFee', 31),
      ('bitgo',   'hourFee',     11), ('bitgo',   'feePerKb', 12000),
      ('mempool', 'fastestFee',  55), ('mempool', 'halfHourFee', 27),
      ('mempool', 'hourFee',      9)
    ) AS fees(provider, tier, fee_per_kb)
    GROUP BY tier
    """,
)
def s11_fee_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    bitgo = normalize_fee_estimates(
        {
            "fastestFee": 61,
            "halfHourFee": 31,
            "hourFee": 11,
            "feePerKb": 12000,
        },
        "bitgo",
    )
    mempool = normalize_fee_estimates(
        {"fastestFee": 55, "halfHourFee": 27, "hourFee": 9}, "mempool"
    )
    return (
        fees_frame(spark, bitgo)
        .unionByName(fees_frame(spark, mempool))
        .groupBy("tier")
        .agg(
            F.avg("fee_per_kb")
            .cast("decimal(19,4)")
            .cast("long")
            .alias("avg_fee"),
            F.count(F.lit(1)).alias("n_providers"),
        )
    )


# ---------------------------------------------------------------------------
# S14 — warehouse sink with dynamic partition overwrite.  Write all
# events partitioned by event_type, then rewrite ONLY the 'purchase'
# partition with doubled cents; reading the warehouse back must show
# doubling in exactly that partition — proving the dynamic overwrite
# replaced one partition and left the rest untouched.
# ---------------------------------------------------------------------------
@query(
    "s14_warehouse_overwrite",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 2 * {CENTS_SQL} ELSE {CENTS_SQL} END)
                AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
    """,
)
def s14_warehouse_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_type",
    )
    path = scratch_dir("warehouse-s14")
    write_partitioned(ev, path, ["event_type"])
    patched = ev.filter(F.col("event_type") == "purchase").withColumn(
        "cents", F.col("cents") * 2
    )
    write_partitioned(patched, path, ["event_type"])
    return (
        read_warehouse(spark, path, ev.schema)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# X16 — CDC snapshot diff: classify every key as insert / update /
# delete / unchanged between two versions of a state table — the
# changelog the reference never materializes (its upsert CTEs mutate
# in place and lose the before-image; a trigger keeps history for
# ONE table, omni_db_triggers.psql:15-26).  Emitting the diff as
# data is what feeds downstream incremental consumers (serving-cache
# invalidation = the reference's Redis flush, cacher.py:12-36).
# Shape: both snapshots shuffle once on the key; the full outer join
# shares that partitioning; change classification is pure codegen.
# v1 = balances over the first 10 days; v2 = all days, minus users
# ending below a threshold (so genuine deletes exist).
# ---------------------------------------------------------------------------
@query(
    "x16_cdc_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE CAST(ts AS DATE)
            <= (SELECT MIN(CAST(ts AS DATE)) + 10 FROM events)
      GROUP BY user_id
    ), v2_all AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ), v2 AS (
      SELECT * FROM v2_all WHERE cents >= 500000
    )
    SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'insert'
                WHEN v2.user_id IS NULL THEN 'delete'
                WHEN v1.cents <> v2.cents THEN 'update'
                ELSE 'unchanged' END AS change_type,
           v1.cents AS old_cents,
           v2.cents AS new_cents
    FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    WHERE v1.user_id IS NULL OR v2.user_id IS NULL
       OR v1.cents <> v2.cents
    """,
)
def x16_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    split = cutoff_day(spark, sf_dir, 10)
    v1 = (
        ev.filter(F.col("day") <= F.lit(split))
        .groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    v2 = (
        ev.groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("cents"))
        .filter(F.col("cents") >= 500_000)
    )
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    change = (
        F.when(F.col("a.user_id").isNull(), F.lit("insert"))
        .when(F.col("b.user_id").isNull(), F.lit("delete"))
        .when(F.col("a.cents") != F.col("b.cents"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        change.alias("change_type"),
        F.col("a.cents").alias("old_cents"),
        F.col("b.cents").alias("new_cents"),
    ).filter(F.col("change_type") != "unchanged")


@query(
    "s9b_feed_connector",
    # Oracle replays the connector's deterministic fixture payloads
    # as literal rows — cross-provider consolidation must agree.
    oracle="""
    WITH feed(source, base, quote, rate, asof_epoch) AS (
      VALUES ('alpha','BTC','EUR',47000.0,1700000000),
             ('alpha','BTC','JPY',7400000.0,1700000000),
             ('alpha','BTC','USD',51000.0,1700000000),
             ('beta','BTC','EUR',46900.0,1700000000),
             ('beta','BTC','USD',50950.0,1700000000)
    )
    SELECT quote,
           COUNT(*) AS n_providers,
           MIN(rate) AS min_rate,
           MAX(rate) AS max_rate,
           MAX(rate) - MIN(rate) AS spread
    FROM feed GROUP BY quote
    """,
)
def s9b_feed_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate consolidation through the registered Python DataSource
    connector (``sources/feed_source.py``): one input partition per
    provider, fetched executor-side, consolidated into per-currency
    best/worst/spread — the reference's updatePrices cross-provider
    reconciliation (``updatePrices.py:113-236``) as a pluggable
    ``spark.read.format("omni_feed")`` scan.  ``load_table`` runs
    first so the package zip is shipped before executors unpickle
    the reader."""
    load_table(spark, sf_dir, "nation")  # ships the package zip
    from omniengine_spark.sources.feed_source import register

    register(spark)
    feed = spark.read.format("omni_feed").option("kind", "rates").load()
    return feed.groupBy("quote").agg(
        F.count(F.lit(1)).alias("n_providers"),
        F.min("rate").alias("min_rate"),
        F.max("rate").alias("max_rate"),
        (F.max("rate") - F.min("rate")).alias("spread"),
    )


# ---------------------------------------------------------------------------
# S19 — time-travel reads over the versioned warehouse: "what did the
# book say at block H" as a first-class scan.  Version 1 is the
# balance book at a block cutoff, version 2 advances the tip, version
# 3 is a schema migration (add a derived tier column) — all three
# immutable, manifest-audited commits (sources/versioned.py).  The
# plan diffs v1 against the migrated head across two snapshot reads;
# the oracle restates both snapshots from the raw stream.  The
# reference can only answer this by replaying its reorg undo
# (sql.py:85-218) — here history is retained, not re-derived.
# ---------------------------------------------------------------------------
@query(
    "s19_time_travel_diff",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(ROUND(value*100) AS BIGINT) AS cents
      FROM events
    ), v1 AS (
      SELECT user_id, CAST(SUM(cents) AS BIGINT) AS cents
      FROM ev
      WHERE day <= (SELECT MIN(day) + 14 FROM ev)
      GROUP BY user_id
    ), v3 AS (
      SELECT user_id, CAST(SUM(cents) AS BIGINT) AS cents,
             CAST(SUM(cents) // 1000000 AS BIGINT) AS tier
      FROM ev GROUP BY user_id
    )
    SELECT COALESCE(v1.user_id, v3.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'insert'
                WHEN v1.cents <> v3.cents THEN 'update'
                ELSE 'unchanged' END AS change_type,
           v1.cents AS old_cents,
           v3.cents AS new_cents,
           v3.tier AS new_tier
    FROM v1 FULL OUTER JOIN v3 ON v1.user_id = v3.user_id
    WHERE v1.user_id IS NULL OR v1.cents <> v3.cents
    """,
)
def s19_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omniengine_spark.sources.versioned import commit, read_version

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    split = cutoff_day(spark, sf_dir, 14)
    book = lambda f: (  # noqa: E731
        f.groupBy("user_id").agg(
            F.sum("cents").cast("long").alias("cents")
        )
    )
    path = scratch_dir("warehouse-s19")
    commit(
        book(ev.filter(F.col("day") <= F.lit(split))),
        path,
        f"balance book at block cutoff {split}",
    )
    commit(book(ev), path, "advance tip to head")
    # schema patch as a commit: same audit trail as data rewrites
    migrated = read_version(spark, path).withColumn(
        "tier", (F.col("cents") / 1_000_000).cast("long")
    )
    commit(migrated, path, "schema v1: add tier column")

    old = read_version(spark, path, version=1).alias("a")
    new = read_version(spark, path).alias("b")  # head = v3
    joined = old.join(
        new, F.col("a.user_id") == F.col("b.user_id"), "full_outer"
    )
    change = (
        F.when(F.col("a.user_id").isNull(), F.lit("insert"))
        .when(F.col("a.cents") != F.col("b.cents"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias(
            "user_id"
        ),
        change.alias("change_type"),
        F.col("a.cents").alias("old_cents"),
        F.col("b.cents").alias("new_cents"),
        F.col("b.tier").alias("new_tier"),
    ).filter(F.col("change_type") != "unchanged")
