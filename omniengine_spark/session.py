"""SparkSession factory with scale-aware defaults.

The reference engine is single-threaded psycopg2 (reference
``sqltools.py:48-64``); here every knob is chosen for a multi-executor
cluster while remaining correct on ``local[*]``:

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast selection replace all of the
  reference's hand-tuning (reference ``omni_db_schema.psql`` index zoo).
* Arrow on — every pandas_udf / applyInPandas boundary is
  Arrow-batched, never row-at-a-time pickling.
* shuffle.partitions sized for the local harness; on a real cluster
  AQE coalesces from a deliberately-high initial number, so this is
  safe to raise with the ``shuffle_partitions`` argument.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "omniengine-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults respect the harness env: ``SPARK_GRAFT_CPUS`` sets local
    parallelism.  The shuffle width is ``shuffle_partitions`` (default
    32); ``extra_conf`` sets any other Spark conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"

    # local[_] runs executors inside the driver JVM, whose default 1g
    # heap OOMs around sf1 (6M-row lineitem + cached CC frontiers).
    # On a real cluster this is spark.executor.memory; here one knob
    # sizes the single JVM.  Applies only when this process creates
    # the JVM — a harness-built session keeps the harness's setting.
    # Default derives from physical RAM (60%, capped at 48g): an -Xmx
    # larger than the machine doesn't fail fast, it grows until the
    # OS OOM-killer fires mid-job.  SPARK_GRAFT_DRIVER_MEM overrides
    # (e.g. "8g" for the spill-regime soak).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not driver_mem:
        try:
            phys_gb = (
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ) >> 30
            driver_mem = f"{max(2, min(48, int(phys_gb * 0.6)))}g"
        except (ValueError, OSError, AttributeError):
            driver_mem = "8g"
    # broadcast limit: 1/16 of the heap above its first GiB, at most
    # 64m (so 64m from a 2g heap up).  At a 1g heap on sf1, q18 failed
    # with "Not enough memory to build and broadcast" at 16m and more
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_mem.lower()).groups()
    heap_mib = int(num) * 1024 ** "kmgt".index(unit or "m") // 1024

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "8g")
        # --- adaptive execution: the scale story ---------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python boundary: always Arrow ---------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        )
        # --- scan shaping --------------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        # write timestamps as INT64 micros, not legacy INT96: INT96
        # columns carry NO parquet statistics and reject predicate
        # pushdown, so every date-range filter on engine-written
        # tables (warehouse sinks, Z-ordered layouts) would scan
        # everything — measured: zero row-group pruning on a
        # shipdate-clustered layout until this was set
        .config(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        # harness parquet carries naive timestamps; read them as UTC
        # TIMESTAMP_LTZ (session tz is pinned to UTC below) so
        # unix_micros, RANGE window frames, and stream watermarks —
        # all of which require TIMESTAMP — keep working.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast threshold: generous — every dim table in this
        # engine (region/nation/properties/rates) is tiny vs facts
        .config("spark.sql.autoBroadcastJoinThreshold",
                f"{min(64, max(0, heap_mib - 1024) // 16)}m")
        # quieter driver on the harness
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
