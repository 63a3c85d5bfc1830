"""Physical-plan shape assertions: the scale claims in the plan
docstrings, checked against explain() output so a regression in
pushdown / broadcast / codegen surfaces as a test failure, not a
silent slowdown at 100 TB.
"""

from __future__ import annotations

import re
from pathlib import Path

from omniengine_spark.plans import QUERIES

from .conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_p2_filters_and_projection_push_to_scan(spark):
    plan = _plan(spark, "p2_order_range_filter")
    assert "PushedFilters: [IsNotNull" in plan
    assert "LessThan(o_orderdate" in plan or "GreaterThanOrEqual(o_" in plan
    # column pruning: the scan must not read unused columns
    # (ReadSchema is truncated in toString, so assert on the head)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.startswith(" struct<o_orderkey")
    assert "o_custkey" not in read_schema


def test_j1_broadcasts_dimensions(spark):
    plan = _plan(spark, "j1_revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    # the fact-side join must not broadcast lineitem
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_t1_uses_top_k_not_global_sort(spark):
    plan = _plan(spark, "t1_top_orders")
    assert "TakeOrderedAndProject" in plan


def test_a4_has_partial_aggregation(spark):
    # map-side combine: partial aggregation below the exchange
    plan = _plan(spark, "a4_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_text_plans_have_no_python_udf(spark):
    for name in (
        "text_token_stats",
        "text_quality_score",
        "text_langid",
        "text_fingerprint",
        "dedup_exact",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_j8_anti_join_is_hash_join(spark):
    plan = _plan(spark, "j8_customers_without_orders")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_plans_are_pure_codegen(spark):
    # PQ encode/ADC is argmin + folds over literal codebooks — the
    # whole index build and scan must stay JVM-side (no Python stage)
    for name in ("sim_pq_ann_topk", "sim_ivfpq_ann_topk"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_countmin_probe_joins_are_broadcast(spark):
    # the sketch is at most D·W cells — every probe join must
    # broadcast it, never shuffle the probe side
    plan = _plan(spark, "stats_countmin_heavy_hitters")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "TakeOrderedAndProject" in plan  # top-20, not global sort


def test_session_window_avoids_window_sort_exchange(spark):
    # native session_window is a (merged-interval) aggregate — there
    # must be no window-function Sort+Window pair over the wide data
    plan = _plan(spark, "w9_session_window_native")
    assert "Window" not in plan.replace("session_window", "")


def test_dynamic_partition_pruning_on_warehouse_join(spark):
    """A partitioned-warehouse fact joined to a filtered dim must get
    a DPP filter: the scan reads only partitions matching the dim
    filter's keys, discovered at runtime — the optimizer feature that
    makes dim-filtered fact scans cheap at 100 TB."""
    from pyspark.sql import functions as F

    from omniengine_spark.sources import load_table
    from omniengine_spark.sources.sinks import (
        cleanup,
        scratch_dir,
        write_partitioned,
    )

    path = scratch_dir("dpp-fact")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        "user_id",
        (F.col("user_id") % 20).cast("long").alias("bucket"),
    )
    write_partitioned(ev, path, ["bucket"])
    fact = spark.read.parquet(path)
    dim = (
        spark.range(20)
        .select(F.col("id").alias("bucket"))
        .filter(F.col("bucket") < 3)
    )
    joined = fact.join(dim, "bucket").agg(F.count(F.lit(1)))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    try:
        assert (
            "dynamicpruning" in plan.lower()
            or "PartitionFilters: [" in plan
        ), plan[:2000]
    finally:
        cleanup(path)


def test_serving_filter_pushes_below_fold(spark):
    """serve_address_portfolio: the address predicate (a fold group
    key) must sit below the Aggregate in the optimized plan — the
    cluster folds one address's deltas, not the whole state — and the
    rate dim join must be broadcast."""
    from omniengine_spark.plans.serving import serve_address_portfolio

    df = serve_address_portfolio(spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    agg_pos = opt.find("Aggregate")
    assert agg_pos != -1
    assert opt.rfind("u42") > agg_pos, "address filter not pushed below fold"
    assert "BroadcastHashJoin" in _plan(spark, "serve_address_portfolio")


def test_serving_pages_use_top_k(spark):
    """Both serving pages (tx history, rich list) must compile to
    TakeOrderedAndProject, never a global sort."""
    for name in ("serve_address_tx_history", "serve_property_holders"):
        p = _plan(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_q6_is_scan_plus_scalar_agg(spark):
    """Q6: predicates pushed to the scan, no join, no wide exchange —
    just partial+final aggregate over a pruned parquet read."""
    plan = _plan(spark, "sql_q6_forecast_revenue")
    assert "Join" not in plan
    # PushedFilters is truncated in toString — assert on the prefix
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert plan.count("HashAggregate") >= 2


def test_q21_subqueries_become_semi_and_anti_joins(spark):
    """Q21: the correlated EXISTS / NOT EXISTS must decorrelate to
    hash semi/anti joins — a nested-loop here is quadratic in
    lineitem."""
    plan = _plan(spark, "sql_q21_sole_blame_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_derives_per_side_filters(spark):
    """Q19: the cross-side OR must stay a single equi-join with a
    residual — never a cartesian — and the implied IN(p_brand...)
    filter must reach the part scan."""
    plan = _plan(spark, "sql_q19_disjunctive_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-side implied filters: the brand/size disjunction reaches the
    # part scan, the quantity bounds reach the lineitem scan
    assert "Or(Or(And(EqualTo(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity" in plan


def test_q17_decorrelates_to_aggregate_join(spark):
    """Q17: the per-part average subquery becomes aggregate-then-join
    on l_partkey (lineitem scanned twice, never nested-looped)."""
    plan = _plan(spark, "sql_q17_small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan or "avg(" in plan


def test_ranking_plans_broadcast_term_dims_no_cartesian(spark):
    # TF-IDF / BM25: the per-term document-frequency dim must ride a
    # broadcast join; no cartesian product anywhere in either plan
    for name in ("text_tfidf_topk", "text_bm25_rank"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_bm25_top25_uses_take_ordered(spark):
    plan = _plan(spark, "text_bm25_rank")
    assert "TakeOrderedAndProject" in plan


def test_anomaly_zscore_broadcasts_moments(spark):
    # the per-group moment table (5 rows) must broadcast back into
    # the event scan, not shuffle the events on event_type
    plan = _plan(spark, "stats_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ohlc_single_shuffle_no_python(spark):
    plan = _plan(spark, "ts_ohlc_bars")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pq_adc_scan_carries_codes_not_vectors(spark):
    # the ADC scan joins codes (m, c ints) against a broadcast LUT —
    # reconstructed full-dimension vectors must NOT appear between
    # the encode and the shortlist (no flatten/collect_list of
    # centroid arrays in the executed plan)
    plan = _plan(spark, "sim_pq_ann_topk")
    assert "collect_list" not in plan
    assert "flatten" not in plan


def test_q2_correlated_min_decorrelates(spark):
    """Q2: the per-part min-cost scalar subquery must become an
    aggregate joined on p_partkey (no nested loop); dims broadcast and
    the top-100 is TakeOrderedAndProject."""
    plan = _plan(spark, "sql_q2_min_cost_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q11_scalar_total_no_nested_loop(spark):
    """Q11: the global-total scalar subquery over the same derived
    table must arrive as a subquery result, never a nested-loop
    join against every group."""
    plan = _plan(spark, "sql_q11_important_stock")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q16_not_in_plans_as_anti_join(spark):
    """Q16: the supplier denylist NOT IN must compile to a left-anti
    join (s_suppkey is non-null so no null-aware nested loop)."""
    plan = _plan(spark, "sql_q16_supplier_diversity")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    """Q20: both IN subqueries (including the one wrapping a
    correlated aggregate) must decorrelate to left-semi joins."""
    plan = _plan(spark, "sql_q20_recent_volume_suppliers")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_plans_leave_no_temp_views(spark):
    """Every ``sql_*`` plan binds its tables as ``spark.sql``
    arguments, so running them all leaves the session's temporary
    views as they were."""
    before = _temp_views(spark)
    for name in sorted(k for k in QUERIES if k.startswith("sql_")):
        QUERIES[name](spark, SF_SMOKE).count()
    assert _temp_views(spark) == before


def test_package_registers_no_temp_views():
    """No module under ``omniengine_spark/`` registers a session
    temporary view: SQL text binds its frames as ``spark.sql``
    arguments (``sql_plans.sql_query``), which Spark drops before the
    call returns."""
    pattern = re.compile(
        r"\b(?:create(?:OrReplace)?(?:Global)?TempView|registerTempTable)\("
    )
    pkg = Path(__file__).resolve().parents[1] / "omniengine_spark"
    found = {
        str(p.relative_to(pkg)): sorted(set(pattern.findall(p.read_text())))
        for p in sorted(pkg.rglob("*.py"))
    }
    assert not {k: v for k, v in found.items() if v}


def test_runtime_bloom_filter_reaches_probe_side(spark):
    """Runtime-filter capability pin: with a selective dim filter and
    a shuffle join, the optimizer injects a bloom_filter_agg built
    from the filtered dim and semi-filters the fact scan BEFORE the
    shuffle — at 100 TB this is the difference between shuffling the
    whole fact table and shuffling the ~matching fraction.  Size
    thresholds are lowered because the feature is sized for real
    warehouses, not sf0.001 fixtures."""
    import pyspark.sql.functions as F

    from omniengine_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_serve_phase_reuses_persisted_index(spark):
    """The bench's build/serve split is only honest if serving
    actually reuses the trained state: after one (building) call, a
    second sim_pq plan reads the committed index tables under the
    ``pq-index`` artifact root and never re-encodes the corpus (no md5
    seed selection in its plan) — and it holds no cached frame, so
    nothing depends on whether a caller ran clearCache."""
    from omniengine_spark.sources.sinks import artifact_root

    QUERIES["sim_pq_ann_topk"](spark, SF_SMOKE).collect()  # builds
    root = artifact_root("pq-index", SF_SMOKE, "embeddings.parquet")
    files = QUERIES["sim_pq_ann_topk"](spark, SF_SMOKE).inputFiles()
    assert any(root in f for f in files)
    plan = _plan(spark, "sim_pq_ann_topk")
    assert "md5(" not in plan
    assert "InMemoryTableScan" not in plan


def test_j9b_pruned_plan_skips_files(spark):
    """The gated-domain wiring of the data-skipping layer: the
    trailing-24 h plan must (a) hash the same rows as its full-scan
    twin j9 (stats-invariance — skipping is advisory), (b) actually
    hand Spark FEWER files than the committed book holds, and (c)
    resolve its anchor from the manifest, not a table scan — the scan
    count of the executed plan's input files proves both."""
    import datetime as dt

    from pyspark.sql import functions as F

    from omniengine_spark.plans.filesource_plans import _events_book
    from omniengine_spark.sources.versioned import (
        pruned_files,
        stats_minmax,
    )

    out = QUERIES["j9b_trailing_24h_pruned"](spark, SF_SMOKE)
    full = QUERIES["j9_trailing_24h_purchase_volume"](spark, SF_SMOKE)

    def fp(df):
        cols = sorted(df.columns)
        h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
        return tuple(
            df.select(h.cast("decimal(38,0)").alias("h"))
            .agg(F.sum("h"), F.count("h"))
            .collect()[0]
        )

    assert fp(out) == fp(full)

    path = _events_book(spark, SF_SMOKE)
    rng = stats_minmax(path, "ts")
    assert rng is not None  # anchor is planning-time metadata
    kept, total = pruned_files(
        path, {"ts": (rng[1] - dt.timedelta(days=1), None)}
    )
    assert 0 < len(kept) < total  # files actually skipped
    # the executed plan reads exactly the kept files
    assert sorted(out.inputFiles()) == sorted(
        f"file://{k}" if not k.startswith("file:") else k for k in kept
    )


def test_shuffle_bytes_ratchet():
    """Data-movement ratchet: the bench-dominant plans must not grow
    their measured shuffle-write bytes past 1.5× the recorded census
    (+8 MB slack) at the smoke sf.  Seconds hide movement; this fails
    the build when a plan starts shuffling more than it used to —
    re-record tools/shuffle_census.json deliberately if the growth is
    intended.  Runs ``tools/sweep.py --compare ratchet`` in a
    subprocess because the check needs its own JVM: the recorded
    figures were taken with 32 shuffle partitions, and the shared
    test session runs 8."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    census = repo / "tools" / "shuffle_census.json"
    if not census.exists() or SF_SMOKE not in json.loads(
        census.read_text()
    ):
        import pytest

        pytest.skip("no recorded sf0.001 shuffle census")
    # top plans only: full census in CI would double suite time
    top = [
        "dedup_clusters",
        "sim_lsh_ann_topk",
        "a15_address_stats",
        "x2_reorg_recompute",
        "dedup_semantic_prune",
        "graph_pagerank",
        "dedup_minhash_lsh",
        "quality_column_profile",
        "btc_wallet_clusters",
        "omni_genesis_fold",
    ]
    proc = subprocess.run(
        [sys.executable, str(repo / "tools" / "sweep.py"),
         "--compare", "ratchet", "--runs", "1",
         "--variant", f"smoke={SF_SMOKE},"
                      "conf.spark.sql.shuffle.partitions=32", *top],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_pruned_day_range_family_skips_files(spark):
    """Round-10 ask #4 — the j9b pattern spread across the day-range
    family: a5b (trailing-week daily stats), w8b (per-user 7-day
    spend) and s20 (a fixed week's daily totals) serve from the SAME
    shared events book, each reading
    exactly the files its window's footer-stat intersection keeps —
    strictly fewer than the book holds.  Anchors come from the stats
    manifest (no scan); correctness vs the full-scan statement is the
    driver's oracle check, so here we pin the SCAN, not the values."""
    import datetime as dt

    from omniengine_spark.plans.filesource_plans import _events_book
    from omniengine_spark.sources.versioned import (
        pruned_files,
        stats_minmax,
    )

    path = _events_book(spark, SF_SMOKE)
    rng = stats_minmax(path, "ts")
    assert rng is not None  # anchor is planning-time metadata
    anchor = rng[1]

    def norm(files):
        return sorted(
            f if f.startswith("file:") else f"file://{f}" for f in files
        )

    # a5b: rows kept ⇔ ts ≥ midnight of (anchor_day - 6)
    a5b = QUERIES["a5b_daily_stats_pruned"](spark, SF_SMOKE)
    lo = dt.datetime.combine(
        anchor.date() - dt.timedelta(days=6),
        dt.time.min,
        tzinfo=dt.timezone.utc,
    )
    kept, total = pruned_files(path, {"ts": (lo, None)})
    assert 0 < len(kept) < total
    assert norm(a5b.inputFiles()) == norm(kept)

    # w8b: trailing 7 days from the exact anchor
    w8b = QUERIES["w8b_trailing_7d_spend_pruned"](spark, SF_SMOKE)
    kept, total = pruned_files(
        path, {"ts": (anchor - dt.timedelta(days=7), None)}
    )
    assert 0 < len(kept) < total
    assert norm(w8b.inputFiles()) == norm(kept)

    # s20: the fixed week [2024-01-08, 2024-01-15) UTC
    s20 = QUERIES["s20_stats_skipping_scan"](spark, SF_SMOKE)
    kept, total = pruned_files(
        path,
        {
            "ts": (
                dt.datetime(2024, 1, 8, tzinfo=dt.timezone.utc),
                dt.datetime(2024, 1, 15, tzinfo=dt.timezone.utc)
                - dt.timedelta(microseconds=1),
            )
        },
    )
    assert 0 < len(kept) < total
    assert norm(s20.inputFiles()) == norm(kept)


def test_x1c_resume_reads_only_new_files(spark):
    """The incremental-step twin: the watermark between the base and
    delta commits is manifest metadata (stats_minmax, no scan), and
    the post-resume rollup's executed scan reads the delta files plus
    at most the base's boundary files — never the whole base batch."""
    from omniengine_spark.plans.filesource_plans import _events_incr_book
    from omniengine_spark.sources.versioned import pruned_files

    out = QUERIES["x1c_incremental_pruned_resume"](spark, SF_SMOKE)
    path, watermark = _events_incr_book(spark, SF_SMOKE)
    kept, total = pruned_files(path, {"ts": (watermark, None)})
    assert 0 < len(kept) < total

    def norm(files):
        return sorted(
            f if f.startswith("file:") else f"file://{f}" for f in files
        )

    assert norm(out.inputFiles()) == norm(kept)


def test_s21b_jdbc_read_is_parallel(spark):
    """The cluster-shaped serving read (round-10 ask #3): the JDBC
    scan must come back in numPartitions range slices, with the rows
    actually SPREAD across them (a skewed or mis-bounded partition
    column would funnel everything into one slice = a serial read
    with extra connections)."""
    out = QUERIES["s21b_jdbc_parallel_read"](spark, SF_SMOKE)
    assert out.rdd.getNumPartitions() == 4
    per_part = out.rdd.mapPartitions(
        lambda it: [sum(1 for _ in it)]
    ).collect()
    assert len(per_part) == 4
    assert sum(1 for c in per_part if c > 0) >= 3


def test_lsh_index_query_prunes_partition_dirs(spark):
    """The persisted LSH index must serve a query batch from its
    probed (t, shard) directories only: lsh_query_index collapses the
    batch's home+probe buckets to a static partition-column predicate
    (k-bounded collect, <= T·(1+n_probes)·|batch| pairs), so the entry
    scan carries a PartitionFilters disjunction instead of reading all
    T·2^shard_bits dirs.  A single query probes at most
    T·(1+n_probes) = 12 of the 64 directories."""
    from pyspark.sql import functions as F

    from omniengine_spark.operators import ann_index as AI
    from omniengine_spark.plans.similarity import _lsh_index_tables
    from omniengine_spark.sources import load_table

    entries, n_act = _lsh_index_tables(spark, SF_SMOKE, base_only=False)
    n_dirs = entries.select("t", "shard").distinct().count()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    one = emb.orderBy("vec_id").limit(1)
    out = AI.lsh_query_index(
        one, entries, "vec_id", "embedding",
        n_tables=4, n_act=n_act, n_probes=2, k=5,
        shard_bits=4, dim=64,
    )
    # the scan's Location is abbreviated to maxMetadataStringLength
    # (100) chars, which cuts "entries" from any longer checkout path
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    entry_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "entries" in ln
    ]
    assert entry_scans, plan[:2000]
    # the static probe-set predicate reached the partition filters
    assert any(
        "PartitionFilters: [" in ln and "shard" in ln.split(
            "PartitionFilters:"
        )[1][:400]
        for ln in entry_scans
    ), entry_scans[0][:1000]
    # ...and the bucket IN-list reached the parquet row-group level
    # (the writer sorts each dir's file by bucket, so these stats
    # actually skip)
    assert any(
        "PushedFilters: [In(bucket" in ln for ln in entry_scans
    ), entry_scans[0][:1000]
    # and it covers a strict subset of the index's directories
    probed = (
        AI.lsh_keyed(
            one, "vec_id", "embedding",
            n_tables=4, n_act=n_act, n_probes=2, dim=64,
        )
        .select(
            "t",
            F.shiftright("bucket", max(0, n_act - 4))
            .cast("long")
            .alias("shard"),
        )
        .distinct()
        .count()
    )
    assert probed <= 12 < n_dirs
    # one file per (t, shard) dir: the pre-commit repartition on the
    # partition keys holds the small-files problem at bay (without it:
    # one file per write task per dir, measured 1293 for 2000 rows)
    assert len(entries.inputFiles()) == n_dirs
