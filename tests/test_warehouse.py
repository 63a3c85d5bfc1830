"""X1/X2: incremental high-watermark batches + reorg-as-recompute.

The reference undoes state imperatively on reorg (sql.py:85-218);
this engine's warehouse is partitioned by event day and a reorg is a
dynamic partition overwrite of everything ≥ the fork point.  These
tests prove the replay property: incremental build == one-shot build,
and rewriting a suffix of partitions converges to the same state.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from omniengine_spark.sources import load_table
from omniengine_spark.sources.sinks import (
    read_warehouse,
    scratch_dir,
    write_partitioned,
)

from .conftest import SF_SMOKE, next_job_id


def _events_with_day(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    return ev.withColumn("day", F.to_date("ts"))


def _fingerprint(df):
    """Order-insensitive content hash of a DataFrame."""
    cols = sorted(df.columns)
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    agg = df.select(row_hash.cast("decimal(38,0)").alias("h")).agg(
        F.sum("h").alias("s"), F.count("h").alias("n")
    )
    return tuple(agg.collect()[0])


def test_incremental_equals_full(spark):
    ev = _events_with_day(spark)
    days = sorted(
        d[0] for d in ev.select("day").distinct().collect()
    )
    cut = days[len(days) // 2]

    full_path = scratch_dir("wh-full")
    incr_path = scratch_dir("wh-incr")
    try:
        write_partitioned(ev, full_path, ["day"])
        # high-watermark incremental: batch 1 = days ≤ cut, batch 2 = rest
        write_partitioned(
            ev.filter(F.col("day") <= F.lit(cut)), incr_path, ["day"]
        )
        write_partitioned(
            ev.filter(F.col("day") > F.lit(cut)), incr_path, ["day"]
        )
        assert _fingerprint(read_warehouse(spark, full_path, ev.schema)) == \
            _fingerprint(read_warehouse(spark, incr_path, ev.schema))
    finally:
        shutil.rmtree(full_path, ignore_errors=True)
        shutil.rmtree(incr_path, ignore_errors=True)


def test_reorg_overwrite_converges(spark):
    ev = _events_with_day(spark)
    days = sorted(
        d[0] for d in ev.select("day").distinct().collect()
    )
    fork = days[-2]  # reorg two days from the tip

    path = scratch_dir("wh-reorg")
    try:
        # corrupt history: the last two days written with values doubled
        bad_tail = ev.filter(F.col("day") >= F.lit(fork)).withColumn(
            "value", F.col("value") * 2
        )
        write_partitioned(ev.filter(F.col("day") < F.lit(fork)), path, ["day"])
        write_partitioned(bad_tail, path, ["day"])
        wrong = _fingerprint(read_warehouse(spark, path, ev.schema))

        # reorg: recompute partitions ≥ fork from the canonical stream
        write_partitioned(
            ev.filter(F.col("day") >= F.lit(fork)), path, ["day"]
        )
        fixed = _fingerprint(read_warehouse(spark, path, ev.schema))

        truth_path = scratch_dir("wh-truth")
        try:
            write_partitioned(ev, truth_path, ["day"])
            truth = _fingerprint(read_warehouse(spark, truth_path, ev.schema))
        finally:
            shutil.rmtree(truth_path, ignore_errors=True)

        assert wrong != truth
        assert fixed == truth
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_dynamic_overwrite_preserves_other_partitions(spark):
    ev = _events_with_day(spark)
    days = sorted(
        d[0] for d in ev.select("day").distinct().collect()
    )
    path = scratch_dir("wh-dyn")
    try:
        write_partitioned(ev, path, ["day"])
        before = read_warehouse(spark, path, ev.schema).count()
        # rewriting one day must not drop the others
        one_day = ev.filter(F.col("day") == F.lit(days[0]))
        write_partitioned(one_day, path, ["day"])
        assert read_warehouse(spark, path, ev.schema).count() == before
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _parquet_files(tbl):
    """Parquet files of the versioned table's current content."""
    from omniengine_spark.sources import versioned as V

    return V.pruned_files(tbl, {})[0]


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    from omniengine_spark.sources import versioned as V

    ev = _events_with_day(spark).select(
        "event_id", "user_id", "day"
    )
    tbl = str(tmp_path / "tbl")
    # per-batch appends: a seed and 5 deltas, each partitioned by day
    for i in range(6):
        V.commit(
            ev.filter(F.col("event_id") % 6 == i), tbl, f"batch{i}",
            partition_cols=["day"],
            base_version=V.current_version(tbl) if i else None,
        )
    fp_before = _fingerprint(V.read_version(spark, tbl))
    files_before = len(_parquet_files(tbl))

    V.compact(
        spark, tbl, partition_cols=["day"], cluster_by=["event_id"],
        n_files=4,
    )
    assert len(_parquet_files(tbl)) < files_before
    assert _fingerprint(V.read_version(spark, tbl)) == fp_before


def test_consensus_hash_recompute_stable(spark):
    """X7b: the per-block fingerprint is a pure function of the delta
    stream — a full recompute (the reorg story) reproduces it exactly,
    and tampering with one historical delta changes every fingerprint
    from that block on (the property consensus checking relies on,
    reference sql.py:221-229)."""
    from omniengine_spark.operators.reconcile import per_block_consensus

    rows = [
        ("a", 1, 10, 100), ("b", 1, 10, 50),
        ("a", 1, 11, -30), ("c", 2, 12, 7),
        ("b", 1, 13, 25), ("a", 1, 13, 5),
    ]
    cols = ["address", "propertyid", "block", "delta"]
    d1 = spark.createDataFrame(rows, cols)
    # same logical content, different arrival order/partitioning
    d2 = spark.createDataFrame(list(reversed(rows)), cols).repartition(7)
    fp1 = {r["block"]: r["consensus_hash"]
           for r in per_block_consensus(d1).collect()}
    fp2 = {r["block"]: r["consensus_hash"]
           for r in per_block_consensus(d2).collect()}
    assert fp1 == fp2 and len(fp1) == 4

    # tamper: drop one block-11 delta → hashes diverge at 11+, not 10
    d3 = spark.createDataFrame(
        [r for r in rows if r[2] != 11], cols
    )
    fp3 = {r["block"]: r["consensus_hash"]
           for r in per_block_consensus(d3).collect()}
    assert fp3[10] == fp1[10]
    assert all(fp3[b] != fp1[b] for b in (12, 13))


def _seed(spark, tbl, rows, cols):
    from omniengine_spark.sources import versioned as V

    V.commit(spark.createDataFrame(rows, cols), tbl, "seed")


def test_schema_migration_roundtrip(spark, tmp_path):
    """Migration runner: ordered apply, history in the manifest tags,
    idempotent re-run, non-contiguous patch rejected (upgrade.py's
    patch-file discipline on a parquet warehouse)."""
    import pytest as _pytest

    from omniengine_spark.sources.migrate import (
        Migration,
        add_column,
        migrate,
        migration_history,
        rename_column,
        schema_version,
    )
    from omniengine_spark.sources.versioned import read_version, vacuum

    path = str(tmp_path / "wh")
    _seed(spark, path, [(1, "HIGH", 10.0), (2, "LOW", 20.0)],
          ["k", "prio", "amt"])
    assert schema_version(path) == 0

    migs = [
        Migration(1, "add cents", add_column(
            "cents", F.round(F.col("amt") * 100).cast("long"))),
        Migration(2, "rename prio", rename_column("prio", "priority")),
    ]
    assert migrate(spark, path, migs) == 2
    assert schema_version(path) == 2
    assert migration_history(path) == [
        {"version": 1, "description": "add cents"},
        {"version": 2, "description": "rename prio"},
    ]
    got = {r["k"]: (r["priority"], r["cents"])
           for r in read_version(spark, path).collect()}
    assert got == {1: ("HIGH", 1000), 2: ("LOW", 2000)}

    # history counts retired tags: vacuum leaves the version at 2, and
    # the re-run finds nothing pending, fires no job, leaves content
    vacuum(path, keep_last=1, orphan_ttl_s=0.0)
    assert schema_version(path) == 2
    assert [h["version"] for h in migration_history(path)] == [1, 2]
    before = next_job_id(spark)
    assert migrate(spark, path, migs) == 2
    assert next_job_id(spark) == before
    assert {r["k"] for r in read_version(spark, path).collect()} == {1, 2}

    # partial upgrade honors to_version; resuming applies the rest
    path2 = str(tmp_path / "wh2")
    _seed(spark, path2, [(1, "X", 1.0)], ["k", "prio", "amt"])
    assert migrate(spark, path2, migs, to_version=1) == 1
    assert "cents" in read_version(spark, path2).columns
    assert "priority" not in read_version(spark, path2).columns
    assert migrate(spark, path2, migs) == 2
    assert "priority" in read_version(spark, path2).columns

    # a gap in versions is a hard error, not a silent skip
    path3 = str(tmp_path / "wh3")
    _seed(spark, path3, [(1,)], ["k"])
    with _pytest.raises(ValueError, match="non-contiguous"):
        migrate(spark, path3, [Migration(2, "skip", add_column("z", F.lit(0)))])


def test_migration_crash_before_and_after_publish_converges(
    spark, tmp_path, monkeypatch
):
    """A migration is a ``commit_once``, so its crash windows are the
    commit protocol's: (a) killed after the version dir is claimed and
    filled but before the manifest CAS — the orphan holds migrated rows
    no reader resolves, and the re-run commits past it; (b) killed
    after a publish but before ``migrate`` returns — the tag is
    committed, so the re-run applies only what is still pending.  Both
    converge to the right version and content, with each tag committed
    once."""
    import os

    import pytest as _pytest

    from omniengine_spark.sources import migrate as M
    from omniengine_spark.sources import versioned as V

    migs = [
        M.Migration(1, "add flag", M.add_column("flag", F.lit(1))),
        M.Migration(2, "rename k", M.rename_column("k", "key")),
    ]

    def converged(tbl, keys):
        assert M.schema_version(tbl) == 2
        df = V.read_version(spark, tbl)
        assert sorted((r["key"], r["flag"]) for r in df.collect()) == [
            (k, 1) for k in keys
        ]
        tags = [e["description"] for e in V.committed_entries(tbl)]
        assert sorted(tags) == [
            "migration 1: add flag", "migration 2: rename k", "seed",
        ]
        return df

    # (a) crash between claim and manifest CAS
    tbl = str(tmp_path / "wha")
    _seed(spark, tbl, [(1,), (2,)], ["k"])

    def crash(*a, **kw):
        raise RuntimeError("crash before the manifest CAS")

    with monkeypatch.context() as mp:
        mp.setattr(V, "_publish_version", crash)
        with _pytest.raises(RuntimeError, match="manifest CAS"):
            M.migrate(spark, tbl, migs)
    orphan = os.path.join(tbl, "v=2")
    assert {r["flag"] for r in spark.read.parquet(orphan).collect()} == {1}
    assert M.schema_version(tbl) == 0
    assert V.current_version(tbl) == 1

    assert M.migrate(spark, tbl, migs) == 2
    df = converged(tbl, [1, 2])
    assert 2 not in [e["version"] for e in V.version_history(tbl)]
    assert not any(f"{os.sep}v=2{os.sep}" in f for f in df.inputFiles())

    # (b) crash after migration 1 is published
    tbl2 = str(tmp_path / "whb")
    _seed(spark, tbl2, [(3,)], ["k"])
    real = M.commit_once

    def publish_then_crash(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("crash after the publish")

    with monkeypatch.context() as mp:
        mp.setattr(M, "commit_once", publish_then_crash)
        with _pytest.raises(RuntimeError, match="after the publish"):
            M.migrate(spark, tbl2, migs)
    assert M.schema_version(tbl2) == 1
    assert M.migrate(spark, tbl2, migs) == 2
    converged(tbl2, [3])
    before = next_job_id(spark)
    assert M.migrate(spark, tbl2, migs) == 2
    assert next_job_id(spark) == before


def test_compaction_splits_oversized_partition(spark, tmp_path):
    """A hot partition must compact into MULTIPLE files (range-
    clustered output), not one unsplittable file per partition
    value, while a cold partition stays one file."""
    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    # hot partition day=1 (50k rows), cold day=2 (100 rows)
    df = (
        spark.range(50_000)
        .select(
            F.lit(1).alias("day"),
            F.col("id"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        .unionAll(
            spark.range(100).select(
                F.lit(2).alias("day"),
                F.col("id"),
                F.sha2(F.col("id").cast("string"), 256).alias("pad"),
            )
        )
    )
    V.commit(df, tbl, "seed", partition_cols=["day"])
    fp_before = _fingerprint(V.read_version(spark, tbl))

    V.compact(
        spark, tbl, partition_cols=["day"], cluster_by=["id"], n_files=4
    )
    files = _parquet_files(tbl)
    hot_files = sum(1 for f in files if "/day=1/" in f)
    cold_files = sum(1 for f in files if "/day=2/" in f)
    assert hot_files > 1, hot_files
    assert cold_files == 1, cold_files
    assert _fingerprint(V.read_version(spark, tbl)) == fp_before


def test_incremental_lifecycle_converges_and_reorg_matters(spark):
    """omni_incremental_lifecycle == one-shot per-block consensus over
    the same stream (fingerprint-identical convergence), AND the
    orphaned-chain intermediate genuinely diverges — proving the
    dynamic-partition-overwrite reorg did real repair work rather
    than the corrupt batch being a no-op."""
    from omniengine_spark.operators.reconcile import per_block_consensus
    from omniengine_spark.pipeline import (
        expand_deltas,
        genesis_deltas,
        stamp_serials_distributed,
    )
    from omniengine_spark.plans.pipeline_plans import (
        _tx_stream,
        omni_incremental_lifecycle,
    )
    from omniengine_spark.sources.genesis import synthetic_genesis

    deltas = expand_deltas(
        stamp_serials_distributed(_tx_stream(spark, SF_SMOKE))
    ).select(
        "address",
        "propertyid",
        F.col("block").cast("long").alias("block"),
        F.col("delta_base_units").cast("decimal(38,0)").alias("delta"),
    )
    gen = genesis_deltas(synthetic_genesis(spark, SF_SMOKE)).select(
        "address",
        "propertyid",
        F.lit(0).cast("long").alias("block"),
        F.col("delta_base_units").cast("decimal(38,0)").alias("delta"),
    )
    one_shot = {
        r["block"]: r["consensus_hash"]
        for r in per_block_consensus(gen.unionByName(deltas)).collect()
    }

    incr = {
        r["block"]: r["consensus_hash"]
        for r in omni_incremental_lifecycle(spark, SF_SMOKE).collect()
    }
    assert incr == one_shot

    # the orphaned chain must NOT fingerprint like the truth: corrupt
    # the post-fork suffix the way the lifecycle's batch 3 does and
    # check the suffix hashes diverge (prefix stays identical)
    lo, hi = deltas.agg(F.min("block"), F.max("block")).collect()[0]
    q2 = lo + 2 * (hi - lo) // 3
    corrupt = deltas.withColumn(
        "delta",
        F.when(
            (F.col("block") > q2) & (F.col("block") < hi),
            F.col("delta") + 1,
        ).otherwise(F.col("delta")),
    )
    corrupted = {
        r["block"]: r["consensus_hash"]
        for r in per_block_consensus(
            gen.unionByName(corrupt)
        ).collect()
    }
    assert all(corrupted[b] == one_shot[b] for b in one_shot if b <= q2)
    assert any(
        corrupted[b] != one_shot[b] for b in one_shot if q2 < b < hi
    )


def test_versioned_warehouse_snapshot_isolation(spark, tmp_path):
    """Versions are immutable (a later commit can't change an earlier
    read), history survives commits + vacuum, unknown versions
    refuse, and the manifest swap is the commit point (a staged-only
    crash leaves the previous version current)."""
    from omniengine_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    v1 = V.commit(df1, path, "initial")
    df2 = spark.range(8).withColumnRenamed("id", "k")
    v2 = V.commit(df2, path, "grow")
    assert (v1, v2) == (1, 2)
    assert V.read_version(spark, path, 1).count() == 5
    assert V.read_version(spark, path).count() == 8
    assert [e["description"] for e in V.version_history(path)] == [
        "initial",
        "grow",
    ]

    # crash before manifest swap: a staged dir must not be visible
    import shutil

    shutil.copytree(f"{path}/v=2", f"{path}/v=3.staging")
    assert V.current_version(path) == 2
    V.commit(spark.range(2).withColumnRenamed("id", "k"), path, "v3")
    assert V.read_version(spark, path).count() == 2

    with _expect_value_error():
        V.read_version(spark, path, 99)

    retired = V.vacuum(path, keep_last=2)
    assert retired == [1]
    with _expect_value_error():
        V.read_version(spark, path, 1)
    assert V.read_version(spark, path, 2).count() == 8


def _expect_value_error():
    import pytest

    return pytest.raises(ValueError)


def test_versioned_commit_claims_skip_orphans(spark, tmp_path):
    """Crash/concurrency semantics of the versioned warehouse: a
    claimed-but-never-published version dir (a crashed writer) must
    (1) never be resolvable by readers, (2) be skipped past by later
    commits — no writer ever deletes another's claim — and (3) be
    retired by vacuum only BELOW the current version (above it could
    be a live concurrent commit mid-write)."""
    import os

    import pytest

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    assert V.commit(df1, tbl, "v1") == 1

    # simulate a writer that claimed v=2 and crashed before publish
    os.mkdir(os.path.join(tbl, "v=2"))
    # ...and a live writer currently holding v=9 (above current)
    os.mkdir(os.path.join(tbl, "v=9"))

    # next commit skips BOTH claimed dirs instead of destroying them
    v = V.commit(df1.withColumn("k", F.col("k") + 100), tbl, "next")
    assert v == 3
    assert V.current_version(tbl) == 3

    # the orphan is invisible to readers
    with pytest.raises(ValueError):
        V.read_version(spark, tbl, 2)

    # a YOUNG below-current claim is protected by the orphan TTL: it
    # may be a slow in-flight commit that a faster writer overtook —
    # "below current and unpublished" alone does not prove it is dead
    V.vacuum(tbl, keep_last=5)
    assert os.path.exists(os.path.join(tbl, "v=2"))
    # once the claim has been dead past the TTL, vacuum retires it
    V.vacuum(tbl, keep_last=5, orphan_ttl_s=0.0)
    assert not os.path.exists(os.path.join(tbl, "v=2"))
    assert os.path.exists(os.path.join(tbl, "v=9"))
    # published versions intact
    assert V.read_version(spark, tbl, 1).count() == 5
    assert V.read_version(spark, tbl, 3).count() == 5


def _stress_writer(args):
    """One racing warehouse writer: claim → write marker → CAS
    publish, M times.  Module-level so multiprocessing can pickle it;
    pure file-protocol (no Spark) — it exercises the exact claim +
    publish code paths ``commit`` uses around the parquet write."""
    import pathlib

    from omniengine_spark.sources import versioned as V

    tbl, writer_id, n_commits = args
    out = []
    for i in range(n_commits):
        ver, d = V._claim_version(tbl, V.current_version(tbl) + 1)
        (pathlib.Path(d) / "marker.txt").write_text(f"{writer_id}:{i}")
        V._publish_version(tbl, ver, f"w{writer_id}c{i}")
        out.append(ver)
    return out


def test_versioned_concurrent_publish_no_lost_versions(tmp_path):
    """N writer processes × M commits race the manifest CAS: every
    claimed version must appear in the final manifest exactly once —
    the lost-update invariant that a timeout-broken lock file cannot
    guarantee (its stat→unlink break window can hand two writers the
    same read-modify-write).  The CAS log makes losing an entry
    impossible by construction; this pins it empirically."""
    import multiprocessing as mp
    import os

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)
    n_writers, n_commits = 8, 12
    ctx = mp.get_context("fork")
    with ctx.Pool(n_writers) as pool:
        claimed = pool.map(
            _stress_writer,
            [(tbl, w, n_commits) for w in range(n_writers)],
        )
    all_claimed = sorted(v for vs in claimed for v in vs)
    # distinct claims (exclusive mkdir guarantees it)
    assert len(set(all_claimed)) == n_writers * n_commits
    history = V.version_history(tbl)
    published = [e["version"] for e in history]
    # no lost manifest versions, exactly once each, sorted history
    assert published == all_claimed
    assert V.current_version(tbl) == max(all_claimed)
    # every published version's data survived publication intact
    for e in history[:5] + history[-5:]:
        marker = os.path.join(tbl, f"v={e['version']}", "marker.txt")
        assert os.path.exists(marker)
    # vacuum under the same manifest state stays consistent
    retired = V.vacuum(tbl, keep_last=3, orphan_ttl_s=0.0)
    assert retired == all_claimed[:-3]
    assert [e["version"] for e in V.version_history(tbl)] == all_claimed[-3:]


def test_versioned_publish_gc_aba_guard(tmp_path):
    """A writer that read sequence S, then stalled while enough newer
    manifests landed that GC vacated the S+1 slot, must NOT win by
    linking into the vacated slot: readers resolve the HIGHEST
    sequence, so that 'win' would be an invisible manifest — the lost
    update the module docstring rules out.  The publish must detect
    the higher surviving sequence, retract its link, and report the
    CAS as lost so the caller retries on top of the real chain."""
    import os

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)

    # writer A reads the manifest at sequence 1
    V._publish_version(tbl, 1, "v1")
    stale_manifest, stale_seq = V._load_manifest_seq(tbl)
    assert stale_seq == 1

    # meanwhile other writers publish far past the GC horizon:
    # sequence 2's file is GC'd once _KEEP_MANIFESTS newer ones exist
    for v in range(2, 2 + V._KEEP_MANIFESTS + 3):
        V._publish_version(tbl, v, f"v{v}")
    assert not os.path.exists(os.path.join(tbl, "_manifest.2.json"))
    newest_before = max(s for s, _ in V._manifest_log(tbl))

    # writer A wakes up and CASes on its stale read: the S+1 slot is
    # vacant, so the raw os.link succeeds — the guard must demote it
    stale_manifest["current"] = 999
    stale_manifest["versions"].append(
        {"version": 999, "description": "stale-branch"}
    )
    assert V._publish_manifest(tbl, stale_manifest, stale_seq) is False
    # the dead-branch file was retracted, the real chain is untouched
    assert not os.path.exists(os.path.join(tbl, "_manifest.2.json"))
    assert max(s for s, _ in V._manifest_log(tbl)) == newest_before
    assert V.current_version(tbl) == 2 + V._KEEP_MANIFESTS + 2
    assert all(
        e["description"] != "stale-branch"
        for e in V.version_history(tbl)
    )

    # the full retry loop lands the update on top of the winner chain
    V._publish_version(tbl, 999, "retried")
    assert V.current_version(tbl) == 999
    assert V.version_history(tbl)[-1]["description"] == "retried"


def test_versioned_compact_squashes_delta_chain(spark, tmp_path):
    """A linear delta chain pins all its ancestors (vacuum keeps
    transitive bases), so reads fan into one dir per ingest forever.
    compact() commits the current content as a base-less snapshot:
    content identical, and the NEXT vacuum retires the entire old
    chain because nothing kept depends on it anymore."""
    import os

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    V.commit(spark.range(0, 5).toDF("id"), tbl, "base")
    for i in range(3):
        V.commit(
            spark.range(5 + 2 * i, 7 + 2 * i).toDF("id"),
            tbl,
            f"delta{i}",
            base_version=V.current_version(tbl),
        )
    full = set(range(11))
    assert {
        r["id"] for r in V.read_version(spark, tbl).collect()
    } == full
    # chain pinned: vacuum can retire nothing
    assert V.vacuum(tbl, keep_last=1, orphan_ttl_s=0.0) == []

    snap = V.compact(spark, tbl, "squash")
    assert {
        r["id"] for r in V.read_version(spark, tbl).collect()
    } == full
    assert "base" not in V.version_history(tbl)[-1]
    # old chain now unpinned: one vacuum retires all four versions
    retired = V.vacuum(tbl, keep_last=1, orphan_ttl_s=0.0)
    assert sorted(retired) == [1, 2, 3, 4]
    assert [e["version"] for e in V.version_history(tbl)] == [snap]
    assert {
        r["id"] for r in V.read_version(spark, tbl).collect()
    } == full
    assert not os.path.exists(os.path.join(tbl, "v=1"))


def test_delta_commit_conflict_is_detected(spark, tmp_path):
    """Optimistic concurrency for delta commits: a delta whose base is
    no longer the tip must RAISE, not fork the chain (two deltas on
    one base would silently drop the earlier one from the current
    content).  Snapshots stay last-writer-wins."""
    import pytest as _pytest

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id")
    )
    V.commit(df(0, 3), tbl, "snapshot")
    stale_base = V.current_version(tbl)
    V.commit(df(3, 6), tbl, "delta-1", base_version=stale_base)

    # same base, second writer: conflict, manifest unchanged
    before = V.version_history(tbl)
    with _pytest.raises(V.DeltaConflictError):
        V.commit(df(6, 9), tbl, "delta-2", base_version=stale_base)
    assert V.version_history(tbl) == before

    # recovery: recompute against the NEW tip and re-commit
    V.commit(
        df(6, 9), tbl, "delta-2", base_version=V.current_version(tbl)
    )
    assert {
        r["id"] for r in V.read_version(spark, tbl).collect()
    } == set(range(9))
    # the conflicting attempt's claimed dir is an orphan the manifest
    # never references; concurrent snapshot commits still don't raise
    V.commit(df(0, 2), tbl, "snapshot-2")
    assert {
        r["id"] for r in V.read_version(spark, tbl).collect()
    } == {0, 1}


def test_stats_manifest_file_skipping(spark, tmp_path):
    """Commit-time footer stats → planning-time file skipping: the
    pruned read hands Spark strictly fewer files, the result (after
    the exact filter) is identical to the full read, a predicate on a
    column without stats keeps everything, and a window outside the
    data's range yields a schema-stable empty frame."""
    import datetime as dt
    import json

    from omniengine_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit(dt.date(2024, 1, 1)), (F.col("id") % 30).cast("int")
        ).alias("day"),
        (F.col("id") * 7 % 100).alias("cents"),
    )
    V.commit(
        df.repartitionByRange(10, "day"),
        path,
        "day-ranged",
        stats_cols=["day"],
    )
    stats = json.loads((tmp_path / "tbl" / "v=1" / "_stats.json").read_text())
    assert stats["cols"] == ["day"] and len(stats["files"]) == 10

    lo, hi = dt.date(2024, 1, 10), dt.date(2024, 1, 12)
    kept, total = V.pruned_files(path, {"day": (lo, hi)})
    assert total == 10 and 0 < len(kept) < total

    full = V.read_version(spark, path).filter(
        (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi))
    )
    pruned = V.read_version(spark, path, prune={"day": (lo, hi)}).filter(
        (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi))
    )
    assert _fingerprint(pruned) == _fingerprint(full)

    # no stats for the column: advisory skipping keeps every file
    kept_k, total_k = V.pruned_files(path, {"k": (0, 1)})
    assert len(kept_k) == total_k

    # fully out-of-range window: empty but schema-stable
    empty = V.read_version(
        spark, path, prune={"day": (dt.date(2030, 1, 1), None)}
    )
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "day", "cents"}


def test_stats_pruning_domains_and_bound_validation(spark, tmp_path):
    """Round-10 pruning hardening: (a) the stats manifest tags each
    stat's value domain and a bound only ever orders against a stat
    of the same domain — a date bound against an epoch-seconds
    TIMESTAMP stat keeps every file instead of silently skipping all
    of them (date ordinals ~739000 < any epoch seconds ~1.7e9);
    (b) a non-None bound of an un-orderable type raises instead of
    silently disabling pruning; (c) naive-datetime bounds widen by a
    day so session-timezone skew can't wrongly skip boundary files;
    (d) the manifest records the COMPLETE file list so a pruned read
    never walks the filesystem for a stats-committed dir."""
    import datetime as dt
    import json

    import pytest

    from omniengine_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        (
            F.lit(dt.datetime(2024, 1, 1))
            + F.make_interval(days=(F.col("id") % 30).cast("int"))
        ).alias("ts"),
    )
    V.commit(
        df.repartitionByRange(6, "ts"), path, "ts-ranged",
        stats_cols=["ts", "k"],
    )
    stats = json.loads((tmp_path / "tbl" / "v=1" / "_stats.json").read_text())
    assert len(stats["files"]) == 6
    # every stat carries its domain tag
    assert all(
        e["ts"][2] == "tsu" and e["k"][2] == "num"
        for e in stats["files"].values()
    )

    # (a) date bounds vs ts stats: cross-domain → keep everything
    kept, total = V.pruned_files(
        path, {"ts": (dt.date(2024, 1, 10), dt.date(2024, 1, 12))}
    )
    assert total == 6 and len(kept) == 6

    # tz-aware datetime bounds prune exactly
    lo = dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 12, tzinfo=dt.timezone.utc)
    kept_ts, _ = V.pruned_files(path, {"ts": (lo, hi)})
    assert 0 < len(kept_ts) < 6
    pruned = V.read_version(spark, path, prune={"ts": (lo, hi)}).filter(
        F.col("ts").between(
            F.lit(dt.datetime(2024, 1, 10)), F.lit(dt.datetime(2024, 1, 12))
        )
    )
    full = V.read_version(spark, path).filter(
        F.col("ts").between(
            F.lit(dt.datetime(2024, 1, 10)), F.lit(dt.datetime(2024, 1, 12))
        )
    )
    assert _fingerprint(pruned) == _fingerprint(full)

    # (c) naive bounds widen by a day each side: still prune (a 2-day
    # window over 30 days of data), but keep strictly more than the
    # exact tz-aware window when the day slack spans extra files
    kept_naive, _ = V.pruned_files(
        path,
        {"ts": (dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12))},
    )
    assert set(kept_ts) <= set(kept_naive) and len(kept_naive) < 6

    # planning-time global range: exact min/max with no Spark job
    rng = V.stats_minmax(path, "ts")
    assert rng == (
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 30, tzinfo=dt.timezone.utc),
    )
    assert V.stats_minmax(path, "nope") is None

    # (b) un-orderable user bound is a loud error, not silent no-op
    with pytest.raises(TypeError):
        V.pruned_files(path, {"k": (True, None)})
    with pytest.raises(TypeError):
        V.pruned_files(path, {"k": ([1, 2], None)})

    # (d) complete manifest is the listing: a parquet file dropped
    # into the dir AFTER commit is invisible to pruned_files (the
    # immutable-version contract — readers resolve manifested content)
    stray = tmp_path / "tbl" / "v=1" / "stray.parquet"
    spark.range(1).toPandas().to_parquet(stray)
    kept2, total2 = V.pruned_files(path, {"k": (0, None)})
    assert total2 == 6 and not any("stray" in f for f in kept2)


def test_stats_skipping_composes_with_delta_chain(spark, tmp_path):
    """A delta commit carries its own ``_stats.json``; pruning walks
    the whole base chain file-by-file, so a window that only the
    delta's rows can satisfy reads the delta's files and skips the
    base's — shard-cost reads over an incrementally grown table."""
    import datetime as dt

    from omniengine_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    mk = lambda d0, days, n: spark.range(n).select(  # noqa: E731
        F.col("id").alias("k"),
        F.date_add(
            F.lit(d0), (F.col("id") % days).cast("int")
        ).alias("day"),
    )
    v1 = V.commit(
        mk(dt.date(2024, 1, 1), 10, 400).repartitionByRange(4, "day"),
        path,
        "base: january",
        stats_cols=["day"],
    )
    V.commit(
        mk(dt.date(2024, 2, 1), 5, 100).repartitionByRange(2, "day"),
        path,
        "delta: february shard",
        base_version=v1,
        stats_cols=["day"],
    )
    lo = dt.date(2024, 2, 1)
    kept, total = V.pruned_files(path, {"day": (lo, None)})
    assert total == 6 and len(kept) == 2
    assert all("v=2" in f for f in kept)
    got = V.read_version(spark, path, prune={"day": (lo, None)}).filter(
        F.col("day") >= F.lit(lo)
    )
    assert got.count() == 100


def test_jdbc_publish_atomic_under_reader_race(spark):
    """Derby's answer to concurrent overwrite+read, pinned (round-10
    ask #6): plain ``df.write.jdbc(mode="overwrite")`` is drop +
    create + one INSERT TRANSACTION PER PARTITION, so a racing reader
    can legally observe k-of-n partition subsets — partition-level
    tearing.  ``sinks.jdbc_publish`` swaps a fully-loaded staging
    table into place in ONE DDL transaction; under READ_COMMITTED a
    reader either blocks on the swap's exclusive lock and then sees a
    complete generation, or fails cleanly (lock timeout / no such
    table during its schema probe) — it never returns a mixed or
    partial snapshot.  The reader here hammers a raw same-JVM Derby
    cursor while four generations publish; every successful read must
    be (count == N, single generation)."""
    import threading

    from omniengine_spark.sources.sinks import jdbc_publish

    base = scratch_dir("jdbc-race")
    spark._jvm.System.setProperty("derby.system.home", base)
    url = f"jdbc:derby:{base}/racedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    n_rows = 400

    def gen_df(g):
        return spark.range(n_rows).select(
            F.col("id").alias("k"),
            F.lit(g).cast("long").alias("generation"),
        )

    jdbc_publish(gen_df(1), url, "served", props)

    stop = threading.Event()
    observed: list[tuple] = []
    clean_errors: list[str] = []

    def reader():
        jvm = spark._jvm
        jvm.java.lang.Class.forName(props["driver"])
        while not stop.is_set():
            try:
                conn = jvm.java.sql.DriverManager.getConnection(url)
                try:
                    st = conn.createStatement()
                    # Spark's JDBC writer quotes identifiers, so the
                    # column is case-sensitive lowercase in Derby
                    rs = st.executeQuery(
                        'SELECT COUNT(*), MIN("generation"),'
                        ' MAX("generation") FROM served'
                    )
                    rs.next()
                    observed.append(
                        (rs.getLong(1), rs.getLong(2), rs.getLong(3))
                    )
                    rs.close()
                    st.close()
                finally:
                    conn.close()
            except Exception as exc:  # clean failure is allowed
                clean_errors.append(str(exc))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for g in range(2, 6):
            jdbc_publish(gen_df(g), url, "served", props)
    finally:
        stop.set()
        t.join(timeout=60)

    assert observed, "reader never completed a single read"
    for n, lo, hi in observed:
        assert lo == hi, f"mixed generations in one read: {lo}..{hi}"
        assert n == n_rows, f"partial snapshot: {n}/{n_rows} rows"
    # the final state is the last generation, complete
    final = spark.read.jdbc(url, "served", properties=props)
    assert final.count() == n_rows
    assert final.agg(F.min("generation"), F.max("generation")).collect()[
        0
    ] == (5, 5)


def test_compact_carries_stats_manifest_through_squash(spark, tmp_path):
    """The LSM rhythm must not retire the skipping layer: delta
    commits carry per-file stats manifests, and compact() (by
    default) re-scrapes the SAME stat columns for its snapshot — a
    squash that dropped them would silently turn pruned reads into
    keep-everything scans and metadata anchors into table scans,
    exactly when the table got big enough to compact."""
    import datetime as dt

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    days = [dt.datetime(2024, 1, d + 1) for d in range(8)]
    df = spark.createDataFrame(
        [(i, days[i % 8]) for i in range(64)], "id long, ts timestamp"
    )
    V.commit(
        df.filter(F.col("ts") < F.lit(days[4]))
        .repartitionByRange(4, "ts"),
        tbl,
        "base",
        stats_cols=["ts"],
    )
    V.commit(
        df.filter(F.col("ts") >= F.lit(days[4]))
        .repartitionByRange(4, "ts"),
        tbl,
        "delta",
        base_version=V.current_version(tbl),
        stats_cols=["ts"],
    )
    rng_before = V.stats_minmax(tbl, "ts")
    assert rng_before is not None

    snap = V.compact(spark, tbl, "squash")
    V.vacuum(tbl, keep_last=1, orphan_ttl_s=0.0)
    assert [e["version"] for e in V.version_history(tbl)] == [snap]

    # anchor still provable from metadata, same range as pre-squash
    rng = V.stats_minmax(tbl, "ts")
    assert rng == rng_before
    # and the window read still skips files
    lo = rng[1] - dt.timedelta(days=1)
    kept, total = V.pruned_files(tbl, {"ts": (lo, None)})
    assert 0 < len(kept) < total

    # explicit opt-out: stats_cols=[] drops the manifest deliberately
    V.commit(
        df.limit(1), tbl, "delta2", base_version=snap, stats_cols=["ts"]
    )
    snap2 = V.compact(spark, tbl, "squash-nostats", stats_cols=[])
    assert V.stats_minmax(tbl, "ts", version=snap2) is None


def test_compact_clustered_keeps_pruning_tight(spark, tmp_path):
    """Carrying stats through the squash is not enough if the rewrite
    scrambles the layout (every output file then spans near the full
    ts range — manifest intact, pruning useless).  cluster_by range-
    partitions the snapshot, so a narrow window keeps FEW files, not
    merely fewer-than-all."""
    import datetime as dt

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    n_days = 32
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i % n_days))
        for i in range(n_days * 8)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    half = dt.datetime(2024, 1, 1) + dt.timedelta(days=n_days // 2)
    V.commit(
        df.filter(F.col("ts") < F.lit(half)).repartitionByRange(8, "ts"),
        tbl, "base", stats_cols=["ts"],
    )
    V.commit(
        df.filter(F.col("ts") >= F.lit(half)).repartitionByRange(8, "ts"),
        tbl, "delta", base_version=V.current_version(tbl),
        stats_cols=["ts"],
    )
    V.compact(spark, tbl, "squash", cluster_by=["ts"])
    V.vacuum(tbl, keep_last=1, orphan_ttl_s=0.0)

    rng = V.stats_minmax(tbl, "ts")
    assert rng is not None
    kept, total = V.pruned_files(
        tbl, {"ts": (rng[1] - dt.timedelta(days=1), None)}
    )
    # 32 days over ~16 clustered files → a 1-day tail keeps O(1)
    # files, not merely < total
    assert total >= 12
    assert 0 < len(kept) <= 3
    # content survived the clustered rewrite
    assert V.read_version(spark, tbl).count() == n_days * 8


def test_read_version_schema_from_manifest(spark, tmp_path):
    """Each manifest entry carries its version's data schema, so
    ``read_version`` builds its frame without a schema-inference job.
    For a snapshot, a delta chain, a partitioned table, a pruned read
    and an all-skipped pruned read, the schema (partition column
    types included, ``v`` dropped) and the rows equal those of the
    inferred read of the same dirs or files; with the entries'
    schemas stripped the read falls back to inference and still
    matches."""
    import datetime as dt
    import json
    from decimal import Decimal

    from omniengine_spark.sources import versioned as V

    rows = [
        (
            i,
            f"addr{i % 7}",
            Decimal(i) / 4,
            dt.date(2024, 1, 1) + dt.timedelta(days=i % 20),
            dt.datetime(2024, 1, 1, 6) + dt.timedelta(hours=i),
            [float(i), float(-i)],
            i % 4,
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "k long not null, addr string, amt decimal(18,2), day date,"
        " ts timestamp, vec array<double>, cluster long",
    )
    snap, chain, part = (str(tmp_path / n) for n in ("snap", "chain", "part"))
    V.commit(df, snap, "snapshot")
    v1 = V.commit(df.filter("k < 120"), chain, "base")
    V.commit(df.filter("k >= 120"), chain, "delta", base_version=v1)
    V.commit(
        df.repartitionByRange(5, "day"),
        part,
        "partitioned",
        partition_cols=["cluster"],
        stats_cols=["day"],
    )

    def inferred(path, files):
        reader = spark.read.option("basePath", path)
        return reader.parquet(*files).drop("v")

    lo, hi = dt.date(2024, 1, 3), dt.date(2024, 1, 5)
    kept, total = V.pruned_files(part, {"day": (lo, hi)})
    assert 0 < len(kept) < total
    cases = [
        (lambda: V.read_version(spark, snap),
         lambda: spark.read.parquet(f"{snap}/v=1")),
        (lambda: V.read_version(spark, chain),
         lambda: inferred(chain, [f"{chain}/v=1", f"{chain}/v=2"])),
        (lambda: V.read_version(spark, part),
         lambda: spark.read.parquet(f"{part}/v=1")),
        (lambda: V.read_version(spark, part, prune={"day": (lo, hi)}),
         lambda: inferred(part, kept)),
        (lambda: V.read_version(
            spark, part, prune={"day": (dt.date(2030, 1, 1), None)}),
         lambda: inferred(part, [f"{part}/v=1"]).limit(0)),
    ]
    for got_fn, want_fn in cases:
        before = next_job_id(spark)
        got = got_fn()
        got_schema = got.schema
        assert next_job_id(spark) == before  # no build-time job
        want = want_fn()
        assert got_schema == want.schema
        assert "v" not in got.columns
        assert sorted(got.collect()) == sorted(want.collect())
    assert dict(V.read_version(spark, part).dtypes)["cluster"] == "int"

    # legacy entries (no schema): the inferred read, same answers
    for name in ("snap", "chain", "part"):
        seq_file = max(
            (tmp_path / name).glob("_manifest.*.json"),
            key=lambda p: int(p.name.split(".")[1]),
        )
        manifest = json.loads(seq_file.read_text())
        assert all("schema" in e for e in manifest["versions"])
        for e in manifest["versions"]:
            del e["schema"]
        seq_file.write_text(json.dumps(manifest))
    for got_fn, want_fn in cases:
        got, want = got_fn(), want_fn()
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


def _never():
    raise AssertionError("build called for a committed tag")


def test_commit_once_skips_every_committed_tag(spark, tmp_path):
    """``commit_once`` is the one build-once rule: a tag carried by any
    manifest entry — the tip, an earlier version, or one ``vacuum``
    retired after ``compact`` — is never rebuilt or recommitted, and
    the skip fires no Spark job."""
    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    a = V.commit_once(tbl, "a", lambda: spark.range(0, 3))
    b = V.commit_once(tbl, "b", lambda: spark.range(3, 6), delta=True)
    assert b["base"] == a["version"]

    before = next_job_id(spark)
    assert V.commit_once(tbl, "a", _never) == a  # not the tip
    assert V.commit_once(tbl, "b", _never, delta=True) == b
    assert next_job_id(spark) == before
    assert [e["description"] for e in V.version_history(tbl)] == ["a", "b"]

    V.compact(spark, tbl, "squash")
    retired = V.vacuum(tbl, keep_last=1, orphan_ttl_s=0.0)
    assert sorted(retired) == [a["version"], b["version"]]
    seq = V._load_manifest_seq(tbl)[1]
    assert V.commit_once(tbl, "a", _never)["version"] == a["version"]
    assert V.commit_once(tbl, "b", _never, delta=True) == b
    assert V._load_manifest_seq(tbl)[1] == seq
    assert {r["id"] for r in V.read_version(spark, tbl).collect()} == set(
        range(6)
    )


def test_commit_once_stale_delta_base_raises(spark, tmp_path, monkeypatch):
    """A delta ``commit_once`` whose base is no longer the tip raises
    ``DeltaConflictError`` and leaves its tag uncommitted; the retry
    bases the delta on the new tip, and later calls reuse it."""
    import pytest as _pytest

    from omniengine_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    base = V.commit_once(tbl, "base", lambda: spark.range(0, 3))
    other = V.commit_once(
        tbl, "other", lambda: spark.range(3, 6), delta=True
    )
    with monkeypatch.context() as m:
        m.setattr(V, "current_version", lambda path: base["version"])
        with _pytest.raises(V.DeltaConflictError):
            V.commit_once(tbl, "mine", lambda: spark.range(6, 9), delta=True)
    assert "mine" not in [e["description"] for e in V.version_history(tbl)]

    mine = V.commit_once(tbl, "mine", lambda: spark.range(6, 9), delta=True)
    assert mine["base"] == other["version"]
    assert V.commit_once(tbl, "mine", _never, delta=True) == mine
    assert {r["id"] for r in V.read_version(spark, tbl).collect()} == set(
        range(9)
    )


def test_plans_build_artifacts_only_through_commit_once():
    """No plan or operator module compares a manifest description or
    names an artifact root itself: ``versioned.commit_once`` is the one
    build-once rule and ``sinks.artifact_root`` the one root naming."""
    import re
    from pathlib import Path

    pattern = re.compile(
        r"""\[["']description["']\]\s*(?:==|!=|not\s+in\b|in\b)"""
        r"|\bdataset_fingerprint\(|\bstable_scratch_dir\("
    )
    pkg = Path(__file__).resolve().parents[1] / "omniengine_spark"
    found = {
        str(p.relative_to(pkg)): sorted(set(pattern.findall(p.read_text())))
        for sub in ("plans", "operators")
        for p in sorted((pkg / sub).rglob("*.py"))
    }
    assert not {k: v for k, v in found.items() if v}


def test_only_versioned_renames_table_dirs():
    """No package module but ``sources/versioned.py`` renames a path:
    ``versioned.commit`` (claim a new version dir, CAS the manifest) is
    the one publish of a rewritten table, so no second rename-swap
    protocol with its own crash windows can come back."""
    import re
    from pathlib import Path

    pattern = re.compile(r"\.rename\(")
    pkg = Path(__file__).resolve().parents[1] / "omniengine_spark"
    found = {
        str(p.relative_to(pkg)): len(pattern.findall(p.read_text()))
        for p in sorted(pkg.rglob("*.py"))
        if p.relative_to(pkg) != Path("sources/versioned.py")
    }
    assert not {k: n for k, n in found.items() if n}
