"""Session state: the memo store, the plan-call scope, the scratch-dir
allocator, and the partition-distributed write layout.

The memo store reuses UNEXECUTED logical plans and session-built
artifacts, and each plan call releases what its plan's previous call
held — these tests pin the properties that keep that safe and
bounded: same-session/same-file hits, file-identity invalidation (a
rewritten table replaces its entry and is never served a stale plan),
a new application id dropping every entry and call record, zero result
caching (actions recompute from parquet), trained index state that
holds no cached storage, and a session that runs its plans on one
dataset copy and then another holding no more than after the first and
nothing of it.  The allocator tests pin its one pruning rule.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

from pyspark.sql import functions as F

from omniengine_spark.sources import sinks
from omniengine_spark.sources.catalog import (
    _CALLS,
    _SESSION_MEMO,
    load_table,
    path_signature,
    session_memo,
)

from .conftest import SF_SMOKE, next_job_id


def test_load_table_memo_hits_same_session(spark):
    a = load_table(spark, SF_SMOKE, "region")
    b = load_table(spark, SF_SMOKE, "region")
    assert a is b  # identical unexecuted plan object, no re-read
    # and distinct tables / sf dirs get distinct entries
    c = load_table(spark, SF_SMOKE, "nation")
    assert c is not a


def test_load_table_memo_invalidates_on_rewrite(spark, tmp_path):
    src = tmp_path / "t.parquet"
    spark.range(3).toPandas().to_parquet(src)
    a = spark.read.parquet(str(src))  # warm the reader path
    df1 = load_table(spark, str(tmp_path), "t")
    assert df1.count() == 3
    # rewrite in place with different content: new (mtime, size)
    os.remove(src)
    spark.range(5).select(F.col("id")).toPandas().to_parquet(src)
    df2 = load_table(spark, str(tmp_path), "t")
    assert df2 is not df1  # stale plan must not be served
    assert df2.count() == 5


def test_memo_holds_plans_not_results(spark):
    # the memoized object must be lazy: no cached rows, every action
    # re-executes (spot-check: the plan has no InMemoryRelation and
    # clearing the cache does not affect it)
    df = load_table(spark, SF_SMOKE, "customer")
    spark.catalog.clearCache()
    n1 = df.count()
    n2 = df.count()
    assert n1 == n2 > 0
    assert "InMemoryRelation" not in df._jdf.queryExecution().analyzed().toString()


def test_path_sig_changes_with_content(tmp_path):
    p = tmp_path / "x.parquet"
    p.write_bytes(b"aaaa")
    s1 = path_signature(str(p))
    p.write_bytes(b"bbbbbbbb")
    s2 = path_signature(str(p))
    assert s1 is not None and s2 is not None and s1 != s2
    assert path_signature(str(tmp_path / "missing")) is None
    # directories are signed recursively: a change two levels down
    # (a partition file) changes the signature
    leaf = tmp_path / "ds" / "k=1" / "part-0.parquet"
    leaf.parent.mkdir(parents=True)
    leaf.write_bytes(b"aaaa")
    d1 = path_signature(str(tmp_path / "ds"))
    leaf.write_bytes(b"bbbbbbbb")
    assert path_signature(str(tmp_path / "ds")) != d1


def test_rewrites_replace_memo_entries(spark, tmp_path):
    src = tmp_path / "t.parquet"
    spark.range(2).toPandas().to_parquet(src)
    prev = load_table(spark, str(tmp_path), "t")
    n_entries = len(_SESSION_MEMO)
    for n in (3, 5, 7):  # rewrite in place three times
        os.remove(src)
        spark.range(n).toPandas().to_parquet(src)
        df = load_table(spark, str(tmp_path), "t")
        assert df is not prev  # a stale plan is never served
        assert df.count() == n
        assert len(_SESSION_MEMO) == n_entries  # replaced, not added
        prev = df


def test_new_application_id_clears_every_entry(spark):
    """The memo and the plan-call records go together."""
    from omniengine_spark.plans import QUERIES

    QUERIES["a15_address_stats"](spark, SF_SMOKE)
    saved, saved_calls = dict(_SESSION_MEMO), dict(_CALLS)
    assert len(saved) >= 2 and "a15_address_stats" in saved_calls
    other = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-other")
    )
    try:
        assert session_memo(other, "probe", None, lambda: 1) == 1
        assert list(_SESSION_MEMO) == [("probe", None)]
        assert not _CALLS
        # and back: the live session drops the foreign entry too
        assert session_memo(spark, "probe", None, lambda: 2) == 2
        assert list(_SESSION_MEMO) == [("probe", None)]
    finally:
        _SESSION_MEMO.clear()
        _SESSION_MEMO.update(saved)
        _CALLS.update(saved_calls)


def test_trained_artifacts_hold_no_cached_storage(spark):
    """The PQ / IVF-PQ index state is a committed artifact read back
    from parquet: calling the plans, cold and warm, without any
    ``clearCache`` leaves no persisted RDD behind."""
    from omniengine_spark.plans import QUERIES

    def persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    baseline = persistent_rdds()
    for name in ("sim_pq_ann_topk", "sim_ivfpq_ann_topk"):
        for _ in range(2):
            QUERIES[name](spark, SF_SMOKE).collect()
            assert persistent_rdds() == baseline, name


# plans whose calls hold each kind of state: cached and DISK_ONLY frames,
# checkpoints, memo entries, artifact roots, fresh scratch dirs, a
# stream checkpoint
_STATE_SAMPLE = [
    "s13b_corrupt_ingest",
    "omni_incremental_lifecycle",
    "graph_pagerank",
    "sim_lsh_ann_topk",
    "btc_wallet_clusters",
    "x2_reorg_recompute",
    "serve_cached_rates",
    "sim_ivf_index_append",
    "serve_address_portfolio",
    "x14_stream_exactly_once_sink",
]
# graph_pagerank's warm calls reuse its DISK_ONLY edges and degrees
_PAGERANK_WARM_JOBS = 13


def _session_state(spark) -> dict:
    """Counts of what the session holds, read after Python and JVM
    collections, so checkpoints no frame reads are already freed."""
    import gc

    jsc = spark.sparkContext._jsc
    counts = []
    while len(counts) < 3 or (counts[-3:] != counts[-1:] * 3
                                and len(counts) < 20):
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.3)
        counts.append(jsc.getPersistentRDDs().size())
    return {
        "persistent_rdds": counts[-1],
        "cached_rdds": len(jsc.sc().getRDDStorageInfo()),
        "catalog_tables": len(spark.catalog.listTables()),
        "memo_entries": len(_SESSION_MEMO),
        "scratch": {p.name for p in sinks._SCRATCH.glob(f"p{os.getpid()}-*")},
    }


def test_plan_calls_keep_session_state_bounded(spark, tmp_path):
    """Without ``clearCache``, three passes of the sample on a copy of
    the data and three on a second copy leave the session holding no
    more than after the first copy, and nothing of the first copy:
    each plan call releases what its plan's previous call held that no
    plan's latest call holds.  Checksums are equal across all six
    calls, and the warm PageRank calls still reuse its cached frames."""
    from omniengine_spark.plans import QUERIES
    from tools.measure import run_measured

    copies = [tmp_path / "a", tmp_path / "b"]
    for c in copies:
        shutil.copytree(SF_SMOKE, c)
    before = _session_state(spark)["scratch"]
    sums, jobs, after = {}, [], []
    for copy in copies:
        for _ in range(3):
            for name in _STATE_SAMPLE:
                rec = run_measured(spark, QUERIES[name], str(copy),
                                   clear=False)
                sums.setdefault(name, set()).add(rec["checksum"])
                if name == "graph_pagerank":
                    jobs.append(rec["jobs"])
                del rec
        after.append(_session_state(spark))
    a, b = after
    assert {n: s for n, s in sums.items() if len(s) != 1} == {}
    for key in ("persistent_rdds", "cached_rdds", "catalog_tables",
                "memo_entries"):
        assert b[key] <= a[key], (key, a, b)
    assert len(b["scratch"]) <= len(a["scratch"])
    assert not (a["scratch"] - before) & b["scratch"]
    assert not [k for k in _SESSION_MEMO
                if str(k[1]).startswith(str(copies[0]))]
    assert jobs[1:3] == jobs[4:6] == [_PAGERANK_WARM_JOBS] * 2, jobs


def test_plan_frame_lives_until_the_plans_next_call(spark):
    """A frame a plan call returned stays readable while other plans
    are called; the plan's next call removes its scratch input."""
    from omniengine_spark.plans import QUERIES

    def feeds() -> set[str]:
        return {p.name for p in
                sinks._SCRATCH.glob(f"p{os.getpid()}-corrupt_feed-*")}

    first = QUERIES["s13b_corrupt_ingest"](spark, SF_SMOKE)
    rows, held = first.collect(), feeds()
    QUERIES["graph_pagerank"](spark, SF_SMOKE).collect()
    assert first.collect() == rows
    assert len(held) == 1
    second = QUERIES["s13b_corrupt_ingest"](spark, SF_SMOKE)
    assert second.collect() == rows
    assert len(feeds()) == 1 and feeds().isdisjoint(held)


def test_stamped_deltas_memo_and_equivalence(spark):
    from omniengine_spark.pipeline import (
        expand_deltas,
        stamp_serials_distributed,
    )
    from omniengine_spark.plans.pipeline_plans import (
        _stamped_deltas,
        _tx_stream,
    )

    a = _stamped_deltas(spark, SF_SMOKE)
    b = _stamped_deltas(spark, SF_SMOKE)
    assert a is b
    # memoized chain == freshly built chain, row for row
    fresh = expand_deltas(
        stamp_serials_distributed(_tx_stream(spark, SF_SMOKE))
    )
    cols = sorted(fresh.columns)
    assert sorted(a.columns) == cols
    diff = a.select(*cols).exceptAll(fresh.select(*cols))
    assert diff.isEmpty()


def test_genesis_csv_written_once_per_customer_file(spark, tmp_path):
    """``synthetic_genesis`` writes its CSV once per ``customer.parquet``
    signature: a second call fires no job and reads the same CSV, and
    after the file is rewritten in place the next call writes a new
    CSV whose balances equal a fresh build (never the stale ones)."""
    import pandas as pd

    from omniengine_spark.sources.genesis import (
        _write_genesis_csv,
        read_genesis_csv,
        synthetic_genesis,
    )

    def balances(df):
        return sorted(df.collect())

    src = tmp_path / "customer.parquet"
    shutil.copy(f"{SF_SMOKE}/customer.parquet", src)
    sf = str(tmp_path)
    first = synthetic_genesis(spark, sf)
    old = balances(first)

    before = next_job_id(spark)
    second = synthetic_genesis(spark, sf)
    assert next_job_id(spark) == before
    assert second.inputFiles() == first.inputFiles()
    assert balances(second) == old

    cust = pd.read_parquet(src)
    cust["c_acctbal"] = cust["c_acctbal"] + 1.0
    os.remove(src)
    cust.to_parquet(src)
    third = synthetic_genesis(spark, sf)
    assert set(third.inputFiles()).isdisjoint(first.inputFiles())
    fresh_path = str(tmp_path / "fresh.csv")
    _write_genesis_csv(spark, sf, fresh_path)
    fresh = read_genesis_csv(spark, fresh_path)
    assert balances(third) == balances(fresh) != old


def _manifest_seqs() -> dict[str, int]:
    """Newest manifest sequence of every versioned table under this
    process's scratch artifacts."""
    out: dict[str, int] = {}
    for m in sinks._SCRATCH.glob(f"p{os.getpid()}-*/**/_manifest.[0-9]*.json"):
        seq = int(m.name.split(".")[1])
        out[str(m.parent)] = max(out.get(str(m.parent), 0), seq)
    return out


# Build-job bounds of a warm call of each plan that exercises a
# persisted-artifact build site (every other serve plan: 0).  The LSH
# serve path collects the query batch's probed buckets at build time
# (4 jobs at sf0.001); the append plan fires no more, since the base
# count that sizes its frozen index is memoized per embeddings file.
_ARTIFACT_WARM_BUILD_JOBS = {
    "sim_ivf_index_query": 0,
    "sim_ivf_index_append": 0,
    "sim_lsh_index_query": 4,
    "sim_lsh_index_append": 4,
    "s20_stats_skipping_scan": 0,
    "x1c_incremental_pruned_resume": 0,
    "dedup_incremental_shard": 0,
    "dedup_semantic_incremental": 0,
    "dedup_stream_ingest": 0,
    "sim_pq_ann_topk": 0,
    "sim_ivfpq_ann_topk": 0,
}


def test_serve_plans_fire_no_build_jobs_when_warm(spark):
    """Every plan of the benchmark's ``serve`` workload, and every
    artifact plan, called a second time on the same data builds its
    frame with no Spark job beyond its bound and advances no artifact
    manifest: artifacts, memos and versioned reads are all settled by
    the first call."""
    from omniengine_spark.plans import QUERIES
    from perfbench.workloads import WORKLOADS

    bounds = dict.fromkeys(WORKLOADS["serve"].plans, 0)
    bounds.update(_ARTIFACT_WARM_BUILD_JOBS)
    for name, bound in bounds.items():
        QUERIES[name](spark, SF_SMOKE).collect()
        seqs = _manifest_seqs()
        before = next_job_id(spark)
        df = QUERIES[name](spark, SF_SMOKE)
        assert next_job_id(spark) - before <= bound, name
        df.collect()
        assert _manifest_seqs() == seqs, name


def test_write_partitioned_one_file_per_partition(spark, tmp_path):
    from omniengine_spark.sources.sinks import write_partitioned

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    out = str(tmp_path / "wh")
    write_partitioned(df, out, ["k"])
    for k in range(7):
        part = os.path.join(out, f"k={k}")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == 1, (k, files)  # hash-distributed: 1 file/value
    # dynamic overwrite still replaces only the partitions present
    patch = spark.range(50).select(
        F.col("id"), F.lit(3).alias("k")
    )
    write_partitioned(patch, out, ["k"])
    back = spark.read.parquet(out)
    assert back.filter("k = 3").count() == 50
    assert back.filter("k = 2").count() == 1000 // 7 + (1 if 2 < 1000 % 7 else 0)
    shutil.rmtree(out, ignore_errors=True)


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def _aged_dir(path, hours: float):
    path.mkdir()
    t = time.time() - hours * 3600
    os.utime(path, (t, t))
    return path


def test_scratch_allocator_prunes_old_dead_owned_siblings(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(sinks, "_SCRATCH", tmp_path)
    dead = _dead_pid()
    old_dead = _aged_dir(tmp_path / f"p{dead}-old", 3)
    young_dead = _aged_dir(tmp_path / f"p{dead}-young", 0.5)
    old_live = _aged_dir(tmp_path / f"p{os.getpid()}-live", 3)
    foreign = _aged_dir(tmp_path / "keep-me", 3)

    path = sinks.scratch_dir("new")
    assert path.startswith(str(tmp_path / f"p{os.getpid()}-new-"))
    assert not old_dead.exists()
    assert young_dead.exists() and old_live.exists() and foreign.exists()

    # allocating a stable dir prunes by the same rule
    old_dead = _aged_dir(tmp_path / f"p{dead}-old", 3)
    assert sinks.stable_scratch_dir("idx") == str(
        tmp_path / f"p{os.getpid()}-idx"
    )
    assert not old_dead.exists()
    assert young_dead.exists() and old_live.exists() and foreign.exists()


def test_checkpoint_allocator_leaves_foreign_names(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CHECKPOINT", str(tmp_path))
    dead = _dead_pid()
    old_dead = _aged_dir(tmp_path / f"omni-ckpt-p{dead}-q", 3)
    # a shared base (/dev/shm) holds other programs' entries, including
    # ones that look like this allocator's other naming
    foreign = [
        _aged_dir(tmp_path / f"p{dead}-q", 3),
        _aged_dir(tmp_path / f"other-ckpt-p{dead}-q", 3),
    ]
    path = sinks.stream_checkpoint_dir("q")
    assert path.startswith(str(tmp_path / f"omni-ckpt-p{os.getpid()}-q-"))
    assert not old_dead.exists()
    assert all(f.exists() for f in foreign)
