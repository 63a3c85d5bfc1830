"""The one measured-run path (``tools/measure.py``) and the tools built
on it: counters read from the status store with the Spark UI off, a
checksum that does not depend on partitioning, the fresh-process phase
protocol, no tool timing or spawning phases by itself, and every tool
module importable."""

from __future__ import annotations

import importlib
import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from omniengine_spark.plans import QUERIES
from tools.ann_recall import recall
from tools.measure import (
    measured,
    next_job_id,
    node_metrics,
    run_measured,
    run_phase,
)

from .conftest import SF_SMOKE


def test_jobs_match_job_id_range_with_build_time_jobs(spark):
    """``btc_wallet_clusters`` runs connected components while it is
    built, so the record must count build-time jobs too."""
    built = {}

    def fn(spark, sf_dir):
        df = QUERIES["btc_wallet_clusters"](spark, sf_dir)
        built["next"] = next_job_id(spark)
        return df

    before = next_job_id(spark)
    rec = run_measured(spark, fn, SF_SMOKE, clear=True)
    after = next_job_id(spark)
    assert built["next"] > before  # the build fired jobs
    assert rec["job_ids"] == (before, after)
    assert rec["jobs"] == after - before


def test_stage_and_task_counts_without_ui(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    rec = run_measured(spark, QUERIES["a15_address_stats"], SF_SMOKE,
                       clear=True)
    assert rec["stages"] > 0
    assert rec["tasks"] >= rec["stages"]
    assert rec["shuffle_write_mb"] > 0
    assert rec["total_s"] == pytest.approx(rec["build_s"] + rec["action_s"])


def test_node_metrics_reads_the_scan_of_the_action(spark):
    from omniengine_spark.sources import load_table

    rec = run_measured(
        spark, lambda s, d: load_table(s, d, "orders"), SF_SMOKE, clear=False
    )
    scans = [m for n, m in node_metrics(rec["action_df"])
             if n.startswith("Scan")]
    assert len(scans) == 1
    assert scans[0]["numOutputRows"] == rec["checksum"][1] > 0
    assert scans[0]["numFiles"] >= 1


@pytest.mark.parametrize(
    "name",
    [
        "omni_genesis_fold",
        "btc_wallet_clusters",
        "d7c_freeze_pipeline",
        "a10_salted_balance_fold",
        "x15_ivm_rollup_merge",
        "stats_countmin_heavy_hitters",
        "j12_range_join",
        "sim_lsh_ann_topk",
        "sim_pq_ann_topk",
        "sim_ivfpq_ann_topk",
        "sql_q21_sole_blame_supplier",
        "sql_q8_market_share",
        "s17_schema_migration",
    ],
)
def test_checksum_stable_across_runs_and_partitionings(spark, name):
    """README: results are bit-stable under any partitioning."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    sums = []
    try:
        for parts in (before, before, "1", "8"):
            spark.conf.set(key, parts)
            rec = run_measured(spark, QUERIES[name], SF_SMOKE, clear=True)
            sums.append(rec["checksum"])
    finally:
        spark.conf.set(key, before)
    assert sums[0][1] > 0
    assert len(set(sums)) == 1, sums


_REPO = Path(__file__).parents[1]
_TOOLS = sorted((_REPO / "tools").glob("*.py"))

# the 13 plans above, the money folds, connected components, PageRank
# and three stream drains
_PARALLELISM_SAMPLE = [
    "omni_genesis_fold",
    "btc_wallet_clusters",
    "d7c_freeze_pipeline",
    "a10_salted_balance_fold",
    "x15_ivm_rollup_merge",
    "stats_countmin_heavy_hitters",
    "j12_range_join",
    "sim_lsh_ann_topk",
    "sim_pq_ann_topk",
    "sim_ivfpq_ann_topk",
    "sql_q21_sole_blame_supplier",
    "sql_q8_market_share",
    "s17_schema_migration",
    "dedup_clusters",
    "graph_pagerank",
    "w2b_running_value_chunked",
    "a10_user_balance_fold",
    "x10_stream_stream_join",
    "x12_stream_timer_expiry",
    "x14_stream_exactly_once_sink",
]


def test_checksums_equal_across_jvms_of_different_parallelism(tmp_path):
    """README: results do not depend on parallelism.  ``tools/sweep.py``
    runs the sample in two fresh JVMs: one core and one shuffle
    partition, against every core, 200 shuffle partitions and 64 KB
    scan splits.  AQE would coalesce this data's 200 partitions back
    into one, so the wide JVM turns coalescing off."""
    out = tmp_path / "sweep.json"
    wide = (f"cpus={len(os.sched_getaffinity(0))},"
            "conf.spark.sql.shuffle.partitions=200,"
            "conf.spark.sql.adaptive.coalescePartitions.enabled=false,"
            "conf.spark.sql.files.maxPartitionBytes=64k,"
            "conf.spark.sql.files.openCostInBytes=0")
    proc = subprocess.run(
        [sys.executable, str(_REPO / "tools" / "sweep.py"),
         "--compare", "checksum", "--runs", "1", "--out", str(out),
         "--variant", f"p1={SF_SMOKE},cpus=1,heap=2g,"
                      "conf.spark.sql.shuffle.partitions=1",
         "--variant", f"pN={SF_SMOKE},heap=2g,{wide}",
         *_PARALLELISM_SAMPLE],
        capture_output=True, text=True, timeout=1500,
    )
    assert proc.returncode == 0, proc.stdout[-6000:] + proc.stderr[-3000:]
    rows = json.loads(out.read_text())["compare"]["checksum"]
    assert sorted(rows) == sorted(_PARALLELISM_SAMPLE)
    for plan, row in rows.items():
        assert row["p1"][1] > 0 and row["p1"] == row["pN"], (plan, row)


def test_run_phase_returns_the_child_record_with_loadavg(tmp_path):
    child = tmp_path / "child.py"
    child.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(_REPO)!r})\n"
        "from tools.measure import phase_result\n"
        "print('noise')\n"
        "phase_result({'phase': sys.argv[2], 'argv': sys.argv[3:],\n"
        "              'df': object()})\n"
    )
    rec = run_phase(str(child), "ingest", ["--lo", "7"])
    assert rec["phase"] == "ingest"
    assert rec["argv"] == ["--lo", "7"]
    assert "df" not in rec
    assert rec["loadavg"] >= 0


def test_run_phase_raises_with_the_stderr_tail(tmp_path):
    child = tmp_path / "child.py"
    child.write_text(
        "import sys\n"
        "print('started')\n"
        "sys.exit('boom: the child died before its result line')\n"
    )
    with pytest.raises(RuntimeError, match="boom: the child died"):
        run_phase(str(child), "build", [])


def test_measured_counts_the_jobs_of_a_write(spark, tmp_path):
    out = str(tmp_path / "t.parquet")
    rec = measured(
        spark, lambda: spark.range(1000).write.mode("overwrite").parquet(out)
    )
    assert rec["jobs"] >= 1
    assert rec["output_mb"] > 0
    assert rec["total_s"] > 0
    assert rec["result"] is None


def test_recall_of_an_empty_exact_set_is_zero():
    assert recall({1: {2}}, {}) == 0.0
    assert recall({}, {1: {2, 3}}) == 0.0
    assert recall({1: {2}}, {1: {2, 3}}) == 0.5


def test_tools_time_and_spawn_phases_only_through_measure():
    """Timers, the phase-result line and session builders live in
    ``tools/measure.py`` only."""
    pattern = re.compile(
        r"perf_counter|PHASE_RESULT|SOAK_RESULT|def _spark\b|def _session\b"
    )
    found = {
        p.name: sorted(set(pattern.findall(p.read_text())))
        for p in _TOOLS
        if p.name != "measure.py"
    }
    assert not {k: v for k, v in found.items() if v}


@pytest.mark.parametrize("module", [p.stem for p in _TOOLS])
def test_tool_module_imports(module):
    """Every tool guards ``main()``, so importing one runs nothing; a
    broken import after code moves between tools fails here."""
    importlib.import_module(f"tools.{module}")
