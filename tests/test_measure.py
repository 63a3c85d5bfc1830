"""The one measured-run path (``tools/measure.py``) and the tools built
on it: counters read from the status store with the Spark UI off, a
checksum that does not depend on partitioning, and every tool module
importable."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

from omniengine_spark.plans import QUERIES
from tools.measure import next_job_id, node_metrics, run_measured

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
    "name", ["omni_genesis_fold", "btc_wallet_clusters", "d7c_freeze_pipeline"]
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


@pytest.mark.parametrize(
    "module",
    sorted(p.stem for p in (Path(__file__).parents[1] / "tools").glob("*.py")),
)
def test_tool_module_imports(module):
    """Every tool guards ``main()``, so importing one runs nothing; a
    broken import after code moves between tools fails here."""
    importlib.import_module(f"tools.{module}")
