"""Z-order layout: prove the file-skipping claim with parquet footer
stats, not vibes — a point filter on either dimension must overlap
far fewer files under the Z-curve layout than under a single-column
sort on the OTHER dimension."""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq

from omniengine_spark.operators.layout import write_zordered, zorder_key
from omniengine_spark.sources import load_table
from omniengine_spark.sources.sinks import scratch_dir

from .conftest import SF_CORRECT


def _files_overlapping(path: str, col: str, value: int) -> tuple[int, int]:
    """(#files whose [min,max] on ``col`` contains value, #files)."""
    hit = total = 0
    for f in Path(path).glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        total += 1
        if lo is not None and lo <= value <= hi:
            hit += 1
    return hit, total


def test_zorder_prunes_both_dimensions(spark):
    ev = load_table(spark, SF_CORRECT, "events").select(
        "event_id", "user_id", "value"
    )
    z_path = scratch_dir("zorder-test")
    s_path = scratch_dir("sorted-test")
    try:
        write_zordered(ev, z_path, "user_id", "event_id", n_files=16)
        # the naive layout: globally sorted on event_id alone
        (
            ev.repartitionByRange(16, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(s_path)
        )
        uid = 42
        z_hit, z_total = _files_overlapping(z_path, "user_id", uid)
        s_hit, s_total = _files_overlapping(s_path, "user_id", uid)
        assert z_total == 16 and s_total == 16
        # event_id-sorted files each span ~every user; the Z-curve
        # gives each file a tight user_id bounding box
        assert s_hit == 16
        assert z_hit <= 8, f"z-order overlapped {z_hit}/16 files"
        # the time-ish dimension must ALSO prune (that's the point of
        # interleaving vs just sorting by user_id)
        ev_mid = ev.count() // 2
        z_hit_e, _ = _files_overlapping(z_path, "event_id", ev_mid)
        assert z_hit_e <= 8, f"z-order event_id overlap {z_hit_e}/16"
        # correctness: the rewrite is a permutation, nothing lost
        assert (
            spark.read.parquet(z_path).count() == ev.count()
        )
    finally:
        shutil.rmtree(z_path, ignore_errors=True)
        shutil.rmtree(s_path, ignore_errors=True)


def test_zorder_key_is_pure_codegen(spark):
    ev = load_table(spark, SF_CORRECT, "events").select(
        "event_id", "user_id"
    )
    keyed = zorder_key(ev, "user_id", "event_id")
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the stats frame is one row — its join must broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
