#!/usr/bin/env python
"""Warehouse-layout bench: measure what Z-ordered fact tables buy the
TPC-H suite in SCAN BYTES (parquet file/row-group pruning), per plan.

``s18_zorder_pointscan`` proves pruning on a point query; the 22
``sql_q*`` plans still read the raw generator parquet — one fat
row group per table, so min/max stats prune nothing regardless of
predicate selectivity.  This tool builds the laid-out warehouse ONCE
(facts rewritten as many Z-ordered files, dims symlinked unchanged),
runs every sql_q* plan against raw AND laid-out dirs, and records
input bytes + seconds for both into tools/layout_census.json.

The layout is the one a 100 TB deployment would run as OPTIMIZE:
  lineitem  Z(l_shipdate, l_partkey)   — Q6/Q14/Q15/Q20 ship-date
            ranges and Q17/Q19 part probes both prune
  orders    Z(o_orderdate, o_custkey)  — Q3/Q4/Q10 date windows
  events    Z(ts, user_id)             — (not read by sql_q*, laid
            out for completeness)
Files keep the SAME schema (no hive partition dirs), so every plan —
and load_table — runs unchanged against either directory.

Usage:
    python tools/layout_bench.py [raw_sf_dir] [layout_dir]
        [--files N] [--skip-build]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

ZORDER = {
    "lineitem": ("l_shipdate", "l_partkey"),
    "orders": ("o_orderdate", "o_custkey"),
    "events": ("ts", "user_id"),
}


def build_layout(spark, raw: str, out: Path, n_files: int) -> None:
    from omniengine_spark.operators.layout import write_zordered
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources.catalog import TABLES

    out.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        src = Path(raw) / f"{name}.parquet"
        dst = out / f"{name}.parquet"
        if name in ZORDER:
            a, b = ZORDER[name]
            df = load_table(spark, raw, name)
            # timestamps quantize via epoch seconds inside zorder_key's
            # cast("long"); resolution is irrelevant at 16 grid bits
            write_zordered(df, str(dst), a, b, n_files=n_files)
            print(f"  {name}: z-ordered ({a},{b}) -> {n_files} files",
                  flush=True)
        else:
            if dst.is_symlink() or dst.exists():
                continue
            os.symlink(src.resolve(), dst)
            print(f"  {name}: symlinked", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("raw", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("layout", nargs="?", default=".localdata/layout_sf0.1")
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.session import get_spark
    from tools.measure import node_metrics, run_measured

    spark = get_spark(
        app_name="layout-bench",
        shuffle_partitions=32,
        extra_conf={
            # pruning is file/row-group level: keep files small enough
            # that one file != the whole table
            "spark.sql.files.maxPartitionBytes": "16m",
        },
    )
    layout = Path(args.layout)
    if not args.skip_build:
        build_layout(spark, args.raw, layout, args.files)

    def run(name: str, sf_dir: str) -> tuple[float, float, int, int]:
        # Pruning metric: the scan nodes' "number of output rows" —
        # rows MATERIALIZED after parquet row-group/page skipping.
        # Vanilla Spark opens every file and prunes row groups inside
        # (planning-time file skipping needs a table format with a
        # stats manifest — Delta/Iceberg), so "size of files read"
        # counts all assigned files even when their row groups are
        # fully skipped, and stage-level inputBytes under-reports
        # vectorized local-fs reads ~1000x.  Rows materialized is the
        # honest IO-skipping figure; size/files are recorded context.
        # Read from the action's executed plan (AQE stages and
        # subqueries included).
        m = run_measured(spark, QUERIES[name], sf_dir, clear=False)
        size = files = rows = 0
        for node, metrics in node_metrics(m["action_df"]):
            if node.startswith("Scan"):
                size += metrics.get("filesSize", 0)
                files += metrics.get("numFiles", 0)
                rows += metrics.get("numOutputRows", 0)
        return m["total_s"], size / 1e6, files, rows

    names = sorted(k for k in QUERIES if k.startswith("sql_q"))
    rows = []
    for name in names:
        run(name, args.raw)  # warm
        t_raw, in_raw, f_raw, r_raw = run(name, args.raw)
        t_lay, in_lay, f_lay, r_lay = run(name, str(layout))
        saved = 100.0 * (1 - r_lay / r_raw) if r_raw else 0.0
        rows.append({
            "plan": name,
            "sec_raw": round(t_raw, 2),
            "sec_layout": round(t_lay, 2),
            "scan_rows_raw": r_raw,
            "scan_rows_layout": r_lay,
            "input_raw_mb": round(in_raw, 2),
            "input_layout_mb": round(in_lay, 2),
            "files_raw": f_raw,
            "files_layout": f_lay,
            "rows_pruned_pct": round(saved, 1),
        })
        print(
            f"{name:36s} raw {r_raw:>10,}r {t_raw:6.2f}s"
            f"   layout {r_lay:>10,}r {t_lay:6.2f}s"
            f"   pruned {saved:5.1f}%",
            flush=True,
        )

    out = _REPO / "tools" / "layout_census.json"
    out.write_text(json.dumps({
        "raw": args.raw, "layout": str(layout),
        "n_files": args.files, "rows": rows,
    }, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
