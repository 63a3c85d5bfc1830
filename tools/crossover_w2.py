#!/usr/bin/env python
"""Measure the plain-window vs chunked-prefix-sum crossover for the
running per-key sum (W2), over hot-key share × scale.

Why: ``chunked_running_sum`` fixes the straggler (ratio 11.4 → 1.5 on
the Zipf soak) but costs extra shuffles; round 6 measured it 4.4×
slower on the sf5 Zipf frame but never located the crossover, so
``running_sum_auto``'s 10%-hot-share threshold was a guess.  This
tool pins it: for each (rows, hot_share) cell it generates an
events-shaped frame where ONE key holds exactly ``hot_share`` of the
rows (the rest uniform over rows/66 keys, the sf1 users-per-event
ratio), times both branches best-of-2 in one warmed session, and
records which branch ``running_sum_auto``'s sampled probe would pick.

Usage: python tools/crossover_w2.py [--out tools/crossover_w2.json]
Writes a grid of {rows, hot_share, plain_sec, chunked_sec, ratio,
auto_picks} rows; COVERAGE.md renders it as the crossover table.
"""
from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

ROWS = [1_000_000, 5_000_000, 20_000_000]
SHARES = [0.0, 0.05, 0.10, 0.20, 0.40]
SPAN_US = 30 * 86_400 * 1_000_000


def gen_events(path: Path, n: int, hot_share: float, seed: int = 42) -> None:
    """events-shaped parquet: one key holds hot_share of rows, rest
    uniform; ids ascend with ts like the driver data."""
    r = np.random.default_rng(seed)
    n_users = max(100, n // 66)
    uid = r.integers(1, n_users, n)  # key 0 reserved for the hot key
    if hot_share > 0:
        uid[r.random(n) < hot_share] = 0
    offs = np.sort(r.integers(0, SPAN_US, n))
    tbl = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us")
            + offs.astype("timedelta64[us]")),
        "user_id": uid,
        "value": np.round(np.maximum(0.01, r.exponential(50.0, n)), 2),
    })
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, path, compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=str(_REPO / "tools" / "crossover_w2.json"))
    ap.add_argument("--workdir", default=".localdata/xover")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from omniengine_spark.operators.skew import (
        chunked_running_sum, probe_running_sum_strategy)
    from omniengine_spark.session import get_spark
    from tools.measure import run_measured

    spark = get_spark(app_name="crossover-w2", shuffle_partitions=32)
    spark.range(1000).selectExpr("sum(id)").collect()
    _D = "decimal(18,4)"

    def plain(ev):
        from pyspark.sql import Window
        w = (
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return ev.select(
            "event_id", "user_id",
            F.sum(F.col("value").cast(_D)).over(w)
            .cast("double").alias("running_value"),
        )

    def chunked(ev):
        out = chunked_running_sum(
            ev, key="user_id", order_cols=["ts", "event_id"],
            value_col=F.col("value").cast(_D),
            chunk_col=F.date_trunc("day", F.col("ts")),
        )
        return out.select(
            "event_id", "user_id",
            F.col("running_value").cast("double").alias("running_value"),
        )

    grid = []
    workdir = Path(args.workdir)
    for n in ROWS:
        for p in SHARES:
            f = workdir / f"ev_{n}_{int(p * 100)}.parquet"
            gen_events(f, n, p)
            ev = spark.read.parquet(str(f))
            # warm the scan + codegen once per dataset
            ev.agg(F.count("*")).collect()
            times = {}
            for name, builder in (("plain", plain), ("chunked", chunked)):
                def action_s() -> float:
                    # the checksum collect only: both branches build
                    # lazily, so the build is not part of the race
                    return run_measured(
                        spark, lambda _s, _p: builder(ev), str(f),
                        clear=False,
                    )["action_s"]

                action_s()  # warm this plan shape
                times[name] = min(action_s() for _ in range(args.runs))
            # which branch would the auto probe pick?  Read the
            # decision from the probe itself — inferring it from
            # optimized-plan text ("Join" substring) breaks the moment
            # either branch gains a join or Catalyst rewrites one in.
            auto_pick = probe_running_sum_strategy(ev, "user_id")
            row = {
                "rows": n,
                "hot_share": p,
                "plain_sec": round(times["plain"], 2),
                "chunked_sec": round(times["chunked"], 2),
                "chunked_over_plain": round(
                    times["chunked"] / times["plain"], 2),
                "auto_picks": auto_pick,
            }
            grid.append(row)
            print(
                f"rows={n:>9_} hot={p:>4.0%} plain={row['plain_sec']:6.2f}s "
                f"chunked={row['chunked_sec']:6.2f}s "
                f"ratio={row['chunked_over_plain']:5.2f} "
                f"auto→{row['auto_picks']}",
                flush=True,
            )
            f.unlink()
    shutil.rmtree(workdir, ignore_errors=True)
    Path(args.out).write_text(json.dumps(
        {"shares": SHARES, "rows": ROWS, "grid": grid}, indent=1))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
