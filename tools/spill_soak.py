#!/usr/bin/env python
"""Spill-regime soak: run the bench-dominant plans with the JVM heap
deliberately constrained so the working set no longer fits in memory,
and record wall time + disk spill per plan.

Why: every other measurement in this repo (scale_soak*.json) runs in
a 48g heap on a 128 GiB box — the data-fits-in-RAM regime.  A 100 TB
cluster run is shuffle/spill-bound: executors hold a small slice of
memory relative to their input, and operators that only work because
everything fit (oversized hash aggregates, cached frames, sort
buffers) fall over or go quadratic when ExternalSorter starts
spilling.  This soak is the local proxy for that regime: an 8g heap
over local[32] leaves ~150 MB of unified execution memory per task
slot at 32-way parallelism against a ~7 GB uncompressed sf5 working
set, so sorts/aggregations MUST spill to finish (the run fails loudly
if nothing spilled — that would mean the regime wasn't reached).

Records, per plan: wall seconds (small + big sf), disk-spill MB,
memory-spill MB, shuffle write MB, and the under-pressure scaling
exponent, into tools/spill_soak_sf5.json.  A plan that OOMs or errors
is recorded with "err" so the failure is a reviewable artifact, not a
silent absence.

Usage:
    python tools/spill_soak.py [--mem 8g] [--small DIR] [--big DIR]
        [--ratio R] [--out FILE] [plan ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

# the plans that dominate sf5 wall clock (scale_soak_sf5.json), minus
# the documented output-bound dedup_simhash, plus its bounded-output
# replacement and the heaviest lineitem-wide aggregate
DOMINANT = [
    "x12_stream_timer_expiry",
    "x2_reorg_recompute",
    "graph_pagerank",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "sim_lsh_ann_topk",
    "d2_pro_rata_allocation",
    "dedup_minhash_lsh",
    "dedup_semantic_prune",
    "btc_wallet_clusters",
    "text_lm_fluency",
    "quality_column_profile",
    "dedup_simhash_topk",
    "a15_address_stats",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mem", default="8g")
    ap.add_argument("--small", default=".localdata/sf1")
    ap.add_argument("--big", default=".localdata/sf5")
    ap.add_argument("--ratio", type=float, default=5.0)
    ap.add_argument("--out", default=str(_REPO / "tools" / "spill_soak_sf5.json"))
    ap.add_argument("plans", nargs="*")
    args = ap.parse_args()

    # must land before the JVM exists — get_spark reads it at build
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.mem

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.session import get_spark
    from tools.measure import run_measured

    spark = get_spark(app_name="spill-soak", shuffle_partitions=32)
    assert spark.conf.get("spark.driver.memory") == args.mem, (
        "heap not constrained — a pre-existing session would "
        "invalidate the whole measurement"
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    def run(name: str, sf_dir: str) -> tuple[float, dict]:
        # drop caches a previous run of the same plan left behind
        # (persist()-based plans hit CacheManager plan-matching, so a
        # warm-up run would hand the measured run a hot edge cache on
        # the small rung only — inflating the exponent)
        m = run_measured(spark, QUERIES[name], sf_dir, clear=True)
        return m["total_s"], {
            "disk_spill_mb": round(m["disk_spill_mb"], 2),
            "mem_spill_mb": round(m["memory_spill_mb"], 2),
            "shuffle_write_mb": round(m["shuffle_write_mb"], 2),
        }

    names = args.plans or DOMINANT
    rows = []
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        try:
            run(name, args.small)  # warm codegen/readers
            t_small, _ = run(name, args.small)
            t_big, m = run(name, args.big)
            e = math.log(t_big / t_small) / math.log(args.ratio)
            rows.append({
                "plan": name,
                "t_small": round(t_small, 2),
                "t_big": round(t_big, 2),
                "exponent": round(e, 2),
                **m,
                "err": None,
            })
            print(
                f"{name:28s} {t_small:7.2f}s -> {t_big:7.2f}s  e={e:+.2f}"
                f"  spill={m['disk_spill_mb']:.0f}MB"
                f" (mem {m['mem_spill_mb']:.0f}MB)",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — the err IS the datum
            rows.append({"plan": name, "err": f"{type(exc).__name__}: {exc}"[:300]})
            print(f"{name:28s} ERR {type(exc).__name__}", flush=True)

    total_spill = sum(r.get("disk_spill_mb", 0) or 0 for r in rows)
    out = Path(args.out)
    out.write_text(json.dumps({
        "driver_mem": args.mem,
        "small": args.small,
        "big": args.big,
        "ratio": args.ratio,
        "total_disk_spill_mb": round(total_spill, 1),
        "rows": rows,
    }, indent=1))
    print(f"wrote {out}  total_disk_spill={total_spill:.0f}MB")
    if total_spill == 0:
        print("WARNING: nothing spilled — regime not reached", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
