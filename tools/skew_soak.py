#!/usr/bin/env python
"""Skewed-key soak: run the fold/join/window-heavy plans on a
Zipf-distributed events table and record the straggler ratio —
bottleneck-stage max task time over median task time.

Why: uniform synthetic keys hide the dominant failure mode of real
100 TB runs — one hot entity (a celebrity user, an exchange address)
that funnels 20% of a shuffle through a single reducer.  Wall clock
then tracks the ONE straggling task, not the cluster.  AQE splits
skewed JOIN partitions but not skewed groupBy/window partitions, so
fold and running-window plans need algorithmic mitigation (salting /
chunked prefix-sum), and this soak is the proof it works: ratio ~1
means every task finished together, ratio ~N_tasks means one task WAS
the job.

Data: tools/gen_testdata.py --zipf 1.2 (hot user ≈ 20% of all rows
at sf1).  Records per plan, for uniform AND zipf inputs: wall secs,
bottleneck-stage straggler ratio (max/median executorRunTime over
tasks of the stage with the largest max), and that stage's task
count, into tools/scale_soak_skew.json.

Usage:
    python tools/skew_soak.py [--uniform DIR] [--zipf DIR]
        [--out FILE] [plan ...]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

# the events-keyed plans where a hot user_id concentrates work
DEFAULT_PLANS = [
    "a10_user_balance_fold",
    "a10_salted_balance_fold",
    "w2_running_user_value",
    "w2b_running_value_chunked",
    "j9_trailing_24h_purchase_volume",
    "d7c_freeze_pipeline",
    "a15_address_stats",
    "w1_latest_event_per_user",
    "w6_user_watermark",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--uniform", default=".localdata/sf1")
    ap.add_argument("--zipf", default=".localdata/sf1_zipf")
    ap.add_argument("--out", default=str(_REPO / "tools" / "scale_soak_skew.json"))
    ap.add_argument("plans", nargs="*")
    args = ap.parse_args()

    from omniengine_spark.plans import QUERIES
    from tools.measure import (
        run_measured,
        stages,
        task_quantiles,
        tool_session,
    )

    spark = tool_session("skew-soak")

    def run(name: str, sf_dir: str) -> dict:
        m = run_measured(spark, QUERIES[name], sf_dir, clear=False)
        # Straggler ratio = max/median of per-task SHUFFLE-READ
        # RECORDS on the heaviest shuffle stage.  Records, not time:
        # at this scale reducer tasks are sub-second, so time ratios
        # measure scheduler noise (measured r≈40-100 on perfectly
        # UNIFORM keys); record counts are deterministic and directly
        # expose the key distribution a 1000-executor run would
        # straggle on.  Scan stages are excluded by construction
        # (no shuffle read).  Ties go to the later stage.
        best = None
        for sd in reversed(stages(spark, *m["job_ids"])):
            if sd.numCompleteTasks() < 4 or sd.shuffleReadBytes() <= 0:
                continue
            q = task_quantiles(spark, sd, [0.0, 0.5, 1.0])
            rec = q["readRecords"] if q else None
            if not rec:
                continue
            mx, md = rec[2], max(rec[1], 1.0)
            if best is None or mx > best["max_records"]:
                best = {
                    "max_records": mx,
                    "ratio": round(mx / md, 2),
                    "n_tasks": sd.numCompleteTasks(),
                    "max_ms": q["executorRunTime"][2],
                }
        return {
            "sec": round(m["total_s"], 2),
            "straggler": best["ratio"] if best else None,
            "bottleneck_max_records": best["max_records"] if best else None,
            "bottleneck_max_ms": best["max_ms"] if best else None,
            "bottleneck_tasks": best["n_tasks"] if best else None,
        }

    names = args.plans or DEFAULT_PLANS
    rows = []
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        run(name, args.uniform)  # warm
        u = run(name, args.uniform)
        z = run(name, args.zipf)
        rows.append({"plan": name, "uniform": u, "zipf": z})
        print(
            f"{name:32s} uni {u['sec']:6.2f}s r={u['straggler']}"
            f"   zipf {z['sec']:6.2f}s r={z['straggler']}",
            flush=True,
        )

    out = Path(args.out)
    out.write_text(json.dumps({
        "uniform": args.uniform, "zipf": args.zipf, "rows": rows,
    }, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
