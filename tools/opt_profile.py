#!/usr/bin/env python
"""Optimization-round profiler: per-plan build/action timing + plan dump.

For each named plan (default: all), in ONE session with the bench's
warm-up and semantics (clearCache before each cold run, one
``tools.measure.run_measured`` call per run):

    build_sec   — fn(spark, sf_dir) wall time (plan construction; any
                  eager localCheckpoint/artifact build runs here)
    action_sec  — the bench's checksum-collect over the result
    runs        — [cold, cold] or [cold, warm, warm] for artifact plans

and writes ``plans/<tag>/<name>_<suffix>.txt`` with the formatted plan
when ``--dump DIR_TAG/SUFFIX`` is given.

Usage:
    python tools/opt_profile.py [--dump r11/before] [name ...]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))


def main() -> None:
    args = sys.argv[1:]
    dump = None
    if args and args[0] == "--dump":
        dump = args[1]
        args = args[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.plans.registry import ARTIFACT_PLANS
    from omniengine_spark.session import get_spark
    from tools.measure import run_measured, warm_session

    spark = get_spark(app_name="opt-profile")
    warm_session(spark, sf_dir)

    names = args or sorted(QUERIES)
    out: dict[str, dict] = {}
    dump_dir = None
    if dump:
        dump_dir = _REPO / "plans" / Path(dump).parent
        dump_dir.mkdir(parents=True, exist_ok=True)
        suffix = Path(dump).name
    for name in names:
        art = name in ARTIFACT_PLANS
        rec = {"runs": [], "build": [], "action": []}
        n_runs = 3 if art else 2
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            r = run_measured(
                spark, QUERIES[name], sf_dir, clear=(i == 0) if art else True
            )
            rec["build"].append(round(r["build_s"], 3))
            rec["action"].append(round(r["action_s"], 3))
            rec["runs"].append(round(r["total_s"], 3))
            if i == 0 and dump_dir is not None:
                plan_txt = r["df"]._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")
                )
                (dump_dir / f"{name}_{suffix}.txt").write_text(plan_txt)
        rec["best"] = (
            min(rec["runs"][1:]) if art else min(rec["runs"])
        )
        out[name] = rec
        print(
            f"{name:45} best={rec['best']:7.3f} "
            f"build={rec['build']} action={rec['action']}",
            flush=True,
        )
    print(json.dumps({"total_best": round(sum(r["best"] for r in out.values()), 3)}))
    path = _REPO / "tools" / "opt_profile.json"
    path.write_text(json.dumps({"sf_dir": sf_dir, "plans": out}, indent=1) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
