#!/usr/bin/env python
"""ANN recall at scale: recall@k of every registered approximate
nearest-neighbor plan against the registered brute-force plan, per
scale factor.

Why: the ANN plans adapt their geometry to the data size (LSH active
plane count and IVF centroid count both derive from COUNT(*)), so a
recall floor pinned at the sf0.01 gate does NOT certify sf1/sf5
behavior — more planes means smaller buckets and a different
recall/scan-fraction trade at every rung.  This tool measures the
actual curve and records it; tests/test_similarity.py pins per-scale
floors from it (skip-if-absent for rungs whose data isn't generated).
Each plan is one ``run_measured`` run (``sec`` is its total); the
top-k sets for recall are collected after it, untimed.

Usage:
    python tools/ann_recall.py [sf_dir ...]     # default: the ladder
Writes tools/ann_recall.json keyed by sf dir.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.measure import run_measured, tool_session  # noqa: E402

DEFAULT_DIRS = [
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    ".localdata/sf1",
    ".localdata/sf5",
]
ANN_PLANS = [
    "sim_lsh_ann_topk",
    "sim_ivf_ann_topk",
    "sim_pq_ann_topk",
    "sim_ivfpq_ann_topk",
]


def topk_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["nbr_id"])
    return out


def recall(approx: dict, exact: dict) -> float:
    hits = total = 0
    for qid, nbrs in exact.items():
        total += len(nbrs)
        hits += len(nbrs & approx.get(qid, set()))
    return hits / total if total else 0.0


def main() -> None:
    from omniengine_spark.plans import QUERIES

    dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = tool_session("ann-recall")

    out_path = _REPO / "tools" / "ann_recall.json"
    blob = json.loads(out_path.read_text()) if out_path.exists() else {}
    for sf_dir in dirs:
        if not Path(sf_dir, "embeddings.parquet").exists():
            print(f"skip {sf_dir}: no embeddings", file=sys.stderr)
            continue
        exact = topk_sets(
            QUERIES["sim_bruteforce_cosine_topk"](spark, sf_dir)
        )
        row = {}
        for name in ANN_PLANS:
            m = run_measured(spark, QUERIES[name], sf_dir, clear=False)
            r = recall(topk_sets(m["df"]), exact)
            row[name] = {
                "recall_at_5": round(r, 3),
                "sec": round(m["total_s"], 2),
                "build_s": round(m["build_s"], 2),
                "jobs": m["jobs"],
            }
            print(f"{sf_dir:24s} {name:22s} recall@5={r:.3f}", flush=True)
        blob[sf_dir] = row
    out_path.write_text(json.dumps(blob, indent=1))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
