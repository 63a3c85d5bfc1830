#!/usr/bin/env python
"""Scale soak: time plans at two scale factors in one warmed session
and report the per-plan scaling exponent  e = log(t_big/t_small) /
log(sf_big/sf_small)  — e ≈ 1 is linear in data volume, e < 1 means
fixed overhead still dominates at these sizes, e > 1 flags
super-linear work (the thing that kills a 100× scale-up).

Usage:
    python tools/scale_soak.py [--small DIR] [--big DIR] [--ratio R]
        [--out FILE] [--runs N] [plan ...]

Defaults to the driver sf0.01 -> sf0.1 pair and the plans that
dominate bench wall time.  For the decade that actually matters
(bench sf -> 10x bench sf), generate matched data first:

    python tools/gen_testdata.py 0.1 .localdata/sf0.1
    python tools/gen_testdata.py 1   .localdata/sf1
    python tools/scale_soak.py --small .localdata/sf0.1 \
        --big .localdata/sf1 --out tools/scale_soak_sf1.json

Using one generator family for both rungs keeps distributions
identical, so the exponent measures the engine, not the data.

``--fresh`` runs each plan's whole measurement (warm-up + both
rungs) in its OWN subprocess, i.e. its own JVM.  Round 7 found the
shared-session design inflates late-running big-rung measurements:
the 69M-row md5 stage measured 54s late in a churned session vs
20s in a fresh one (same data, same plan) — accumulated shuffle
state + old-gen pressure penalize whichever rung runs last, and the
big rung always runs last.  Exponents quoted for the 100 TB story
should come from --fresh runs; the shared-session mode remains for
quick relative checks.

Each row also records ``t_big_first``, the first big-rung run.  An
artifact plan pays its index build there (once per process and
dataset) and only serves from the index after it, so the build-vs-
serve split of a persisted index is a pair of rows:
``sim_ivf_index_query`` (t_big_first = build + serve, t_big = serve)
against ``sim_ivf_ann_topk`` (the one-shot path), and
``dedup_semantic_incremental`` against ``dedup_semantic_prune``.
``tools/ivf_amortize.json`` and ``tools/seminc_bench.json`` hold the
rv-scale measurements of the same splits.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.measure import (  # noqa: E402
    phase_result,
    run_measured,
    run_phase,
    tool_session,
)

SMALL = "/root/testdata/sf0.01"
BIG = "/root/testdata/sf0.1"
RATIO = 10.0

# the 25 plans that dominate BENCH_r04 wall clock, plus the layout /
# text / docpipe shapes whose scaling differs from any of them
DEFAULT_PLANS = [
    "dedup_clusters",
    "graph_pagerank",
    "sim_lsh_ann_topk",
    "btc_wallet_clusters",
    "sim_ivfpq_ann_topk",
    "a15_address_stats",
    "graph_taint_reach",
    "sim_pq_ann_topk",
    "x2_reorg_recompute",
    "dedup_simhash",
    "x12_stream_timer_expiry",
    "x10_stream_stream_join",
    "dedup_minhash_lsh",
    "quality_column_profile",
    "d4_dex_accept_lifecycle",
    "stats_value_profile_approx",
    "dedup_semantic_prune",
    "d7c_freeze_pipeline",
    "dedup_ngram_jaccard",
    "quality_observed_metrics",
    "d2_pro_rata_allocation",
    "x7b_consensus_hash",
    "a15b_address_stats_preagg",
    "omni_genesis_fold",
    "text_lm_fluency",
    "s18_zorder_pointscan",
    "text_bpe_pair_stats",
    "docpipe_chunk_sliding",
]


def measure_one(spark, name: str, small: str, big: str, runs: int) -> dict:
    """Warm-up + best-of-``runs`` at both rungs for one plan, in
    ``spark``'s session.  ``t_big_first`` is the first big-rung run:
    the one that pays an artifact plan's index build for that data."""
    from omniengine_spark.plans import QUERIES

    def run(sf_dir: str) -> float:
        # build INSIDE the timer: iterative plans (connected
        # components) execute jobs eagerly during construction;
        # clear=True: no cross-run persist() reuse
        return run_measured(spark, QUERIES[name], sf_dir, clear=True)[
            "total_s"
        ]

    run(small)  # warm codegen/readers for this plan shape
    t_small = min(run(small) for _ in range(runs))
    t_big = [run(big) for _ in range(runs)]
    return {"t_small": t_small, "t_big": min(t_big), "t_big_first": t_big[0]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default=SMALL)
    ap.add_argument("--big", default=BIG)
    ap.add_argument("--ratio", type=float, default=RATIO)
    ap.add_argument("--out", default=str(_REPO / "tools" / "scale_soak.json"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--fresh", action="store_true",
        help="one subprocess (fresh JVM) per plan measurement",
    )
    ap.add_argument("--phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument("plans", nargs="*")
    args = ap.parse_args()
    small, big, ratio = args.small, args.big, args.ratio

    if args.phase:
        # child mode: the phase is the plan name
        phase_result(measure_one(tool_session("scale-soak"), args.phase,
                                 small, big, args.runs))
        return

    from omniengine_spark.plans import QUERIES

    spark = None if args.fresh else tool_session("scale-soak")
    argv = ["--small", small, "--big", big, "--runs", str(args.runs)]
    rows = []
    for name in args.plans or DEFAULT_PLANS:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        if args.fresh:
            try:
                r = run_phase(__file__, name, argv)
            except RuntimeError as exc:
                print(exc, file=sys.stderr, flush=True)
                continue
        else:
            r = measure_one(spark, name, small, big, args.runs)
        exp = math.log(r["t_big"] / r["t_small"]) / math.log(ratio)
        rows.append({
            "plan": name,
            "t_small": round(r["t_small"], 2),
            "t_big": round(r["t_big"], 2),
            "t_big_first": round(r["t_big_first"], 2),
            "exponent": round(exp, 2),
        })
        print(
            f"{name:32s} {r['t_small']:6.2f}s -> "
            f"{r['t_big']:6.2f}s   e={exp:+.2f}",
            flush=True,
        )
    fresh = {"fresh_jvm_per_plan": True} if args.fresh else {}
    out = Path(args.out)
    out.write_text(json.dumps(
        {"small": small, "big": big, "ratio": ratio, **fresh, "rows": rows},
        indent=1,
    ))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
