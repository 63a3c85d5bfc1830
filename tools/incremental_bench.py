#!/usr/bin/env python
"""Shard-ingest vs one-shot dedup at rv scale — the number the
incremental MinHash index exists to make small.

Three phases, each in its OWN subprocess (fresh JVM, same rationale
as scale_soak --fresh):

    build    corpus-day index build over doc_id % 10 != 7 (the one
             full-corpus scan the lifecycle ever performs)
    ingest   shard ingest of doc_id % 10 = 7 against the persisted
             index: band-join vs stored entries + candidate-pruned
             verify + delta commits
    oneshot  dedup_minhash_lsh over the FULL corpus — what a
             pipeline without the index pays on every run

Production runs `build` once and `ingest` per crawl shard, so the
claim to verify is  t_ingest ≪ t_oneshot  (the shard here is ~10% of
the corpus by construction; at a real 0.1% shard the gap widens —
ingest cost is shard-proportional plus candidate traffic).
``ingest`` and ``oneshot`` return the pair set, so they are
``run_measured`` runs (the checksum collect forces every pair);
``build`` is ``measured``.  Each phase's record — wall time, Spark
counters and, for the pair sets, the checksum — is under ``phases``.

Usage:
    python tools/incremental_bench.py [--data .localdata/rv25]
        [--out tools/incremental_bench.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from fractions import Fraction
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.measure import (  # noqa: E402
    measured,
    phase_result,
    run_measured,
    run_phase,
    tool_session,
)

MOD, REM = 10, 7
PARAMS = dict(n=3, num_hashes=128, band_rows=4)


def _docs(spark, data: str):
    from omniengine_spark.sources import fan_out, load_table

    return fan_out(load_table(spark, data, "documents"))


def _in_shard():
    from pyspark.sql import functions as F

    return F.col("doc_id") % MOD == REM


def phase_build(spark, data: str, root: str) -> dict:
    from omniengine_spark.operators import minhash_index as MI

    corpus = _docs(spark, data).filter(~_in_shard())
    return measured(spark, lambda: MI.build_index(
        spark, root, corpus, "doc_id", "text",
        threshold=Fraction(4, 5), tag="bench base", **PARAMS,
    ))


def phase_ingest(spark, data: str, root: str) -> dict:
    from omniengine_spark.operators import minhash_index as MI

    return run_measured(spark, lambda spark, data: MI.ingest_shard(
        spark, root, _docs(spark, data).filter(_in_shard()), "doc_id", "text",
        threshold=Fraction(4, 5), tag="bench +shard", **PARAMS,
    ), data, clear=False)


def phase_oneshot(spark, data: str) -> dict:
    from omniengine_spark.operators import dedup as D

    return run_measured(spark, lambda spark, data: D.minhash_lsh_pairs(
        _docs(spark, data), "doc_id", "text",
        threshold=Fraction(4, 5), **PARAMS,
    ), data, clear=False)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=str(_REPO / ".localdata" / "rv25"))
    ap.add_argument(
        "--out", default=str(_REPO / "tools" / "incremental_bench.json")
    )
    ap.add_argument("--phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--root", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.phase:
        spark = tool_session("inc-bench")
        phase_result({
            "build": lambda: phase_build(spark, args.data, args.root),
            "ingest": lambda: phase_ingest(spark, args.data, args.root),
            "oneshot": lambda: phase_oneshot(spark, args.data),
        }[args.phase]())
        return

    root = tempfile.mkdtemp(prefix="incbench-")
    times, runs = {}, {}
    for phase in ("build", "ingest", "oneshot"):
        runs[phase] = run_phase(__file__, phase,
                                ["--data", args.data, "--root", root])
        times[phase] = round(runs[phase]["total_s"], 2)
        print(f"{phase:8s} {times[phase]:7.2f}s", flush=True)

    out = {
        "data": args.data,
        "fresh_jvm_per_phase": True,
        "params": {**PARAMS, "threshold": "4/5",
                   "shard": f"doc_id % {MOD} = {REM}"},
        "t_build": times["build"],
        "t_ingest": times["ingest"],
        "t_oneshot": times["oneshot"],
        "ingest_over_oneshot": round(
            times["ingest"] / times["oneshot"], 3
        ),
        "phases": runs,
        "note": (
            "build runs once per corpus; ingest is the per-shard "
            "steady state. The shard is ~10% of the corpus here; "
            "production shards are smaller, widening the gap."
        ),
    }
    Path(args.out).write_text(json.dumps(out, indent=1))
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
