#!/usr/bin/env python
"""Steady-state streamed index ingest: per-batch cost across many
batches with compaction mid-run — the evidence that the LSM loop's
per-batch cost does NOT creep with delta-chain length (it does grow
mildly with corpus size: the band join scans the stored entries
table, which is the operator's honest O(corpus-index) term), not
just that one ingest is cheaper than one rebuild
(tools/incremental_bench.py).

Layout: the base corpus (doc_id % 10 < 5, 50%) builds the index
once; five 10% shards then ingest sequentially through
``minhash_index.ingest_shard`` (each a delta commit, so later
batches dedup against corpus + earlier batches); ``compact_index`` +
``vacuum`` run after batch 3 — mid-run, so the artifact shows
per-batch cost both on a growing chain AND right after a squash.
Finally the compacted snapshot's pair set is checked engine-side
against a one-shot ``minhash_lsh_pairs`` over ALL docs — equality is
what makes the loop trustworthy (the plan-level DuckDB oracle is
all-pairs/quadratic: measured >58 min at sf1's 50k docs before
timeout, so sf1 oracle parity is excluded by documented policy and
THIS engine-vs-engine equality at 25× that scale is the check).

Every phase runs in its OWN subprocess (fresh JVM): a first cut ran
the loop in one JVM and per-batch noise from GC / accumulated
shuffle state swamped the chain-length signal (165 s vs 59 s at
equal chain length).  Fresh JVMs also match the production shape — a
daily ingest is its own job run.  Each phase records loadavg at
start; absolute seconds on this sandbox vary run-to-run (BENCH_r09's
lesson), the comparable signals are WITHIN-run: batch-over-batch
shape and the post-compaction drop.

Usage:
    python tools/stream_steady.py [--data .localdata/rv25]
        [--out tools/stream_steady.json]
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
    run_phase,
    tool_session,
)

MOD = 10
BASE_REMS = tuple(range(5))
BATCH_REMS = (5, 6, 7, 8, 9)
COMPACT_AFTER = 3  # batches ingested before the mid-run squash
PARAMS = dict(n=3, num_hashes=128, band_rows=4)
THRESH = Fraction(4, 5)


def _docs(spark, data: str):
    from omniengine_spark.sources import fan_out, load_table

    return fan_out(load_table(spark, data, "documents"))


def phase_build(spark, data: str, root: str) -> dict:
    from pyspark.sql import functions as F

    from omniengine_spark.operators import minhash_index as MI

    base = _docs(spark, data).filter((F.col("doc_id") % MOD).isin(*BASE_REMS))
    return measured(spark, lambda: MI.build_index(
        spark, root, base, "doc_id", "text",
        threshold=THRESH, tag="base", **PARAMS,
    ))


def phase_batch(spark, data: str, root: str, rem: int) -> dict:
    from pyspark.sql import functions as F

    from omniengine_spark.operators import minhash_index as MI

    shard = _docs(spark, data).filter(F.col("doc_id") % MOD == rem)
    return measured(spark, lambda: MI.ingest_shard(
        spark, root, shard, "doc_id", "text",
        threshold=THRESH, tag=f"base +b{rem}", **PARAMS,
    ))


def phase_compact(spark, root: str) -> dict:
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import versioned as V

    def squash():
        MI.compact_index(spark, root)
        for path in MI.index_paths(root):
            V.vacuum(path, keep_last=1)

    return measured(spark, squash)


def phase_equality(spark, data: str, root: str) -> dict:
    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import versioned as V

    def pair_set(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        }

    def check():
        final = pair_set(V.read_version(spark, MI.index_paths(root)[1]))
        one_shot = pair_set(D.minhash_lsh_pairs(
            _docs(spark, data), "doc_id", "text", threshold=THRESH, **PARAMS
        ))
        assert final == one_shot and final, (
            f"stream loop diverged: {len(final)} vs {len(one_shot)} pairs"
        )
        print(f"equality OK pairs={len(final)}", file=sys.stderr)

    return measured(spark, check)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=str(_REPO / ".localdata" / "rv25"))
    ap.add_argument(
        "--out", default=str(_REPO / "tools" / "stream_steady.json")
    )
    ap.add_argument("--phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--root", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--rem", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.phase:
        spark = tool_session("stream-steady")
        phase_result({
            "build": lambda: phase_build(spark, args.data, args.root),
            "batch": lambda: phase_batch(
                spark, args.data, args.root, args.rem
            ),
            "compact": lambda: phase_compact(spark, args.root),
            "equality": lambda: phase_equality(spark, args.data, args.root),
        }[args.phase]())
        return

    root = tempfile.mkdtemp(prefix="stream-steady-")
    argv = ["--data", args.data, "--root", root]

    def phase(name: str, rem: int | None = None) -> dict:
        res = run_phase(__file__, name,
                        argv if rem is None else argv + ["--rem", str(rem)])
        res["total_s"] = round(res["total_s"], 2)
        label = name if rem is None else f"{name} rem={rem}"
        print(f"{label:14s} {res['total_s']:8.2f}s  "
              f"(load {res['loadavg']:.1f})", flush=True)
        return res

    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import versioned as V

    t_build = phase("build")["total_s"]
    epath = MI.index_paths(root)[0]
    batches = []
    t_compact = None
    for i, rem in enumerate(BATCH_REMS, start=1):
        chain = len(V.version_history(epath))
        res = phase("batch", rem)
        batches.append(
            {
                "batch": i,
                "sec": res["total_s"],
                "entries_chain_len": chain,
                "corpus_pct_indexed": 50 + (i - 1) * 10,
                "loadavg": res["loadavg"],
                "jobs": res["jobs"],
                "tasks": res["tasks"],
                "input_mb": round(res["input_mb"], 2),
                "shuffle_write_mb": round(res["shuffle_write_mb"], 2),
            }
        )
        if i == COMPACT_AFTER:
            t_compact = phase("compact")["total_s"]
    t_eq = phase("equality")["total_s"]

    secs = [b["sec"] for b in batches]
    out = {
        "data": args.data,
        "fresh_jvm_per_phase": True,
        "params": {**PARAMS, "threshold": "4/5",
                   "base": "doc_id%10<5", "batches": "10% each x5",
                   "compact_after_batch": COMPACT_AFTER},
        "t_build": t_build,
        "t_compact": t_compact,
        "t_equality_check": t_eq,
        "batches": batches,
        "batch_max_over_min": round(max(secs) / min(secs), 2),
        "oneshot_equality": "engine-side vs minhash_lsh_pairs, exact",
        "note": (
            "per-batch cost grows with the INDEXED CORPUS (the band "
            "join's stored-entries scan — the operator's honest "
            "O(index) term), not with delta-chain length: batch "
            f"{COMPACT_AFTER + 1} (chain reset to 1 by the mid-run "
            "compaction, biggest corpus so far) must not be slower "
            "than the pre-compaction batches. Absolute seconds are "
            "box-dependent (BENCH_r09); compare shapes within a run."
        ),
    }
    Path(args.out).write_text(json.dumps(out, indent=1))
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
