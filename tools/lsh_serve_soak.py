#!/usr/bin/env python
"""Persistent-LSH serving soak: does the index actually buy
corpus-size-independent query cost?

The claim (operators/ann_index.py lsh_*): a probed query batch costs
|batch|·T·(1+n_probes)·occupancy candidate rows — CONSTANT in corpus
size N — while the one-shot ``sim_lsh_ann_topk`` self-join costs
∝ N·T·occupancy.  This tool measures both sides of that claim per
rung, plus the physical evidence (kept partition dirs out of the
fixed 64) and the quality trade (recall@5 vs brute force, which is
ALLOWED to decline under occupancy-adaptive bits — more active bits
= smaller buckets — but must be recorded, not assumed).

Wall-clock at these local rungs is bring-up-dominated; CANDIDATE
ROWS and KEPT DIRS are the load-independent currencies (the same
posture as tools/book_steady.py: at 100 TB the bytes/candidate ratio
IS the wall-clock ratio).

Usage:
    python tools/lsh_serve_soak.py [rung_dir ...]
Writes tools/lsh_serve_soak.json.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.ann_recall import recall, topk_sets  # noqa: E402
from tools.measure import measured, run_measured  # noqa: E402

DEFAULT_RUNGS = [
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    ".localdata/sf1",
    ".localdata/rv5",
]
N_QUERIES = 20
K = 5
T = 4
PROBES = 2
SHARD_BITS = 4
# the one-shot symmetric plan is the DEMOTED quadratic tail (that is
# why the index exists); past this rung re-measuring it costs most of
# an hour per run (measured ONCE at the 20k rung: 1062 s vs an 8.9 s
# cold persisted-index serve, same JVM — the 119x that justifies the
# index), so the artifact records the skip explicitly instead of
# re-paying it every soak
ONESHOT_CAP = 5_000


def main() -> None:
    from pyspark.sql import functions as F

    from omniengine_spark.operators import ann_index as AI
    from omniengine_spark.plans import QUERIES
    from omniengine_spark.plans.similarity import _lsh_index_tables
    from omniengine_spark.session import get_spark
    from omniengine_spark.sources import load_table

    rungs = sys.argv[1:] or DEFAULT_RUNGS
    spark = get_spark()
    out = {"rungs": []}
    for rung in rungs:
        if not (Path(rung) / "embeddings.parquet").exists():
            print(f"skip {rung}: not generated", flush=True)
            continue
        emb = load_table(spark, rung, "embeddings")
        n = emb.count()
        queries = emb.orderBy("vec_id").limit(N_QUERIES)

        build = measured(
            spark, lambda: _lsh_index_tables(spark, rung, base_only=False)
        )
        entries, n_act = build["result"]

        def served():
            return AI.lsh_query_index(
                queries, entries, "vec_id", "embedding",
                n_tables=T, n_act=n_act, n_probes=PROBES, k=K,
                shard_bits=SHARD_BITS, dim=64,
            )

        cold = run_measured(spark, lambda s, d: served(), rung, clear=False)
        warm = run_measured(spark, lambda s, d: served(), rung, clear=False)

        # candidate volume: the scored join BEFORE distinct/rank —
        # the honest cost currency (each row = one exact rescore +
        # its share of the entry-scan bytes)
        qk = AI.lsh_keyed(
            queries, "vec_id", "embedding",
            n_tables=T, n_act=n_act, n_probes=PROBES, dim=64,
        ).select(
            F.col("vec_id").alias("query_id"),
            "t",
            F.shiftright("bucket", max(0, n_act - SHARD_BITS))
            .cast("long").alias("shard"),
            "bucket",
        )
        candidates = (
            qk.join(entries, ["t", "shard", "bucket"])
            .filter(F.col("query_id") != F.col("nbr_id"))
            .count()
        )
        kept_dirs = (
            qk.select("t", "shard").distinct().count()
        )
        total_dirs = (
            entries.select("t", "shard").distinct().count()
        )

        if n <= ONESHOT_CAP:
            oneshot = run_measured(
                spark, QUERIES["sim_lsh_ann_topk"], rung, clear=False
            )
            oneshot_sets = topk_sets(oneshot["df"])
            oneshot_s = round(oneshot["total_s"], 2)
        else:
            oneshot_sets, oneshot_s = None, None

        exact = topk_sets(
            QUERIES["sim_bruteforce_cosine_topk"](spark, rung)
        )
        served_sets = topk_sets(served())

        row = {
            "rung": rung,
            "n_vectors": n,
            "n_act": n_act,
            "build_s": round(build["total_s"], 2),
            "build_jobs": build["jobs"],
            "build_output_mb": round(build["output_mb"], 2),
            "serve_cold_s": round(cold["total_s"], 2),
            "serve_warm_s": round(warm["total_s"], 2),
            "serve_jobs": cold["jobs"],
            "serve_rows": cold["checksum"][1],
            "candidates": candidates,
            "candidates_per_query": round(candidates / N_QUERIES, 1),
            "kept_dirs": kept_dirs,
            "total_dirs": total_dirs,
            "oneshot_s": oneshot_s,
            "recall_served": round(recall(served_sets, exact), 3),
            "recall_oneshot": (
                round(recall(oneshot_sets, exact), 3)
                if oneshot_sets is not None else None
            ),
        }
        out["rungs"].append(row)
        print(json.dumps(row), flush=True)

    out["note"] = (
        "candidates_per_query is the corpus-size-independence claim: "
        "T*(1+probes)*occupancy (~768) under UNIFORM bucket "
        "occupancy. Measured 389 -> 752 -> 858 -> 1338 across 500 -> "
        "100k vectors (~N^0.23): the drift above the uniform bound is "
        "heavy-bucket skew — hyperplanes through clustered data leave "
        "dense buckets, and query homes sit in them (the same "
        "property that demoted the one-shot plan; IVF remains the "
        "named ANN default). Still ~75x fewer rescores than a brute "
        "scan at 100k, and the one-shot symmetric plan measured 1062 "
        "s at the 20k rung vs 8.9 s cold persisted-index serve in the "
        "same JVM (~119x) — re-measuring that quadratic tail costs "
        "most of an hour, so oneshot is skipped (null) past 5000 "
        "vectors. Wall-clock here is dominated by plan COMPILATION "
        "(the n_act*dim literal tree: ~6-9 s at n_act=9 for 20 query "
        "rows), not data; candidates and kept_dirs are the load- "
        "independent currencies. kept_dirs shows dir pruning bites "
        "for SMALL batches (a 240-probe batch covers most of the 64 "
        "dirs; the single-query plan-shape test pins <= 12)."
    )
    (_REPO / "tools" / "lsh_serve_soak.json").write_text(
        json.dumps(out, indent=1)
    )
    print("wrote tools/lsh_serve_soak.json", flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
