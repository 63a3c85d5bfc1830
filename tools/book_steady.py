#!/usr/bin/env python
"""Steady-state pruned serving under the LSM rhythm: the trailing-24 h
domain query (j9b's shape) served from a versioned, stats-committed
events book while the archive grows 6× through delta ingests and a
mid-run CLUSTERED compaction — the evidence that planning-time file
skipping turns an O(archive) serving query into an O(window) one, and
that the squash (versioned.compact with cluster_by) keeps it that way.
The measured currency is BYTES AND FILES TOUCHED (kept ~1 file /
~1.5 MB vs an archive growing to 144 files / 213 MB): at local scale
both wall-clocks are sub-second and overhead-dominated, while at
100 TB the bytes ratio IS the wall-clock ratio — IO dominates there.

Loop, per step (each phase its OWN subprocess / fresh JVM — the
stream_steady.py lesson: one-JVM loops drown the signal in GC and
accumulated shuffle state, and a daily ingest is its own job run in
production anyway):

  ingest   delta-commit the next 90-day slab (day-ranged files,
           footer stats scraped into the version manifest)
  query    in one JVM, run the trailing-24 h aggregate twice —
           PRUNED first (anchor from stats_minmax metadata, files
           from the manifest intersection; cold cache), then FULL
           (read_version, no prune) — each a ``run_measured`` run
           — and assert the two result checksums are equal (skipping
           is advisory; a wrong drop would show up here, not just in
           unit tests).  Pruned runs first so the full scan cannot
           pre-warm the window's pages for it.

After ingest 5: versioned.compact(cluster_by=["ts"]) + vacuum — the
squash must neither lose the stats manifest (round-11 default) nor
scramble the day-ranged layout (cluster_by), so later steps keep
pruning O(1) files out of a now-single-version book.

Comparable signals are WITHIN-run (sandbox seconds swing ~7×
run-to-run): pruned_sec flat vs full_sec growing with the archive,
kept/total shrinking, and the pruned==full equality bit.  The
synthetic table replicates sf0.1 events R times with +30 d shifts per
copy (same generator columns, disjoint time ranges) — content is
irrelevant here, only layout and volume are.

Usage:
    python tools/book_steady.py [--sf /root/testdata/sf0.1] [--r 36]
        [--out tools/book_steady.json]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
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

EPOCH = dt.datetime(2024, 1, 1)
SPAN_DAYS = 30           # one sf0.1 events copy spans ~Jan 1-30
BASE_DAYS = 180          # snapshot seed: copies 0-5
SLAB_DAYS = 90           # each delta ingest: 3 copies
N_INGESTS = 10
COMPACT_AFTER = 5
FILES_PER_SLAB = 12      # ~7.5 days per file, both seed and slabs
BASE_FILES = 24
APP = "book-steady"


def phase_gen(sf: str, data: str, r: int, dup: int) -> dict:
    """Materialize the replicated events table as plain parquet — the
    'upstream feed' the book ingests from.  R copies shifted +30 d
    each stretch the TIME axis (archive growth); ``dup`` copies per
    day fatten the VOLUME axis so the full-scan counterfactual is
    data-dominated, not JVM-bring-up-dominated (at r=36 dup=10:
    36 M rows / ~600 MB over 1080 days)."""
    from pyspark.sql import functions as F

    from omniengine_spark.sources import load_table

    spark = tool_session(APP)
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    copies = (
        ev.crossJoin(spark.range(r).select(F.col("id").alias("copy")))
        .crossJoin(spark.range(dup).select(F.col("id").alias("dup")))
        .select(
            (
                F.col("event_id")
                + F.col("copy") * 10_000_000
                + F.col("dup") * 1_000_000_000
            ).alias("event_id"),
            (
                F.col("ts")
                + F.make_interval(days=F.col("copy") * SPAN_DAYS)
            ).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
    )
    return measured(
        spark,
        lambda: copies.repartitionByRange(r * 2, "ts")
        .write.mode("overwrite").parquet(data),
    )


def _slab(spark, data: str, lo_day: int, hi_day: int):
    from pyspark.sql import functions as F

    df = spark.read.parquet(data)
    lo = EPOCH + dt.timedelta(days=lo_day)
    hi = EPOCH + dt.timedelta(days=hi_day)
    return df.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    )


def phase_base(data: str, root: str) -> dict:
    from omniengine_spark.sources import versioned as V

    spark = tool_session(APP)
    slab = _slab(spark, data, 0, BASE_DAYS)
    return measured(spark, lambda: V.commit(
        slab.repartitionByRange(BASE_FILES, "ts"),
        root,
        "base",
        stats_cols=["ts"],
    ))


def phase_ingest(data: str, root: str, lo_day: int) -> dict:
    from omniengine_spark.sources import versioned as V

    spark = tool_session(APP)
    slab = _slab(spark, data, lo_day, lo_day + SLAB_DAYS)
    return measured(spark, lambda: V.commit(
        slab.repartitionByRange(FILES_PER_SLAB, "ts"),
        root,
        f"slab d{lo_day}",
        base_version=V.current_version(root),
        stats_cols=["ts"],
    ))


def phase_compact(data: str, root: str) -> dict:
    from omniengine_spark.sources import versioned as V

    def squash():
        V.compact(spark, root, "clustered squash", cluster_by=["ts"])
        V.vacuum(root, keep_last=1)

    spark = tool_session(APP)
    return measured(spark, squash)


def phase_query(data: str, root: str) -> dict:
    """Trailing-24 h by event_type: pruned (metadata anchor + file
    skipping) FIRST, then full scan; equal result checksums asserted."""
    from pyspark.sql import functions as F

    from omniengine_spark.sources import versioned as V

    spark = tool_session(APP)  # get_spark pins session tz UTC (session.py)

    # warm the parquet reader / codegen / agg pathway on a throwaway
    # 1-row table so the FIRST timed query isn't charged for JVM
    # bring-up (the smoke run showed ~2-3 s of it) — without touching
    # the book's files, whose cold-cache read is part of the claim
    warm = tempfile.mkdtemp(prefix="book-steady-warm-")
    try:
        spark.range(1).selectExpr(
            "timestamp'2000-01-01' AS ts", "'w' AS event_type",
            "1.0 AS value",
        ).write.mode("overwrite").parquet(warm)
        (
            spark.read.parquet(warm)
            .groupBy("event_type")
            .agg(F.sum(F.col("value").cast("decimal(18,4)")))
            .collect()
        )
    finally:
        shutil.rmtree(warm, ignore_errors=True)

    rng = V.stats_minmax(root, "ts")
    assert rng is not None, "anchor must come from the manifest"
    window_lo = rng[1] - dt.timedelta(days=1)

    def window(prune):
        def fn(spark, root):
            return (
                V.read_version(spark, root, prune=prune)
                .filter(F.col("ts") > F.lit(window_lo.replace(tzinfo=None)))
                .groupBy("event_type")
                .agg(
                    F.sum(F.col("value").cast("decimal(18,4)")).alias("v"),
                    F.count(F.lit(1)).alias("n"),
                )
            )

        return fn

    # the hot repeat re-runs the built frame: footers/pages cached,
    # planning amortized — the serve-many steady state, where fixed
    # JVM/FS bring-up (which dominates BOTH cold numbers at this data
    # size) divides out
    pruned = run_measured(spark, window({"ts": (window_lo, None)}), root,
                          clear=False)
    pruned_hot = run_measured(spark, lambda s, d: pruned["df"], root,
                              clear=False)

    kept, total = V.pruned_files(root, {"ts": (window_lo, None)})
    kept_mb = sum(os.path.getsize(f) for f in kept) / 1e6
    all_files, _ = V.pruned_files(root, {})
    total_mb = sum(os.path.getsize(f) for f in all_files) / 1e6

    full = run_measured(spark, window(None), root, clear=False)
    full_hot = run_measured(spark, lambda s, d: full["df"], root,
                            clear=False)
    assert pruned["checksum"] == full["checksum"] and pruned["checksum"][1], (
        f"pruned result diverged: {pruned['checksum']} vs {full['checksum']}"
    )
    return {
        "pruned_sec": round(pruned["total_s"], 2),
        "pruned_hot_sec": round(pruned_hot["total_s"], 3),
        "full_sec": round(full["total_s"], 2),
        "full_hot_sec": round(full_hot["total_s"], 3),
        "pruned_input_mb": round(pruned["input_mb"], 2),
        "full_input_mb": round(full["input_mb"], 2),
        "kept_files": len(kept),
        "total_files": total,
        "kept_mb": round(kept_mb, 2),
        "total_mb": round(total_mb, 2),
        "groups": pruned["checksum"][1],
        "equal": True,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--r", type=int, default=36)
    ap.add_argument("--dup", type=int, default=10)
    ap.add_argument(
        "--out", default=str(_REPO / "tools" / "book_steady.json")
    )
    ap.add_argument("--phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--data", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--root", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--lo", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.phase:
        phase_result({
            "gen": lambda: phase_gen(args.sf, args.data, args.r, args.dup),
            "base": lambda: phase_base(args.data, args.root),
            "ingest": lambda: phase_ingest(args.data, args.root, args.lo),
            "compact": lambda: phase_compact(args.data, args.root),
            "query": lambda: phase_query(args.data, args.root),
        }[args.phase]())
        return

    data = tempfile.mkdtemp(prefix="book-steady-data-")
    root = tempfile.mkdtemp(prefix="book-steady-root-")
    argv = ["--sf", args.sf, "--r", str(args.r), "--dup", str(args.dup),
            "--data", data, "--root", root]

    def phase(name: str, lo: int | None = None) -> dict:
        res = run_phase(__file__, name,
                        argv if lo is None else argv + ["--lo", str(lo)])
        shown = res.get("pruned_sec", res.get("total_s"))
        print(f"{name:8s} lo={lo} {shown}  (load {res['loadavg']:.1f})",
              flush=True)
        return res

    try:
        t_gen = phase("gen")["total_s"]
        t_base = phase("base")["total_s"]
        steps = []
        t_compact = None
        for i in range(N_INGESTS):
            lo = BASE_DAYS + i * SLAB_DAYS
            ing = phase("ingest", lo=lo)
            if i + 1 == COMPACT_AFTER:
                t_compact = phase("compact")["total_s"]
            q = phase("query")
            steps.append(
                {
                    "step": i + 1,
                    "archive_days": lo + SLAB_DAYS,
                    "compacted": i + 1 >= COMPACT_AFTER,
                    "ingest_sec": round(ing["total_s"], 2),
                    "ingest_output_mb": round(ing["output_mb"], 2),
                    **q,
                }
            )
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)

    pruned = [s["pruned_sec"] for s in steps]
    hot_ratio = [
        round(s["full_hot_sec"] / max(s["pruned_hot_sec"], 1e-9), 2)
        for s in steps
    ]
    out = {
        "sf": args.sf,
        "replicas": args.r,
        "dup": args.dup,
        "fresh_jvm_per_phase": True,
        "t_gen": round(t_gen, 2),
        "t_base": round(t_base, 2),
        "t_compact": t_compact and round(t_compact, 2),
        "compact_after_step": COMPACT_AFTER,
        "steps": steps,
        "pruned_max_over_min": round(max(pruned) / min(pruned), 2),
        "hot_full_over_pruned_per_step": hot_ratio,
        "bytes_ratio_last_step": round(
            steps[-1]["total_mb"] / max(steps[-1]["kept_mb"], 1e-9), 1
        ),
        "note": (
            "pruned serve is O(window) in the currency that matters "
            "at 100 TB — BYTES AND FILES TOUCHED: kept stays ~1 file "
            "/ ~1.5 MB while the archive grows to 144 files / 213 MB, "
            "across a mid-run clustered squash, with pruned==full "
            "equality asserted every step.  Wall-clock at this volume "
            "is scheduling/bring-up dominated on BOTH paths (32 local "
            "cores chew the whole archive in <1 s hot), so seconds "
            "are recorded but are NOT the signal; the bytes ratio is "
            "what scales to the IO-dominated 100 TB regime"
        ),
    }
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out)[:600])


if __name__ == "__main__":
    main()
