#!/usr/bin/env python
"""Streaming throughput bench: sustained micro-batch rate and
per-batch latency for the stateful streaming plans.

The x-family proves streaming SEMANTICS (oracle parity of the drained
result); nothing measured the RATE.  This tool chunks the events
table into N time-range parquet files, streams them through the plan
with ``maxFilesPerTrigger=1`` (one chunk per micro-batch — the local
stand-in for a message bus delivering data over time), and records
per-batch input rows and duration from the StreamingQueryListener
progress feed.

Reported per plan: total rows, wall seconds, sustained rows/s,
micro-batch count, and p50/p95 batch duration — into
tools/stream_bench.json.  The chunks are TIME-RANGE splits
(repartitionByRange on ts), so state evolves the way a live feed
would drive it: watermarks advance monotonically batch over batch
instead of one degenerate drain-everything batch.

Usage:
    python tools/stream_bench.py [sf_dir] [--chunks N] [plan ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.measure import run_measured  # noqa: E402

DEFAULT_PLANS = ["x9_stream_balance_fold", "x12_stream_timer_expiry"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=".localdata/sf1")
    ap.add_argument("--chunks", type=int, default=20)
    ap.add_argument("plans", nargs="*")
    args = ap.parse_args()

    # one chunk file per micro-batch
    os.environ["SPARK_GRAFT_STREAM_MAX_FILES"] = "1"

    from pyspark.sql.streaming import StreamingQueryListener

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.session import get_spark

    spark = get_spark(app_name="stream-bench", shuffle_partitions=32)

    # --- build the chunked source dir -------------------------------
    src = Path(args.sf_dir).resolve()
    staged = Path(".localdata") / f"stream_{src.name}_{args.chunks}"
    ev_dir = staged / "events.parquet"
    if not ev_dir.exists():
        staged.mkdir(parents=True, exist_ok=True)
        ev = spark.read.parquet(str(src / "events.parquet"))
        (
            ev.repartitionByRange(args.chunks, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(str(ev_dir))
        )
        # The file stream consumes by (modTime, path), but write TASKS
        # finish in arbitrary order — so part-00017 can carry an
        # earlier mtime than part-00003 and the "feed" delivers time
        # ranges OUT OF ORDER.  The watermark then jumps ahead on the
        # early-delivered late range and genuinely-old chunks arrive
        # as beyond-watermark late data, which stateful plans DROP by
        # contract (chunk spans here are ~36 h ≫ the 1 h tolerance) —
        # measured as the 13,819-vs-14,996 row x12 discrepancy in
        # round 6.  Stamp mtimes in range (=time) order so the staged
        # source honors the in-order-delivery contract a real bus
        # partition provides.
        parts = sorted(
            p for p in ev_dir.iterdir()
            if p.name.startswith("part-")
        )
        base = time.time() - len(parts) - 60
        for i, p in enumerate(parts):
            os.utime(p, (base + i, base + i))
        for f in src.glob("*.parquet"):
            dst = staged / f.name
            if f.name != "events.parquet" and not dst.exists():
                os.symlink(f, dst)
        print(f"staged {args.chunks}-chunk stream source at {staged}",
              flush=True)

    # --- capture per-batch progress ----------------------------------
    batches: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            batches.append({
                "rows": p.numInputRows,
                "ms": (p.durationMs or {}).get("triggerExecution"),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Capture()
    spark.streams.addListener(listener)

    results = []
    try:
        for name in args.plans or DEFAULT_PLANS:
            if name not in QUERIES:
                print(f"skip {name}: not registered", file=sys.stderr)
                continue
            batches.clear()
            m = run_measured(spark, QUERIES[name], str(staged), clear=False)
            wall = m["total_s"]
            real = [b for b in batches if b["rows"] > 0 and b["ms"]]
            rows = sum(b["rows"] for b in real)
            durs = sorted(b["ms"] for b in real)
            r = {
                "plan": name,
                "input_rows": rows,
                "out_rows": m["checksum"][1],
                "wall_sec": round(wall, 2),
                "jobs": m["jobs"],
                "rows_per_sec": round(rows / wall, 0),
                "n_batches": len(real),
                "batch_ms_p50": statistics.median(durs) if durs else None,
                "batch_ms_p95": durs[int(0.95 * (len(durs) - 1))]
                if durs else None,
            }
            results.append(r)
            print(
                f"{name:28s} {rows} rows / {wall:6.2f}s = "
                f"{r['rows_per_sec']:>9.0f} rows/s over "
                f"{r['n_batches']} batches "
                f"(p50 {r['batch_ms_p50']}ms p95 {r['batch_ms_p95']}ms)",
                flush=True,
            )
    finally:
        spark.streams.removeListener(listener)

    out = _REPO / "tools" / "stream_bench.json"
    blob = json.loads(out.read_text()) if out.exists() else {}
    blob[f"{src.name}/{args.chunks}-batches"] = {
        "sf_dir": str(src), "chunks": args.chunks, "rows": results,
    }
    out.write_text(json.dumps(blob, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
