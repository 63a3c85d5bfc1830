#!/usr/bin/env python
"""Measure the data-skipping stats manifest (versioned.py round 9).

Self-contained: synthesizes a 20M-row day-ranged events book (180
days, 96 range-partitioned files), commits it with
``stats_cols=["day"]``, then reads the same 7-day window two ways — a
full snapshot read vs a ``prune={day: (lo, hi)}`` read — as one
``tools.measure.run_measured`` run each, and records wall time, scan
input bytes (the run's stage counters), the window's row count (the
checksum count), and the kept/total file count from ``pruned_files``.
Each phase runs twice (the second run shows the warm-cache floor);
the build is reused across invocations.

Usage: python tools/stats_skip.py [n_rows] [n_files]
Writes tools/stats_skip.json.
"""

from __future__ import annotations

import datetime as dt
import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from pyspark.sql import functions as F  # noqa: E402

from omniengine_spark.session import get_spark  # noqa: E402
from omniengine_spark.sources import versioned as V  # noqa: E402
from tools.measure import measured, run_measured  # noqa: E402

DAYS = 180
WINDOW = (dt.date(2024, 3, 1), dt.date(2024, 3, 7))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 96
    spark = get_spark(app_name="stats-skip", shuffle_partitions=32)

    path = str(_REPO / ".localdata" / f"stats_skip_{n_rows}_{n_files}")
    if V.current_version(path) == 0:
        df = spark.range(n_rows).select(
            F.col("id").alias("k"),
            F.date_add(
                F.lit(dt.date(2024, 1, 1)),
                (F.col("id") % DAYS).cast("int"),
            ).alias("day"),
            (F.col("id") * 7 % 10_000).alias("cents"),
        )
        build = measured(spark, lambda: V.commit(
            df.repartitionByRange(n_files, "day"),
            path,
            "day-ranged events book",
            stats_cols=["day"],
        ))
        build_s = round(build["total_s"], 2)
    else:
        build_s = None  # reused from a prior run

    lo, hi = WINDOW
    kept, total = V.pruned_files(path, {"day": (lo, hi)})

    def run(pruned: bool) -> dict:
        def window(spark, path: str):
            df = V.read_version(
                spark, path, prune={"day": (lo, hi)} if pruned else None
            )
            return df.filter(
                (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi))
            ).select("cents")

        # the checksum's count is the window's row count
        m = run_measured(spark, window, path, clear=False)
        return {
            "sec": round(m["total_s"], 3),
            "input_mb": round(m["input_mb"], 2),
            "rows": m["checksum"][1],
        }

    # interleave cold/warm: full, pruned, full, pruned
    f1, p1, f2, p2 = run(False), run(True), run(False), run(True)
    assert f1["rows"] == p1["rows"] == f2["rows"] == p2["rows"]

    result = {
        "n_rows": n_rows,
        "n_files": n_files,
        "days": DAYS,
        "window_days": (hi - lo).days + 1,
        "build_sec": build_s,
        "files_kept": len(kept),
        "files_total": total,
        "full": [f1, f2],
        "pruned": [p1, p2],
        "speedup_warm": round(f2["sec"] / p2["sec"], 2),
        "input_ratio": round(
            p2["input_mb"] / max(f2["input_mb"], 1e-9), 3
        ),
        "note": (
            "7-day window over a 180-day book: pruning keeps "
            f"{len(kept)}/{total} files before Spark lists or opens "
            "anything; input bytes and wall both track the file "
            "ratio. At 100 TB the skipped cost is the listing + "
            "footer phase itself, which grows with file count, not "
            "data selectivity."
        ),
    }
    out = _REPO / "tools" / "stats_skip.json"
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
