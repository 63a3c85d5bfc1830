#!/usr/bin/env python
"""Shuffle-bytes cost model: execute the bench-dominant plans and
record how many bytes each one actually moves (shuffle write + read,
plus spill), from the stage counters of ``tools.measure.run_measured``
(the status store; no Spark UI).

Seconds hide data movement — a plan can get "faster" while starting
to shuffle 10× the bytes (the thing that bites first on a real
cluster).  This census makes movement a reviewable, ratcheted number:
``tests/test_plan_shapes.py::test_shuffle_bytes_ratchet`` fails when a
top plan's movement grows past its recorded ceiling.

Usage:
    python tools/shuffle_census.py [sf_dir] [plan ...]      # record
    python tools/shuffle_census.py --check [sf_dir] [plan ...]

Record mode writes tools/shuffle_census.json keyed by sf dir;
plan_report.py renders it into PLANS.md.  ``--check`` re-measures and
FAILS (exit 1) if any plan now writes more than
1.5 × recorded + 8 MB of shuffle — the ratchet: a data-movement
regression must either be fixed or deliberately re-recorded.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.scale_soak import DEFAULT_PLANS  # noqa: E402


def main() -> None:
    from omniengine_spark.plans import QUERIES
    from omniengine_spark.session import get_spark
    from tools.measure import run_measured

    args = sys.argv[1:]
    check = "--check" in args
    args = [a for a in args if a != "--check"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:] or DEFAULT_PLANS

    spark = get_spark(app_name="shuffle-census", shuffle_partitions=32)

    def run(name: str) -> dict:
        m = run_measured(spark, QUERIES[name], sf_dir, clear=False)
        return {
            "plan": name,
            "sec": round(m["total_s"], 2),
            "shuffle_write_mb": round(m["shuffle_write_mb"], 2),
            "shuffle_read_mb": round(m["shuffle_read_mb"], 2),
            "spill_mb": round(m["disk_spill_mb"], 2),
            "input_mb": round(m["input_mb"], 2),
            "n_stages": m["stages"],
        }

    rows = []
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        r = run(name)
        rows.append(r)
        print(
            f"{r['plan']:32s} {r['sec']:6.2f}s  "
            f"w={r['shuffle_write_mb']:9.2f}MB "
            f"r={r['shuffle_read_mb']:9.2f}MB "
            f"spill={r['spill_mb']:7.2f}MB stages={r['n_stages']}",
            flush=True,
        )

    out = _REPO / "tools" / "shuffle_census.json"
    blob = json.loads(out.read_text()) if out.exists() else {}
    if check:
        base = {r["plan"]: r for r in blob.get(sf_dir, [])}
        fails = 0
        for r in rows:
            b = base.get(r["plan"])
            if b is None:
                print(f"no baseline for {r['plan']} at {sf_dir}")
                continue
            ceiling = 1.5 * b["shuffle_write_mb"] + 8.0
            if r["shuffle_write_mb"] > ceiling:
                fails += 1
                print(
                    f"RATCHET {r['plan']}: shuffle write "
                    f"{r['shuffle_write_mb']} MB > ceiling "
                    f"{ceiling:.2f} MB (recorded "
                    f"{b['shuffle_write_mb']} MB)"
                )
        print("ratchet fails:", fails)
        sys.exit(1 if fails else 0)
    # MERGE into the per-sf record (a partial run must not wipe the
    # rows of plans it didn't execute); rows keep plan-name order
    merged = {r["plan"]: r for r in blob.get(sf_dir, [])}
    merged.update({r["plan"]: r for r in rows})
    blob[sf_dir] = [merged[k] for k in sorted(merged)]
    out.write_text(json.dumps(blob, indent=1))
    print(f"wrote {out} [{sf_dir}] ({len(blob[sf_dir])} plans)")


if __name__ == "__main__":
    main()
