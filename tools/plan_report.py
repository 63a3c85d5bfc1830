#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan census of every registered
query — exchanges (shuffles), sorts, broadcasts, Python stages — so
plan regressions are visible in review diffs.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

NODES = {
    "shuffles": r"Exchange hashpartitioning|Exchange rangepartitioning",
    "broadcasts": r"BroadcastExchange",
    "sorts": r"\bSort \[",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "python": r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
    "agg": r"HashAggregate|ObjectHashAggregate|SortAggregate",
    "topk": r"TakeOrderedAndProject",
}




def _census_lines(plan: str) -> list[str]:
    """Plan lines with persist()-cache reprints collapsed: every
    InMemoryTableScan prints the full cached subtree (re-aliased per
    reference, so naive counting multiplies a once-materialized build
    by its reference count).  Subtrees under InMemoryRelation are cut
    from the main walk and re-added ONCE per distinct cached plan
    (distinct = subtree text with expression/plan ids normalized)."""
    main, subtrees = [], {}
    cur, skip_depth = None, None

    def _flush():
        nonlocal cur, skip_depth
        if cur is not None:
            # normalize expression/plan ids AND tree-prefix glyphs
            # (the same subtree prints with different ':'/' ' rails
            # at each reference position)
            key = "\n".join(
                re.sub(
                    r"#\d+|plan_id=\d+", "#",
                    re.sub(r"^[\s:+-]*", "", ln),
                )
                for ln in cur
            )
            subtrees.setdefault(key, cur)
        cur, skip_depth = None, None

    for ln in plan.splitlines():
        depth = len(re.match(r"^[\s:+-]*", ln).group(0))
        if skip_depth is not None:
            if depth > skip_depth:
                cur.append(ln)
                continue
            _flush()
        if "InMemoryRelation" in ln:
            skip_depth, cur = depth, []
        main.append(ln)
    _flush()
    return main + [ln for t in subtrees.values() for ln in t]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from omniengine_spark.plans import ORACLES, QUERIES
    from omniengine_spark.session import get_spark

    spark = get_spark(app_name="plan-report", shuffle_partitions=8)

    lines = [
        "# PLANS — physical-plan census (auto-generated)",
        "",
        f"`python tools/plan_report.py` at `{sf_dir}`.  Counts come from",
        "the pre-AQE physical plan; AQE may further coalesce exchanges",
        "and convert joins at runtime.",
        "",
        "| plan | oracle | shuffles | bcasts | sorts | SMJ | BHJ | python | top-k |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    # streaming plans execute a query on build; census the batch ones
    skip = {"x1_stream_hourly_counts", "x6_stream_exactly_once_dedup", "x4_stream_sessionize",
            "s13_csv_roundtrip", "s16_json_roundtrip"}
    for name in sorted(QUERIES):
        if name in skip:
            lines.append(
                f"| {name} | {'yes' if name in ORACLES else 'rows-only'} "
                f"| — | — | — | — | — | — | — |"
            )
            continue
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {
            k: sum(1 for ln in _census_lines(plan) if re.search(pat, ln))
            for k, pat in NODES.items()
        }
        lines.append(
            f"| {name} | {'yes' if name in ORACLES else 'rows-only'} "
            f"| {counts['shuffles']} | {counts['broadcasts']} "
            f"| {counts['sorts']} | {counts['smj']} | {counts['bhj']} "
            f"| {counts['python']} | {counts['topk']} |"
        )

    import json

    census = _REPO / "tools" / "shuffle_census.json"
    if census.exists():
        blob = json.loads(census.read_text())
        for sfd, rows in blob.items():
            lines += [
                "",
                f"## Shuffle-bytes census (tools/shuffle_census.json @ {sfd})",
                "",
                "Measured data movement per plan (status-store stage counters).",
                "Seconds hide movement; the ratchet",
                "(tools/sweep.py --compare ratchet) fails a plan whose",
                "write bytes grow past 1.5× + 8 MB of this record.",
                "",
                "| plan | sec | shuffle write MB | shuffle read MB "
                "| spill MB | input MB | stages |",
                "|---|---|---|---|---|---|---|",
            ]
            for r in rows:
                lines.append(
                    f"| {r['plan']} | {r['sec']} "
                    f"| {r['shuffle_write_mb']} | {r['shuffle_read_mb']} "
                    f"| {r['spill_mb']} | {r['input_mb']} "
                    f"| {r['n_stages']} |"
                )

    for fname in (
        "scale_soak.json",
        "scale_soak_sf1.json",
        "scale_soak_sf5.json",
    ):
        soak = _REPO / "tools" / fname
        if not soak.exists():
            continue
        blob = json.loads(soak.read_text())
        rows = blob["rows"] if isinstance(blob, dict) else blob
        small = blob.get("small", "sf0.01") if isinstance(blob, dict) else "sf0.01"
        big = blob.get("big", "sf0.1") if isinstance(blob, dict) else "sf0.1"
        lines += [
            "",
            f"## Scaling exponents ({fname}: {small} -> {big})",
            "",
            "e = log(t_big / t_small) / log(sf ratio), warmed session,",
            "best-of-N.  e ≈ 1 linear, e > 1 super-linear (scale",
            "hazard).  Fixed session overhead pulls small-sf exponents",
            "below their asymptote.",
            "",
            "| plan | t_small | t_big | exponent |",
            "|---|---|---|---|",
        ]
        for r in rows:
            ts = r.get("t_small", r.get("t_sf001"))
            tb = r.get("t_big", r.get("t_sf01"))
            lines.append(
                f"| {r['plan']} | {ts}s | {tb}s | {r['exponent']:+.2f} |"
            )

    (_REPO / "PLANS.md").write_text("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
