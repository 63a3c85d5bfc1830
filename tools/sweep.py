#!/usr/bin/env python
"""One variant sweep: run plans under several data dirs or engine
settings, each in a fresh JVM, and compare what they recorded.

    python tools/sweep.py --variant NAME=SF_DIR[,KEY=VALUE...] ...
        [--compare KIND ...] [--runs N] [--out FILE] [plan ...]

Plans default to every registered plan; a name may be a glob
(``'sql_q*'``).  Variant keys:

    cpus=N       run on ``local[N]`` (default: ``SPARK_GRAFT_CPUS``)
    heap=SIZE    the JVM heap, e.g. ``1g`` (set before the JVM starts)
    zorder=N     first rewrite lineitem, orders and events of SF_DIR as
                 N Z-ordered files in a temporary dir (the other
                 tables symlinked), and run there
    conf.K=V     a Spark conf, e.g. ``conf.spark.sql.shuffle.partitions=1``

Each variant is one ``measure.run_phase`` child: a ``tool_session``
with the variant's master and conf, then ``run_measured(clear=True)``
``--runs`` times per plan.  The child returns one record per plan:

    checksum                     (bit_xor, count) of the first run
    first_total_s, best_total_s, first_build_s, best_build_s
    jobs, stages, tasks, input_mb, output_mb, shuffle_read_mb,
    shuffle_write_mb, memory_spill_mb, disk_spill_mb
                                 the first run's counters
    scan_rows, scan_files        the first run's scan nodes
    skew_max_records, skew_median_records
                                 per-task shuffle ``readRecords`` of
                                 the heaviest shuffle stage with at
                                 least 4 tasks (records, not time: at
                                 these sizes task times are scheduler
                                 noise, record counts are the keys)
    oracle                       ``driver_sim.frames_match`` problems
                                 (``--compare oracle`` only)
    err                          the exception, when the plan raised

Comparisons are functions over those records; the first variant is
the reference.  The sweep exits 1 when a comparison fails or a plan
raised:

    checksum   every variant's checksum equals the reference's
    oracle     every variant matches its DuckDB oracle
    exponent   log(t / t_ref) / log(rows / rows_ref) of best_total_s,
               rows being lineitem's parquet footer row counts
    straggler  skew_max_records / skew_median_records
    spill      fails when no plan spilled to disk
    scan       scan rows pruned against the reference
    ratchet    fails when a plan writes more shuffle than 1.5 × + 8 MB
               of its ``tools/shuffle_census.json`` record for SF_DIR

For example, the parallelism gate on the data dir ``$D`` (AQE would
coalesce small data's 200 shuffle partitions back into a few, so the
wide variant turns coalescing off):

    P1=cpus=1,conf.spark.sql.shuffle.partitions=1
    PN=cpus=$(nproc),conf.spark.sql.shuffle.partitions=200
    PN=$PN,conf.spark.sql.adaptive.coalescePartitions.enabled=false
    PN=$PN,conf.spark.sql.files.maxPartitionBytes=64k
    PN=$PN,conf.spark.sql.files.openCostInBytes=0
    python tools/sweep.py --compare checksum --runs 1 \\
        --variant p1=$D,$P1 --variant pN=$D,$PN
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import math
import os
import shutil
import sys
import tempfile
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from tools.measure import (  # noqa: E402
    node_metrics,
    phase_result,
    run_measured,
    run_phase,
    stages,
    task_quantiles,
    tool_session,
)

CENSUS = _REPO / "tools" / "shuffle_census.json"

# The all-pairs oracles: O(N²) in DuckDB (12.5M Jaccard pairs at sf0.1,
# 1.25B at sf1; 200M list-dot pairs for 20k vectors), so the ORACLE is
# the bottleneck above sf0.01.  The Spark plans are banded/bucketed;
# ``driver_sim.py`` checks these at sf0.01, and their semantics at
# scale are pinned by the union-find/hypothesis tests and, for the
# incremental pair set, by ``tools/stream_steady.py`` at rv25.
SLOW_ORACLES = {
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "dedup_incremental_shard",
    "dedup_stream_ingest",
}

ZORDER = {
    "lineitem": ("l_shipdate", "l_partkey"),
    "orders": ("o_orderdate", "o_custkey"),
    "events": ("ts", "user_id"),
}

_COUNTS = ("jobs", "stages", "tasks")
_MB = ("input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
       "memory_spill_mb", "disk_spill_mb")


def parse_variant(spec: str) -> dict:
    name, _, rest = spec.partition("=")
    sf_dir, *keys = rest.split(",")
    v = {"name": name, "sf_dir": sf_dir, "cpus": None, "heap": None,
         "zorder": None, "conf": {}}
    for kv in keys:
        k, _, val = kv.partition("=")
        if k.startswith("conf."):
            v["conf"][k[len("conf."):]] = val
        elif k in ("cpus", "heap", "zorder"):
            v[k] = val
        else:
            raise SystemExit(f"unknown variant key {k!r} in {spec!r}")
    if not name or not sf_dir:
        raise SystemExit(f"variant {spec!r} is not NAME=SF_DIR[,...]")
    return v


# ---------------------------------------------------------------- child


def zorder_copy(spark, raw: str, out: Path, n_files: int) -> None:
    """The facts of ``raw`` as ``n_files`` Z-ordered files each (the
    same schema, no partition dirs, so every plan runs unchanged), the
    dims symlinked."""
    from omniengine_spark.operators.layout import write_zordered
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources.catalog import TABLES

    for name in TABLES:
        dst = out / f"{name}.parquet"
        if name in ZORDER:
            write_zordered(load_table(spark, raw, name), str(dst),
                           *ZORDER[name], n_files=n_files)
        else:
            os.symlink((Path(raw) / f"{name}.parquet").resolve(), dst)


def _skew(spark, job_ids) -> dict:
    best = None
    for sd in reversed(stages(spark, *job_ids)):
        if sd.numCompleteTasks() < 4 or sd.shuffleReadBytes() <= 0:
            continue
        q = task_quantiles(spark, sd, [0.5, 1.0])
        rec = q["readRecords"] if q else None
        if rec and (best is None or rec[1] > best[1]):
            best = rec
    return {"skew_max_records": best[1] if best else None,
            "skew_median_records": best[0] if best else None}


def _scan(action_df) -> dict:
    rows = files = 0
    for node, m in node_metrics(action_df):
        if node.startswith("Scan"):
            rows += m.get("numOutputRows", 0)
            files += m.get("numFiles", 0)
    return {"scan_rows": rows, "scan_files": files}


def measure_plan(spark, name: str, sf_dir: str, runs: int, duck) -> dict:
    from omniengine_spark.plans import ORACLES, QUERIES
    from tools.driver_sim import frames_match

    try:
        ms = [run_measured(spark, QUERIES[name], sf_dir, clear=True)
              for _ in range(runs)]
        first = ms[0]
        rec = {
            "checksum": list(first["checksum"]),
            "first_total_s": round(first["total_s"], 3),
            "best_total_s": round(min(m["total_s"] for m in ms), 3),
            "first_build_s": round(first["build_s"], 3),
            "best_build_s": round(min(m["build_s"] for m in ms), 3),
            **{k: first[k] for k in _COUNTS},
            **{k: round(first[k], 3) for k in _MB},
            **_scan(first["action_df"]),
            **_skew(spark, first["job_ids"]),
            "err": None,
        }
        sums = {m["checksum"] for m in ms}
        if len(sums) > 1:
            rec["err"] = f"checksum changed between runs: {sorted(sums)}"
        if duck is not None and name in ORACLES and name not in SLOW_ORACLES:
            rec["oracle"] = frames_match(
                first["df"].toPandas(), duck.execute(ORACLES[name]).fetchdf()
            )
    except Exception as exc:  # noqa: BLE001 — the err is the datum
        rec = {"err": f"{type(exc).__name__}: {exc}"[:300]}
    print(f"{name:45s} {rec.get('checksum')} {rec['err'] or ''}",
          file=sys.stderr, flush=True)
    return rec


def run_variant(v: dict, plans: list[str], runs: int, oracle: bool) -> dict:
    if v["heap"]:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = v["heap"]
    master = f"local[{v['cpus']}]" if v["cpus"] else None
    spark = tool_session(f"sweep-{v['name']}", master=master,
                         extra_conf=v["conf"])
    if v["heap"] and spark.conf.get("spark.driver.memory") != v["heap"]:
        raise RuntimeError("heap not set: a JVM existed before the variant")
    sf_dir, tmp = v["sf_dir"], None
    try:
        if v["zorder"]:
            tmp = tempfile.mkdtemp(prefix="sweep-zorder-")
            zorder_copy(spark, sf_dir, Path(tmp), int(v["zorder"]))
            sf_dir = tmp
        duck = None
        if oracle:
            from tools.driver_sim import make_duck

            duck = make_duck(sf_dir)
        return {"records": {
            name: measure_plan(spark, name, sf_dir, runs, duck)
            for name in plans
        }}
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------- comparisons
# Each takes the variants (the reference first) and returns one row per
# plan, {variant name: value, "ok": True / False / None (a report)},
# and whether the comparison as a whole failed.  A plan that raised in
# any variant is a failed row.


def _rows(vs: list[dict], value, ok=lambda vals: None) -> dict:
    out = {}
    for plan in vs[0]["records"]:
        recs = [v["records"][plan] for v in vs]
        if any(r["err"] for r in recs):
            row = {v["name"]: "ERR" if r["err"] else None
                   for v, r in zip(vs, recs)}
            out[plan] = {**row, "ok": False}
            continue
        vals = [value(v, plan, r, recs[0]) for v, r in zip(vs, recs)]
        out[plan] = {**{v["name"]: x for v, x in zip(vs, vals)},
                     "ok": ok(vals)}
    return out


def cmp_checksum(vs):
    return _rows(vs, lambda v, p, r, ref: r["checksum"],
                 lambda vals: all(x == vals[0] for x in vals)), False


def cmp_oracle(vs):
    return _rows(vs, lambda v, p, r, ref: r.get("oracle"),
                 lambda vals: not any(vals)), False


def lineitem_rows(sf_dir: str) -> int:
    """lineitem's row count from its parquet footers (a file or a dir
    of files)."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/lineitem.parquet").count_rows()


def cmp_exponent(vs):
    n = {v["name"]: lineitem_rows(v["sf_dir"]) for v in vs}
    n_ref = n[vs[0]["name"]]

    def e(v, p, r, ref):
        if n[v["name"]] == n_ref:
            return None
        return round(math.log(r["best_total_s"] / ref["best_total_s"])
                     / math.log(n[v["name"]] / n_ref), 2)

    return _rows(vs, e), False


def cmp_straggler(vs):
    def ratio(v, p, r, ref):
        if r["skew_max_records"] is None:
            return None
        return round(r["skew_max_records"]
                     / max(r["skew_median_records"], 1.0), 2)

    return _rows(vs, ratio), False


def cmp_spill(vs):
    spilled = sum(r.get("disk_spill_mb") or 0 for v in vs
                  for r in v["records"].values())
    return _rows(vs, lambda v, p, r, ref: r["disk_spill_mb"]), spilled == 0


def cmp_scan(vs):
    def pruned(v, p, r, ref):
        if not ref["scan_rows"]:
            return None
        kept = r["scan_rows"] / ref["scan_rows"]
        return [r["scan_rows"], round(1 - kept, 3)]

    return _rows(vs, pruned), False


def cmp_ratchet(vs):
    census = json.loads(CENSUS.read_text())
    base = {v["name"]: {b["plan"]: b["shuffle_write_mb"]
                        for b in census.get(v["sf_dir"], [])} for v in vs}

    def against(v, p, r, ref):
        b = base[v["name"]].get(p)
        return None if b is None else [r["shuffle_write_mb"],
                                       round(1.5 * b + 8.0, 2)]

    return _rows(vs, against, lambda vals: all(
        x is None or x[0] <= x[1] for x in vals)), False


COMPARE = {
    "checksum": cmp_checksum,
    "oracle": cmp_oracle,
    "exponent": cmp_exponent,
    "straggler": cmp_straggler,
    "spill": cmp_spill,
    "scan": cmp_scan,
    "ratchet": cmp_ratchet,
}


# --------------------------------------------------------------- parent


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter
    )
    ap.add_argument("--variant", action="append", required=True,
                    metavar="NAME=SF_DIR[,KEY=VALUE...]")
    ap.add_argument("--compare", action="append", default=[],
                    choices=sorted(COMPARE))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("--phase", default=None, help=argparse.SUPPRESS)
    ap.add_argument("plans", nargs="*")
    args = ap.parse_args()
    variants = [parse_variant(s) for s in args.variant]

    if args.phase:
        (v,) = variants
        phase_result(run_variant(v, args.plans, args.runs,
                                 "oracle" in args.compare))
        return 0

    from omniengine_spark.plans import QUERIES

    plans = sorted({name for pat in args.plans or ["*"]
                    for name in fnmatch.filter(QUERIES, pat)})
    if not plans:
        raise SystemExit(f"no registered plan matches {args.plans}")
    child = ["--runs", str(args.runs),
             *(a for k in args.compare for a in ("--compare", k)), *plans]
    for v, spec in zip(variants, args.variant):
        v.update(run_phase(__file__, v["name"],
                           ["--variant", spec, *child]))
        print(f"variant {v['name']}: {len(plans)} plans, "
              f"{sum(1 for r in v['records'].values() if r['err'])} errors",
              flush=True)

    failed = False
    report = {}
    for kind in args.compare:
        rows, whole_failed = COMPARE[kind](variants)
        bad = [p for p, row in rows.items() if row["ok"] is False]
        failed |= whole_failed or bool(bad)
        report[kind] = rows
        print(f"== {kind}: {len(rows) - len(bad)}/{len(rows)} ok"
              + (" — nothing spilled" if whole_failed else ""))
        for plan, row in rows.items():
            flag = {True: "ok  ", False: "FAIL", None: "    "}[row["ok"]]
            vals = "  ".join(f"{k}={x}" for k, x in row.items() if k != "ok")
            print(f"{flag} {plan:45s} {vals}")
    errs = [f"ERR  {v['name']} {p}: {r['err']}" for v in variants
            for p, r in v["records"].items() if r["err"]]
    for line in errs:
        print(line)
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"plans": plans, "variants": variants, "compare": report},
            indent=1) + "\n")
        print(f"wrote {args.out}")
    return 1 if failed or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
