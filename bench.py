#!/usr/bin/env python
"""Benchmark runner: every registered plan at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query run is one ``tools.measure.run_measured`` call: build the
plan, then collect an xxhash64 checksum over every output column —
count() alone lets Catalyst prune projection-only work (the timing
would measure a parquet row count, not the plan), while the checksum
forces every output expression to evaluate; only one aggregate row
reaches the driver.

Timing semantics (round 10):

- NORMAL plans run twice, clearCache() before each run, min reported.
  Cache clearing (round 9) keeps one plan's persisted frames from
  subsidizing the next.
- ARTIFACT plans (registry.ARTIFACT_PLANS — PQ/IVF indexes, versioned
  books, committed dedup indexes) report TWO phases: ``build_cold``
  (first run after clearCache in a fresh process — pays index
  training/commit) and ``serve`` (min of two subsequent runs WITHOUT
  clearCache — the build-once/query-many steady state a deployment
  actually runs).  ``queries[name]`` carries the serve number;
  ``phases[name]`` carries both.  Round 9 conflated the two and its
  single number measured neither.
- CONTENTION (the BENCH_r09 lesson: a mid-sweep loadavg of ~9 turned
  1.3 s plans into 24 s lines while the before/after calib pair saw a
  quiet box): a ~50 ms fixed-work probe runs immediately before every
  timed run and is recorded with it.  After the sweep, any plan whose
  accepted time is ≥0.75 s AND whose accompanying probes all ran
  ≥1.6× the sweep's quietest probe is re-measured (up to 2 extra
  runs, stopping at the first quiet-probe attempt); the JSON carries
  ``probe_ref``, per-slow-plan probe ratios, and a ``reruns`` record
  so a contaminated number is visible instead of silently wrong.

Reporting (round 11): stdout carries ONE compact line budgeted to
``_LINE_BUDGET`` chars (the driver tails 2000 chars of stdout;
BENCH_r01 and BENCH_r10 both came back parsed:null when the line
outgrew it) — headline total, ``value_calib_norm`` (total scaled by
the fixed-work calibration so cross-round comparisons survive the
~7x box-speed swings), ``timing_semantics`` version tag, top-15
queries + ``_fast_bucket``.  The FULL per-query record — every
timing, build/serve phase split, per-run probe ratio, rerun
attempt — is written to ``tools/bench_full.json``, with each plan's
last timed run under ``runs``: build_s, action_s, jobs, stages,
tasks, shuffle-write and spill MB, and the (bit_xor, count) checksum.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_SLOW_SEC = 0.75  # only re-measure plans big enough to move the total
_BUSY_RATIO = 1.6  # probe ≥ this × quietest probe ⇒ contended run
_MAX_RERUNS = 2
_CALIB_QUIET_SEC = 0.55  # calibrate() on a quiet box (build-time)
# Bump whenever the meaning of ``value`` changes (r10: artifact plans
# report warm serve-min while normal plans report cold best-of-2), so
# cross-round comparisons of raw totals fail loudly instead of
# silently mixing semantics.
_TIMING_SEMANTICS = 2
# Driver captures the last 2000 chars of stdout; the summary line must
# fit with margin (r9's 1490-char line parsed, r10's overflow didn't).
_LINE_BUDGET = 1500


def compact_line(base: dict, timings: dict[str, float]) -> str:
    """The ONE stdout JSON line, ≤ _LINE_BUDGET chars whenever the
    fixed fields allow it: ``base`` (the headline record shared
    verbatim with the detail file, so the two cannot drift) plus the
    top-N slowest queries, with everything below the cut folded into
    ``_fast_bucket``.  N starts at 15 and shrinks until the line
    fits — long plan names can't overflow the driver's tail window
    again (BENCH_r01/BENCH_r10 failure mode).  Degrades rather than
    raises: if even a single-query line is over budget, the headline
    goes out with ``queries={}`` — a truncated summary beats handing
    the driver a traceback (parsed:null) after the whole sweep
    already ran.  Full per-query detail lives in the ``detail_file``."""
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    for top_n in range(15, -1, -1):
        slow = dict(ranked[:top_n])
        queries_out = dict(slow)
        rest = [t for n, t in timings.items() if n not in slow]
        if rest and top_n:
            queries_out["_fast_bucket"] = round(sum(rest), 3)
            queries_out["_fast_bucket_n"] = len(rest)
        line = json.dumps({**base, "queries": queries_out})
        if len(line) <= _LINE_BUDGET or top_n == 0:
            return line


def _detail_record(rec: dict) -> dict:
    """The detail file's per-plan layer split, from one measured run."""
    out = {k: round(rec[k], 3) for k in ("build_s", "action_s")}
    out.update({k: rec[k] for k in ("jobs", "stages", "tasks")})
    out.update({
        k: round(rec[k], 4)
        for k in ("shuffle_write_mb", "memory_spill_mb", "disk_spill_mb")
    })
    out["checksum"] = list(rec["checksum"])
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # a "0.1" from ".../sf0.1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.plans.registry import ARTIFACT_PLANS
    from omniengine_spark.session import get_spark
    from tools.measure import run_measured, warm_session

    spark = get_spark(app_name="omniengine-bench")

    # Engine start-up (JVM, codegen, parquet readers, delta-array
    # expression, Python DataSource runtime) is not query work.
    warm_session(spark, sf_dir)

    def calibrate() -> float:
        """Fixed single-thread CPU work (~0.55s at build time with one
        background core busy).  Scales with host contention, not with
        engine changes."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(4_000_000):
            acc = (acc * 1_103_515_245 + i) & 0xFFFFFFFF
        return round(time.perf_counter() - t0, 3)

    def probe() -> float:
        """~50 ms of the same fixed work, run immediately before every
        timed query run: a per-run contention sample the before/after
        calib pair is structurally blind to (BENCH_r09's failure)."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 1_103_515_245 + i) & 0xFFFFFFFF
        return time.perf_counter() - t0

    calib_before = calibrate()

    records: dict[str, dict] = {}

    def run_once(name: str, clear: bool) -> tuple[float, float]:
        """(probe_sec, run_sec).  ``clear`` drops all cached frames
        first — cold semantics; warm runs keep artifact caches.  The
        plan's layer split is kept, so ``records`` ends up holding each
        plan's last timed run."""
        if clear:
            spark.catalog.clearCache()
        p = probe()
        rec = run_measured(spark, QUERIES[name], sf_dir, clear=False)
        records[name] = _detail_record(rec)
        return p, rec["total_s"]

    timings: dict[str, float] = {}
    run_probes: dict[str, list[float]] = {}
    phases: dict[str, dict[str, float]] = {}
    is_artifact: dict[str, bool] = {}
    for name in sorted(QUERIES):
        art = name in ARTIFACT_PLANS
        is_artifact[name] = art
        if art:
            # cold run trains/commits the artifact; two warm runs
            # measure steady-state serving
            p0, cold = run_once(name, clear=True)
            p1, s1 = run_once(name, clear=False)
            p2, s2 = run_once(name, clear=False)
            serve = min(s1, s2)
            timings[name] = round(serve, 3)
            run_probes[name] = [p1, p2]
            phases[name] = {
                "build_cold": round(cold, 3),
                "serve": round(serve, 3),
                "cold_probe": round(p0, 4),
            }
        else:
            # best-of-2 cold: a single contended run can spike 7-15x
            # on a shared sandbox; run 2 also reuses codegen + parquet
            # footers, the steady state a real cluster job sees
            p1, t1 = run_once(name, clear=True)
            p2, t2 = run_once(name, clear=True)
            timings[name] = round(min(t1, t2), 3)
            run_probes[name] = [p1, p2]

    # -- contention pass: re-measure slow plans whose every accepted
    # run was taken on a provably busy box, PLUS the top-slow set
    # unconditionally — the CPU probe is blind to IO/memory-bandwidth
    # co-tenancy (measured: a 32.7 s sweep line under a 1.07 probe
    # ratio reproduced at 1.7 s in isolation minutes later), and the
    # slowest lines are exactly the numbers a reader trusts first, so
    # they get one extra min() sample regardless of what the probe
    # claims.  Bounded: ~sum(top-10) extra seconds.
    probe_ref = max(min(p for ps in run_probes.values() for p in ps), 1e-6)
    ranked_slow = sorted(timings, key=lambda n: -timings[n])
    top_slow = set(ranked_slow[:10])
    reruns: dict[str, dict] = {}
    for name in ranked_slow:
        dt = timings[name]
        if dt < _SLOW_SEC:
            break  # sorted descending: the rest are all faster
        ratio = min(run_probes[name]) / probe_ref
        if ratio <= _BUSY_RATIO and name not in top_slow:
            continue
        was = dt
        attempts = []
        n_extra = _MAX_RERUNS if ratio > _BUSY_RATIO else 1
        for _ in range(n_extra):
            p, t = run_once(name, clear=not is_artifact[name])
            attempts.append(round(t, 3))
            run_probes[name].append(p)
            if t < dt:
                dt = t
            if p / probe_ref <= _BUSY_RATIO:
                break  # this attempt ran quiet: its time is credible
        timings[name] = round(dt, 3)
        if is_artifact[name]:
            phases[name]["serve"] = timings[name]
        if timings[name] != was or ratio > _BUSY_RATIO:
            reruns[name] = {
                "was": was,
                "now": timings[name],
                "probe_ratio": round(ratio, 2),
                "attempts": attempts,
            }

    total = round(sum(timings.values()), 3)
    # Per-line contention marker (round 12): the slowest lines are
    # what round-over-round PERF comparisons trust first, and r11's
    # review traced every apparent >10% regression to hypervisor-
    # steal bursts invisible outside the detail file.  Flag any
    # top-15 plan whose ACCEPTED runs all took their probe ≥1.3× the
    # sweep's quietest probe, so the stdout line itself says "this
    # number was measured on a busy box" (capped to keep the line
    # within budget; full ratios stay in the detail file).
    top15 = sorted(timings, key=lambda n: -timings[n])[:15]
    suspect = sorted(
        n for n in top15 if min(run_probes[n]) / probe_ref > 1.3
    )[:10]
    calib_after = calibrate()
    loadavg = [round(v, 2) for v in os.getloadavg()]
    build_cold_total = round(
        sum(p["build_cold"] for p in phases.values()), 3
    )
    # Box-speed normalization (the sandbox swings ~7x between runs —
    # the r8/r9/r10 totals 180/350/256 s were mostly the BOX, not the
    # engine): calib is fixed single-thread CPU work tuned to ~0.55 s
    # on a quiet box, so value × (0.55 / mean(calib)) is comparable
    # across rounds to the extent contention is CPU-shaped.  Limits
    # (COVERAGE.md "Bench normalization"): calib is CPU-only —
    # IO/memory-bandwidth co-tenancy is what the per-run probes +
    # rerun pass catch, not this factor.
    calib_mean = (calib_before + calib_after) / 2
    value_norm = round(total * (_CALIB_QUIET_SEC / calib_mean), 3)

    # ONE base record shared verbatim by the stdout line and the
    # detail artifact, so the two cannot drift.  Full per-query
    # detail (every timing, phase split, probe ratio, rerun record)
    # goes to the tools artifact — BENCH_r10 came back parsed:null
    # because this detail inlined in the stdout line overflowed the
    # driver's 2000-char tail window (same failure as BENCH_r01);
    # the stdout line is a compact, budgeted summary.
    # Overridable so smoke drives at other SFs (e.g. the verify
    # recipe's sf0.001 pass) don't clobber the committed sf0.1
    # artifact; the driver's own runs use the default.
    detail_rel = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", "tools/bench_full.json"
    )
    base = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "value_calib_norm": value_norm,
        "timing_semantics": _TIMING_SEMANTICS,
        "n_queries": len(timings),
        "n_reruns": len(reruns),
        "build_cold_total": build_cold_total,
        "calib_sec": [calib_before, calib_after],
        "loadavg": loadavg,
        "probe_ref_sec": round(probe_ref, 4),
        "suspect": suspect,
        "detail_file": detail_rel,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail = {
        **base,
        "calib_quiet_sec": _CALIB_QUIET_SEC,
        "probe_ratio": {
            n: round(min(ps) / probe_ref, 2)
            for n, ps in run_probes.items()
        },
        "phases": phases,
        "reruns": reruns,
        "timings": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "runs": dict(sorted(records.items())),
    }
    detail_file = (Path(_REPO) / detail_rel).resolve()
    # env override is a convenience, not an escape hatch: refuse to
    # write outside the repo (a '..' or absolute override would
    # otherwise scatter detail JSON silently)
    if not str(detail_file).startswith(str(Path(_REPO).resolve()) + os.sep):
        raise ValueError(
            f"SPARK_GRAFT_BENCH_DETAIL must stay under the repo: {detail_rel}"
        )
    detail_file.write_text(json.dumps(detail, indent=1) + "\n")

    print(compact_line(base, timings))
    spark.stop()


if __name__ == "__main__":
    main()
