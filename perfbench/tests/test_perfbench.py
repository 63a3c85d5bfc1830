"""Tests of the benchmark's own code (no Spark session is started).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import cpu, run, stats
from perfbench.trace import LayerTracer
from perfbench.workloads import WORKLOADS, derived_seed

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- the percentile rule ---------------------------------------------------
def test_p90_needs_ten_samples_beyond_it():
    assert stats.percentile([float(i) for i in range(99)], 90) is None
    assert stats.percentile([float(i) for i in range(100)], 90) == 89.0


def test_p50_needs_ten_samples_beyond_it():
    assert stats.percentile([1.0] * 19, 50) is None
    assert stats.percentile([float(i) for i in range(20)], 50) == 9.0


def test_percentile_ignores_input_order():
    vals = [float(i) for i in range(200)]
    assert stats.percentile(vals[::-1], 90) == stats.percentile(vals, 90)


def test_percentile_rejects_bad_rank():
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 50, 100)


# -- workloads name registered plans with oracles ---------------------------
def test_workloads_name_registered_plans_with_oracles():
    from omniengine_spark.plans import ORACLES, QUERIES

    for wl in WORKLOADS.values():
        assert wl.plans, wl.name
        assert len(set(wl.plans)) == len(wl.plans), wl.name
        for name in wl.plans:
            assert name in QUERIES, (wl.name, name)
            assert name in ORACLES, (wl.name, name)


def test_derived_seeds_are_distinct_and_repeatable():
    seeds = [derived_seed(7, k) for k in range(50)]
    assert len(set(seeds)) == 50
    assert seeds == [derived_seed(7, k) for k in range(50)]


# -- metric names -------------------------------------------------------------
def test_metric_names_match_the_contract():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    names += list(run.END_TO_END_UNITS) + list(run.LAYER_UNITS)
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
        assert NAME.match(name), name


def test_benchmark_json_matches_the_printed_metrics():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == (
        run.END_TO_END_UNITS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == (
        run.LAYER_UNITS)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# -- the traced run's wrappers pass values through -----------------------------
def test_wrapper_returns_the_same_object():
    t = LayerTracer()
    sentinel = object()

    def f(a, *, b):
        return (a, b, sentinel)

    w = t.wrap("sources.catalog.f", f)
    out = w(1, b=2)
    assert out == (1, 2, sentinel) and out[2] is sentinel
    assert w.__name__ == "f" and w.__wrapped__ is f
    assert t.calls["sources.catalog.f"] == 1
    assert t.layer_calls["sources"] == 1


def test_wrapper_reraises_and_still_counts():
    t = LayerTracer()

    def boom():
        raise KeyError("x")

    w = t.wrap("pipeline.omni.boom", boom)
    with pytest.raises(KeyError):
        w()
    assert t.calls["pipeline.omni.boom"] == 1
    assert not any(t._active.values())


def test_nested_calls_in_one_layer_count_once():
    t = LayerTracer()
    inner = t.wrap("sources.catalog.inner", lambda: 5)
    outer = t.wrap("sources.catalog.outer", lambda: inner() + 1)
    assert outer() == 6
    assert t.layer_calls["sources"] == 1
    assert t.calls["sources.catalog.inner"] == 1
    assert t.seconds["sources.catalog.outer"] >= (
        t.seconds["sources.catalog.inner"])


def test_index_commit_is_classified_by_target_dir():
    t = LayerTracer()
    commit = t.wrap("sources.versioned.commit", lambda df, path, tag: tag)
    assert commit(None, "/x/.scratch/p1-warehouse-s19", "v") == "v"
    assert t.index_build_s == 0.0
    assert commit(None, "/x/.scratch/p1-lsh-append-ab12/entries", "v") == "v"
    assert t.index_build_s > 0.0


def test_installed_wrappers_pass_engine_results_through():
    """Install on the real package in a fresh interpreter (install
    rebinds module attributes process-wide)."""
    code = """
import omniengine_spark.operators.ann_index as AI
orig_bits = AI.lsh_active_bits
import omniengine_spark.operators.similarity as S
orig_planes = S.deterministic_planes
from perfbench.trace import LayerTracer
t = LayerTracer()
n = t.install()
import omniengine_spark.plans.similarity as PS
import omniengine_spark.sources as src
assert AI.lsh_active_bits is not orig_bits
assert AI.lsh_active_bits.__wrapped__ is orig_bits
assert PS.load_table is src.load_table
assert PS.load_table.__wrapped__.__module__ == "omniengine_spark.sources.catalog"
for n_ in (0, 1, 63, 64, 65, 10_000):
    assert AI.lsh_active_bits(n_, 64) == orig_bits(n_, 64)
before = t.calls["operators.similarity.deterministic_planes"]
assert S.deterministic_planes(7, 3, 4) == orig_planes(7, 3, 4)
assert t.calls["operators.similarity.deterministic_planes"] == before + 1
assert t.calls["operators.ann_index.lsh_active_bits"] == 6
print(n)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout.strip()) > 50


def test_install_refuses_after_plans_import():
    code = """
import omniengine_spark.plans
from perfbench.trace import LayerTracer
try:
    LayerTracer().install()
except RuntimeError:
    print("refused")
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=120,
    )
    assert out.stdout.strip() == "refused", out.stderr


# -- the run refuses a tree without the engine -------------------------------
def test_run_exits_nonzero_without_engine_sources(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in ("__init__.py", "cpu.py", "run.py", "stats.py", "workloads.py"):
        (tmp_path / "perfbench" / f).write_text(
            (ROOT / "perfbench" / f).read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""


# -- CPU time of the process tree --------------------------------------------
def test_cpu_snapshot_sees_this_process_work():
    a = cpu.snapshot()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    b = cpu.snapshot()
    assert 0.2 <= cpu.work_s(a, b) < 5.0


def test_jit_threads_are_taken_out_of_work():
    a = cpu.Snapshot(10.0, {(1, 2): 3.0, (1, 9): 1.0})
    b = cpu.Snapshot(15.0, {(1, 2): 4.0, (1, 3): 0.5})  # 9 exited, 3 new
    assert cpu.jit_s(a, b) == 1.5
    assert cpu.work_s(a, b) == 3.5
