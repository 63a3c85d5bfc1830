#!/usr/bin/env python3
"""omnispark benchmark: one workload of registered plans, closed loop.

    python3 perfbench/run.py --workload {ingest,serve,analytics} \
        --seed N --seconds S --trace {0,1}

One client in one process drives the engine's own session on
``local[<cpus>]``.  Set-up starts the session, generates the seeded
data with ``tools/gen_testdata.py`` and runs one untimed pass, which
builds the artifacts and warms the JVM.  The timed loop then runs
whole passes until ``--seconds`` have elapsed.  A call is the plan
function plus the collect of its result; outside the timer, every
call's result (the set-up pass's included) is compared with the
plan's DuckDB oracle on the same dataset, and a call that raised or
mismatched counts as failed.  After each pass Spark's counters for
its jobs are read from the status store (``trace.SparkCensus``).
The last stdout line is the result JSON; the line before it carries
the detail (seeds, per-pass wall and CPU time with the contention
context, latency).
With ``--trace 1`` the layers are wrapped as well (``trace.py``), and
the result carries the per-layer metrics instead.

Everything the run writes stays under ``.perfbench/`` and the
engine's ``.scratch/`` in the checkout, and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import cpu  # noqa: E402
from perfbench.stats import median, percentile  # noqa: E402
from perfbench.workloads import WORKLOADS, derived_seed  # noqa: E402

REQUIRED = (
    "omniengine_spark/plans/__init__.py",
    "tools/gen_testdata.py",
    "tools/driver_sim.py",
)
DRIVER_MEM = "3g"
# The set-up pass builds the artifacts and loads every plan's classes.
# The JVM keeps compiling for minutes after it, so pass times and CPU
# still fall from pass to pass; the Spark counts do not.
WARM_PASSES = 1

# Spark's counters summed over the timed passes, by the name of the
# per-call metric each gives.
SPARK_TOTALS = {
    "jobs": "jobs",
    "tasks": "tasks",
    "input_mb": "read_mb",
    "output_mb": "written_mb",
    "shuffle_write_mb": "shuffle_mb",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "jobs_per_call": "count",
    "tasks_per_call": "count",
    "read_mb_per_call": "MB",
    "written_mb_per_call": "MB",
    "shuffle_mb_per_call": "MB",
    "retained_heap_mb": "MB",
}
LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.write_partitioned.s": "s",
    "sources.versioned.commit.s": "s",
    "sources.memo_entries": "count",
    "pipeline.s": "s",
    "pipeline.calls": "count",
    "pipeline.memo_entries": "count",
    "operators.s": "s",
    "operators.dedup.s": "s",
    "operators.similarity.s": "s",
    "operators.graph.s": "s",
    "operators.replay.s": "s",
    "operators.index_build_s": "s",
    "operators.cache_entries": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.memory_tables": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_bytes": "bytes",
    "spark.busy_frac": "1",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "process.cpu_s": "s",
    "process.jit_cpu_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def probe() -> float:
    """``bench.py``'s fixed-work CPU probe (~50 ms on a quiet core):
    its time rises with contention for the host, not with engine
    changes."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc * 1_103_515_245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Seconds of CPU time the hypervisor has given to other guests
    since boot, summed over CPUs (0 where ``/proc/stat`` lacks it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    ticks = int(fields[8]) if len(fields) > 8 else 0
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Call:
    name: str
    build_s: float  # inside the plan function
    total_s: float  # plan function plus the collect of its result
    df: object  # the plan's DataFrame, executed by the collect
    result: object  # the collected pandas frame
    jobs: tuple[int, int, int]  # next job id before build, action, after


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, seconds: int, trace: bool,
                 work: Path) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.seeds: list[int] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.census = None
        self.streams = None
        self.layer: dict[str, list[float]] = {}
        self._oracle: dict[str, dict] = {}  # dataset -> plan -> result

    # -- set-up -----------------------------------------------------
    def _env(self) -> None:
        for sub in ("tmp", "local", "ckpt", "data"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        os.environ.update({
            "TMPDIR": str(self.work / "tmp"),
            "SPARK_LOCAL_DIRS": str(self.work / "local"),
            "SPARK_GRAFT_STREAM_CHECKPOINT": str(self.work / "ckpt"),
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
        })
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def _session(self):
        from omniengine_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} "
                    f"-Dderby.system.home={self.work} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _dataset(self) -> str:
        """Generate this run's next dataset."""
        from tools.gen_testdata import gen

        k = len(self.seeds)
        s = derived_seed(self.seed, k) if self.wl.fresh_data else self.seed
        self.seeds.append(s)
        out = self.work / "data" / f"{self.wl.name}-{k}-{s}"
        with contextlib.redirect_stdout(sys.stderr):
            gen(self.wl.sf, out, s)
        return str(out)

    def _expected(self, data: str) -> dict:
        """Every workload plan's DuckDB oracle result on ``data``,
        computed once per dataset."""
        if data not in self._oracle:
            self._oracle = {data: self._run_oracles(data)}
        return self._oracle[data]

    def _run_oracles(self, data: str) -> dict:
        import duckdb

        from omniengine_spark.plans import ORACLES
        from tools.driver_sim import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'"
                )
            return {n: con.execute(ORACLES[n]).fetchdf()
                    for n in self.wl.plans}
        finally:
            con.close()

    # -- one pass -----------------------------------------------------
    def _job_id(self) -> int:
        return self.census.next_job_id()

    def _call(self, spark, name: str, fn, data: str) -> Call:
        j0 = self._job_id()
        t0 = time.perf_counter()
        df = fn(spark, data)
        t1 = time.perf_counter()
        j1 = self._job_id()
        result = df.toPandas()
        t2 = time.perf_counter()
        return Call(name, t1 - t0, t2 - t0, df, result,
                    (j0, j1, self._job_id()))

    def _pass(self, spark, data: str) -> tuple[float, list[Call]]:
        """Run every plan once on ``data``; (wall seconds, calls that
        returned).  A call that raises is recorded as failed."""
        from omniengine_spark.plans import QUERIES

        calls = []
        t0 = time.perf_counter()
        for name in self.wl.plans:
            self.attempted += 1
            try:
                calls.append(self._call(spark, name, QUERIES[name], data))
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self._fail(f"{name} raised {type(e).__name__}: {e}")
        return time.perf_counter() - t0, calls

    def _verify(self, calls: list[Call], data: str) -> None:
        """Compare each call's result with its oracle on ``data``."""
        from tools.driver_sim import frames_match

        expected = self._expected(data)
        for c in calls:
            problems = frames_match(c.result, expected[c.name])
            if problems:
                self._fail(f"{c.name}: {'; '.join(problems)}")

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAIL {msg}", file=sys.stderr)

    # -- tracing ------------------------------------------------------
    def _trace_pass(self, spark, calls: list[Call], pass_s: float,
                    snap0: dict, spark_counts: dict, ctx: dict) -> float:
        """Record one pass's per-layer figures, read after its jobs
        ended; returns the seconds the census itself took."""
        from perfbench.trace import memo_entries, python_bytes

        t0 = time.perf_counter()
        agg: dict[str, float] = {
            "plans.build_s": sum(c.build_s for c in calls),
            "plans.action_s": sum(c.total_s - c.build_s for c in calls),
            "plans.build_jobs": sum(c.jobs[1] - c.jobs[0] for c in calls),
            "spark.python_bytes": sum(python_bytes(c.df) for c in calls),
            "process.cpu_s": ctx["cpu_s"],
            "process.jit_cpu_s": ctx["jit_cpu_s"],
        }
        for k in ("jobs", "stages", "tasks", "executor_cpu_s",
                  "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
            agg[f"spark.{k}"] = spark_counts.get(k, 0)
        agg["spark.busy_frac"] = spark_counts.get("executor_run_s", 0) / (
            pass_s * cpus())

        snap = self.tracer.snapshot()

        def delta(part: str, key: str) -> float:
            return snap[part].get(key, 0) - snap0[part].get(key, 0)

        agg["sources.load_table.calls"] = delta(
            "calls", "sources.catalog.load_table")
        agg["sources.load_table.s"] = delta(
            "seconds", "sources.catalog.load_table")
        agg["sources.write_partitioned.s"] = delta(
            "seconds", "sources.sinks.write_partitioned")
        agg["sources.versioned.commit.s"] = delta(
            "seconds", "sources.versioned.commit")
        agg["pipeline.s"] = delta("layer_s", "pipeline")
        agg["pipeline.calls"] = delta("layer_calls", "pipeline")
        agg["operators.s"] = delta("layer_s", "operators")
        for module in ("dedup", "similarity", "graph", "replay"):
            agg[f"operators.{module}.s"] = delta(
                "module_s", f"operators.{module}")
        agg["operators.index_build_s"] = delta("totals", "index_build_s")
        agg["streaming.drain_s"] = delta("layer_s", "streaming")
        batches = self.streams.take()
        agg["streaming.batches"] = len(batches)
        agg["streaming.batch_ms_p50"] = (
            median([b["batch_ms"] for b in batches]) if batches else 0)
        agg["streaming.planning_ms"] = sum(b["planning_ms"] for b in batches)
        agg["streaming.commit_ms"] = sum(b["commit_ms"] for b in batches)
        memos = memo_entries()
        agg["sources.memo_entries"] = memos["sources"]
        agg["pipeline.memo_entries"] = memos["pipeline"]
        agg["operators.cache_entries"] = memos["operators"]
        agg["streaming.memory_tables"] = sum(
            1 for t in spark.catalog.listTables() if t.isTemporary)
        spent = time.perf_counter() - t0
        agg["trace.pass_s"] = pass_s + spent
        agg["trace.overhead_s"] = spent
        for k, v in agg.items():
            self.layer.setdefault(k, []).append(v)
        return spent

    # -- the run ------------------------------------------------------
    def execute(self) -> dict:
        self._env()
        if self.trace:
            from perfbench.trace import LayerTracer

            self.tracer = LayerTracer()
            self.tracer.install()
        t_setup = time.perf_counter()
        spark = self._session()
        try:
            return self._execute(spark, t_setup)
        finally:
            if self.streams:
                self.streams.close()
            spark.stop()

    def _execute(self, spark, t_setup: float) -> dict:
        start_s = time.perf_counter() - t_setup
        import omniengine_spark.plans  # noqa: F401 — registers plans

        from perfbench.trace import SparkCensus

        self.census = SparkCensus(spark)
        if self.trace:
            from perfbench.trace import StreamProgress

            self.streams = StreamProgress(spark)
        t_warm = time.perf_counter()
        warm: list[tuple[str, list[Call]]] = []
        for _ in range(WARM_PASSES):
            if self.wl.fresh_data or not warm:
                data = self._dataset()
            warm.append((data, self._pass(spark, data)[1]))
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        for warm_data, warm_calls in warm:
            self._verify(warm_calls, warm_data)
        warm_plan_s = {c.name: round(c.total_s, 4) for c in warm[0][1]}
        self.census.drain()
        if self.trace:
            self.streams.take()

        latencies: dict[str, list[float]] = {n: [] for n in self.wl.plans}
        passes: list[dict] = []  # the detail record's per-pass context
        pass_times: list[float] = []
        pass_cpu: list[float] = []
        spark_totals = dict.fromkeys(SPARK_TOTALS, 0.0)
        deadline = time.monotonic() + self.seconds
        while not passes or time.monotonic() < deadline:
            if self.wl.fresh_data:
                data = self._dataset()
            ctx = {"probe_s": round(probe(), 4),
                   "loadavg_1m": os.getloadavg()[0]}
            snap0 = self.tracer.snapshot() if self.tracer else None
            steal0, cpu0 = steal_s(), cpu.snapshot()
            pass_s, calls = self._pass(spark, data)
            cpu1 = cpu.snapshot()
            ctx["steal_s"] = round(steal_s() - steal0, 2)
            ctx["cpu_s"] = round(cpu.work_s(cpu0, cpu1), 3)
            ctx["jit_cpu_s"] = round(cpu.jit_s(cpu0, cpu1), 3)
            self.census.drain()
            counts = (self.census.jobs(calls[0].jobs[0], calls[-1].jobs[2])
                      if calls else {})
            for k in SPARK_TOTALS:
                spark_totals[k] += counts.get(k, 0)
            for c in calls:
                latencies[c.name].append(c.total_s)
            if self.tracer:
                ctx["trace_s"] = round(self._trace_pass(
                    spark, calls, pass_s, snap0, counts, ctx), 4)
            self._verify(calls, data)
            pass_times.append(pass_s)
            pass_cpu.append(ctx["cpu_s"])
            passes.append({"pass_s": round(pass_s, 4), **ctx})
        del calls, warm_calls, warm
        heap_mb = retained_heap_mb(spark)

        lat = [v for vs in latencies.values() for v in vs]
        done = max(len(lat), 1)
        out = {
            "end_to_end": {
                "setup_s": setup_s,
                **{f"{name}_per_call": spark_totals[k] / done
                   for k, name in SPARK_TOTALS.items()},
                "retained_heap_mb": heap_mb,
            },
            "detail": {
                "workload": self.wl.name,
                "sf": self.wl.sf,
                "seeds": self.seeds,
                "cpus": cpus(),
                "passes": passes,
                "calls": len(lat),
                "pass_s_p50": median(pass_times),
                "pass_cpu_s_p50": median(pass_cpu),
                "query_s_p50": median(lat),
                "query_s_p90": percentile(lat, 90),
                "queries_per_s": len(lat) / sum(pass_times),
                "failed_frac": len(self.failures) / max(self.attempted, 1),
                "failures": self.failures[:20],
                "plan_s_p50": {n: round(median(v), 4)
                               for n, v in latencies.items() if v},
                "warm_plan_s": warm_plan_s,
            },
        }
        if self.trace:
            layer = {k: median(v) for k, v in self.layer.items()}
            layer["session.start_s"] = start_s
            layer["session.warm_s"] = warm_s
            out["per_layer"] = layer
        return out


def retained_heap_mb(spark) -> float:
    """JVM heap in use after forced GCs.  Python's collector runs
    first, so py4j proxies the driver no longer holds release their
    JVM objects, and the listener bus is drained, so no queued event
    still holds the state of a finished job.  The JVM then collects
    at least three times, and until two collections in a row leave
    the same heap: Spark's cleaner thread frees broadcasts and shuffles
    only after a collection has found them unreachable, so the first
    two collections at the end of a run leave 10-20 MB that the third
    frees.  The figure is each heap pool's usage as the last collection
    left it, without the allocation buffers that threads claim right
    after it."""
    import gc

    gc.collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark.sparkContext._jvm
    pools = [p for p in jvm.java.lang.management.ManagementFactory
             .getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"]
    readings: list[float] = []
    while len(readings) < 10:
        jvm.java.lang.System.gc()
        readings.append(
            sum(p.getCollectionUsage().getUsed() for p in pools) / 2**20)
        if len(readings) >= 3 and (
                abs(readings[-1] - readings[-2]) <= 0.01 * readings[-2]):
            break
        time.sleep(0.5)
    return readings[-1]


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched (the
    JVM exits when its stdin closes, and takes its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort at exit
            proc.kill()
            proc.wait()


def remove_scratch(pid: int) -> None:
    """The engine's per-process scratch dirs of this run."""
    scratch = ROOT / ".scratch"
    if scratch.is_dir():
        for d in scratch.glob(f"p{pid}-*"):
            shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing: {missing}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    run = Run(WORKLOADS[a.workload], a.seed, a.seconds, bool(a.trace), work)
    try:
        out = run.execute()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        remove_scratch(os.getpid())

    metrics = out["per_layer"] if a.trace else out["end_to_end"]
    units = LAYER_UNITS if a.trace else END_TO_END_UNITS
    print(json.dumps(out["detail"]))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
