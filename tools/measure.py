"""One measured plan run, shared by ``bench.py`` and the tools.

``run_measured(spark, fn, sf_dir, clear=...)`` builds a plan, forces
every output expression with one checksum collect, and returns one
record:

    build_s     ``fn(spark, sf_dir)`` wall time (plan construction; any
                eager localCheckpoint / artifact build runs here)
    action_s    the checksum collect
    total_s     build_s + action_s — the region ``bench.py`` times
    checksum    (bit_xor of xxhash64 over every output column, count):
                order-insensitive, so equal across partitionings of an
                equal result
    jobs, stages, tasks, input_mb, output_mb, shuffle_read_mb,
    shuffle_write_mb, memory_spill_mb, disk_spill_mb
                Spark's counters of the jobs fired in between
    job_ids     (first, end) job-id range of the run
    df          the built frame
    action_df   the checksum frame (its executed plan carries the
                action's SQL metrics, see ``node_metrics``)

The counters come from the status store by job-id range, read after
the clock stops, so they need no Spark UI (``spark.ui.enabled=false``
is fine).  Job ids rise by one per job within a SparkContext, so the
jobs fired between two reads of the next id belong to the run in
between — provided one thread drives the session.  MB are 10^6 bytes.

The tools time nothing themselves: a phase that builds a frame uses
``run_measured``, a side-effect phase (a commit, an ingest, a
compaction) uses ``measured``, and a phase that needs its own JVM runs
through ``run_phase``, whose child reports with ``phase_result``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

_STAGE_BYTES = {
    "input_mb": "inputBytes",
    "output_mb": "outputBytes",
    "shuffle_read_mb": "shuffleReadBytes",
    "shuffle_write_mb": "shuffleWriteBytes",
    "memory_spill_mb": "memoryBytesSpilled",
    "disk_spill_mb": "diskBytesSpilled",
}


def next_job_id(spark) -> int:
    """Id the session's next Spark job will get: the difference across
    a call is the number of jobs the call fired."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def stages(spark, lo: int, hi: int) -> list:
    """The completed stages (status-store ``StageData``, last attempt)
    of jobs ``lo`` .. ``hi - 1``, each once, by stage id.  Waits for
    the listener bus first, so every finished stage has reached the
    store.  Stages a job skipped (their shuffle output already existed)
    are SKIPPED in the store and not returned."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    out, seen = [], set()
    for jid in range(lo, hi):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted
                continue
            if sd.status().toString() == "COMPLETE":
                out.append(sd)
    return sorted(out, key=lambda sd: sd.stageId())


def counters(spark, lo: int, hi: int) -> dict:
    """Counts and byte totals of jobs ``lo`` .. ``hi - 1``."""
    done = stages(spark, lo, hi)
    tracker = spark.sparkContext.statusTracker()
    out = {
        "jobs": sum(
            tracker.getJobInfo(j) is not None for j in range(lo, hi)
        ),
        "stages": len(done),
        "tasks": sum(sd.numCompleteTasks() for sd in done),
    }
    for key, getter in _STAGE_BYTES.items():
        out[key] = sum(getattr(sd, getter)() for sd in done) / 1e6
    return out


def task_quantiles(spark, sd, quantiles: list[float]) -> dict | None:
    """Per-task ``executorRunTime`` and shuffle ``readRecords`` of one
    stage at ``quantiles`` (the status store's task summary)."""
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.double, len(quantiles))
    for i, q in enumerate(quantiles):
        arr[i] = float(q)
    store = spark.sparkContext._jsc.sc().statusStore()
    opt = store.taskSummary(sd.stageId(), sd.attemptId(), arr)
    if opt.isEmpty():
        return None
    dist = opt.get()

    def seq(s) -> list[float]:
        return [float(s.apply(i)) for i in range(s.size())]

    return {
        "executorRunTime": seq(dist.executorRunTime()),
        "readRecords": seq(dist.shuffleReadMetrics().readRecords()),
    }


def run_measured(spark, fn, sf_dir: str, *, clear: bool) -> dict:
    """Build ``fn(spark, sf_dir)``, collect its checksum, and return
    the record described in the module docstring.  ``clear`` drops
    every cached frame first (outside the clock)."""
    if clear:
        spark.catalog.clearCache()
    lo = next_job_id(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    # xxhash64 over every column forces every output expression
    # (count() alone lets Catalyst prune projection-only work) while
    # one row reaches the driver
    action_df = df.select(
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h")
    ).agg(F.expr("bit_xor(_h)"), F.count("_h"))
    h, n = action_df.collect()[0]
    t2 = time.perf_counter()
    hi = next_job_id(spark)
    return {
        "build_s": t1 - t0,
        "action_s": t2 - t1,
        "total_s": t2 - t0,
        "checksum": (h, n),
        **counters(spark, lo, hi),
        "job_ids": (lo, hi),
        "df": df,
        "action_df": action_df,
    }


def measured(spark, fn) -> dict:
    """Run the side-effect phase ``fn()``: ``total_s`` is its wall
    time, the counters are those of the jobs it fired, ``result`` is
    what it returned."""
    lo = next_job_id(spark)
    t0 = time.perf_counter()
    result = fn()
    total_s = time.perf_counter() - t0
    return {
        "total_s": total_s,
        **counters(spark, lo, next_job_id(spark)),
        "result": result,
    }


def tool_session(app_name: str):
    """The tools' session: ``get_spark`` at 32 shuffle partitions,
    with one tiny job so the first measured phase is not charged for
    JVM start-up."""
    from omniengine_spark.session import get_spark

    spark = get_spark(app_name=app_name, shuffle_partitions=32)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


_PHASE = "PHASE_RESULT "


def phase_result(rec: dict) -> None:
    """Child side of ``run_phase``: print the phase's record (its
    frames and return value dropped) as the one result line."""
    drop = ("df", "action_df", "result")
    out = {k: v for k, v in rec.items() if k not in drop}
    print(_PHASE + json.dumps(out), flush=True)


def run_phase(script: str, phase: str, argv: list[str]) -> dict:
    """Parent side: run ``script --phase <phase> <argv>`` in a fresh
    Python process (its own JVM) and return its ``phase_result``
    record, with the 1-minute ``loadavg`` taken at its start.  Raises
    with the child's stderr tail when it printed no result line."""
    load = os.getloadavg()[0]
    proc = subprocess.run(
        [sys.executable, script, "--phase", phase, *argv],
        capture_output=True, text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_PHASE):
            return {**json.loads(line[len(_PHASE):]),
                    "loadavg": round(load, 2)}
    raise RuntimeError(f"phase {phase} of {script} failed (exit "
                       f"{proc.returncode}):\n{proc.stderr[-3000:]}")


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def node_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric name: value}) for every node of ``df``'s
    executed plan, after it ran: through AQE query stages, reused
    exchanges, subqueries and cached relations.  A node reached twice
    (a reused exchange, a reused subquery) is reported once."""
    stack = [df._jdf.queryExecution().executedPlan()]
    seen: set[int] = set()
    out = []
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            stack.append(p.child())
            continue
        if kind == "InMemoryTableScanExec":
            stack.append(p.relation().cachedPlan())
        metrics = {}
        for kv in _iter(p.metrics()):
            m = kv._2()
            if m.id() not in seen:
                seen.add(m.id())
                metrics[kv._1()] = int(m.value())
        if metrics:
            out.append((p.nodeName(), metrics))
        stack.extend(_iter(p.children()))
        stack.extend(_iter(p.subqueries()))
    return out


def warm_session(spark, sf_dir: str) -> None:
    """Engine start-up work that is not query work, done once so the
    first measured plan is not charged for it: JVM / codegen / parquet
    reader paths, the memoized per-txtype delta-array expression
    (thousands of py4j calls), and the Python DataSource runtime
    (plan-time and task-time datasource workers are fresh Python
    processes on first use, ~8 s of interpreter + pyspark imports)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    from omniengine_spark.pipeline import omni as _omni
    from omniengine_spark.sources import load_table

    spark.range(1000).selectExpr("sum(id)").collect()
    load_table(spark, sf_dir, "region").count()
    _omni._delta_array(spark)

    class _WarmReader(DataSourceReader):
        def read(self, partition):
            yield (1,)

    class _WarmSource(DataSource):
        @classmethod
        def name(cls):
            return "bench_warm_src"

        def schema(self):
            return "x int"

        def reader(self, schema):
            return _WarmReader()

    spark.dataSource.register(_WarmSource)
    spark.read.format("bench_warm_src").load().count()
