"""Per-layer census taken from outside the engine.

Nothing here changes the engine.  The traced run:

* wraps every public function of ``omniengine_spark.{sources, pipeline,
  operators, streaming}`` with a timer (``LayerTracer.install``), before
  ``omniengine_spark.plans`` is imported, because plan modules bind those
  names at import time;
* reads Spark's own counters after each pass (``SparkCensus``): jobs by
  id range, stage bytes and times from the status store, and the Python
  boundary bytes from the action's executed plan;
* listens to streaming progress (``StreamProgress``);
* counts the engine's session memos by name (``memo_entries``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict

LAYERS = ("sources", "pipeline", "operators", "streaming")

# Index builders: these operator functions, plus every versioned commit
# whose target lies in an index directory (the IVF/PQ and LSH builds
# commit lazily built frames from plan helpers, so the write is only
# visible as a commit into the index's directory).
INDEX_BUILDERS = frozenset({
    "minhash_index.build_index",
    "minhash_index.ingest_shard",
    "minhash_index.compact_index",
    "ann_index.seeded_centroids",
    "ann_index.assign_lists",
    "ann_index.lsh_entry_table",
    "similarity.pq_build_index",
    "similarity.ivf_build_centroids",
})
INDEX_DIR = re.compile(r"[/-](ivf|lsh|pq|minhash|sem-inc)-")

# Module-level memo/caches, attributed to a layer by the module that
# holds them (two live in plan modules but memoize layer results).
MEMO_NAME = re.compile(r"^_[A-Z0-9_]*(MEMO|CACHE|SHIPPED)[A-Z0-9_]*$")
MEMO_LAYER = {
    "sources": "sources",
    "pipeline": "pipeline",
    "plans.pipeline_plans": "pipeline",
    "operators": "operators",
    "plans.similarity": "operators",
    "streaming": "streaming",
}


class LayerTracer:
    """Times calls into the engine's layers.

    Each wrapped function's key is ``layer.module.function``.  Per key,
    per module (``layer.module``) and per layer it keeps the call count
    and inclusive seconds, counting only the outermost of nested calls
    at that level: a layer function calling its own layer (or itself)
    is not counted twice.  Times of different layers overlap where one
    calls another (``pipeline`` calls ``sources``).
    """

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.module_s: dict[str, float] = defaultdict(float)
        self.layer_calls: dict[str, int] = defaultdict(int)
        self.layer_s: dict[str, float] = defaultdict(float)
        self.index_build_s = 0.0
        self._active: dict[str, int] = defaultdict(int)

    def snapshot(self) -> dict:
        return {
            "calls": dict(self.calls),
            "seconds": dict(self.seconds),
            "module_s": dict(self.module_s),
            "layer_calls": dict(self.layer_calls),
            "layer_s": dict(self.layer_s),
            "totals": {"index_build_s": self.index_build_s},
        }

    def wrap(self, key: str, fn):
        """A wrapper that times ``fn`` under ``key`` and returns exactly
        what ``fn`` returns or raises."""
        layer, module, _ = key.split(".")
        module_key = f"{layer}.{module}"
        is_index = key.split(".", 1)[1] in INDEX_BUILDERS
        is_commit = key == "sources.versioned.commit"
        active = self._active

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            levels = [k for k in (key, module_key, layer) if not active[k]]
            index = not active["index"] and (
                is_index or (is_commit and _index_target(args, kwargs))
            )
            for k in (key, module_key, layer):
                active[k] += 1
            if index:
                active["index"] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                for k in (key, module_key, layer):
                    active[k] -= 1
                if index:
                    active["index"] -= 1
                    self.index_build_s += dt
                if key in levels:
                    self.calls[key] += 1
                    self.seconds[key] += dt
                if module_key in levels:
                    self.module_s[module_key] += dt
                if layer in levels:
                    self.layer_calls[layer] += 1
                    self.layer_s[layer] += dt

        return timed

    def install(self) -> int:
        """Wrap every public function defined in the four layer
        packages, then rebind every already-imported reference to them
        (a layer module that imported another layer's function by name
        holds the original).  Returns the number of functions wrapped.
        Must run before ``omniengine_spark.plans`` is imported."""
        if "omniengine_spark.plans" in sys.modules:
            raise RuntimeError("install the tracer before importing plans")
        replaced: dict[int, object] = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"omniengine_spark.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for name, obj in list(vars(mod).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                    ):
                        continue
                    key = f"{layer}.{info.name}.{name}"
                    replaced[id(obj)] = self.wrap(key, obj)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("omniengine_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        return len(replaced)


def _index_target(args: tuple, kwargs: dict) -> bool:
    """True when a ``versioned.commit(df, path, ...)`` writes into an
    index directory."""
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    return isinstance(path, str) and bool(INDEX_DIR.search(path))


def memo_entries() -> dict[str, int]:
    """Entries held by the engine's module-level memos, per layer."""
    out = {layer: 0 for layer in LAYERS}
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("omniengine_spark.") or mod is None:
            continue
        rel = modname[len("omniengine_spark."):]
        layer = MEMO_LAYER.get(rel) or MEMO_LAYER.get(rel.split(".")[0])
        if layer is None:
            continue
        for name, obj in vars(mod).items():
            if MEMO_NAME.match(name) and isinstance(obj, (dict, set)):
                out[layer] += len(obj)
    return out


class SparkCensus:
    """Spark's counters for a range of job ids, read after the jobs
    ended.  Job ids rise by one per job within a SparkContext, and the
    benchmark drives the session from one thread, so the jobs fired
    between two reads of the next id belong to the call in between
    (streaming micro-batch jobs included, which run outside the
    caller's job group)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> dict[str, float]:
        """Counts and stage metrics of jobs ``lo`` .. ``hi - 1``."""
        from py4j.protocol import Py4JJavaError

        store = self._jsc.statusStore()
        out = defaultdict(float)
        seen: set[int] = set()
        for jid in range(lo, hi):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_mb"] += sd.inputBytes() / 2**20
                out["output_mb"] += sd.outputBytes() / 2**20
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 2**20
        return dict(out)


_PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived")


def python_bytes(df) -> int:
    """Bytes that crossed the Arrow/Python boundary in ``df``'s last
    execution, summed over the executed plan's Python nodes.  Frames
    materialized by jobs fired while the plan was built (checkpoints,
    eager collects) appear here only as scans, so their Python bytes
    are not counted."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for name in _PYTHON_METRICS:
            m = metrics.get(name)
            if m.isDefined():
                total += int(m.get().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subqueries = node.subqueries()
        for i in range(subqueries.size()):
            stack.append(subqueries.apply(i))
    return total


class StreamProgress:
    """Collects streaming micro-batch progress through Spark's
    listener.  Events arrive on the listener bus's thread; read them
    after ``SparkCensus.drain``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self._events = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs or {}
                with lock:
                    events.append({
                        "batch_ms": d.get("triggerExecution", 0),
                        "planning_ms": d.get("queryPlanning", 0),
                        "commit_ms": d.get("walCommit", 0)
                        + d.get("commitOffsets", 0),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        """The progress events received since the last ``take``."""
        with self._lock:
            out = list(self._events)
            self._events.clear()
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
