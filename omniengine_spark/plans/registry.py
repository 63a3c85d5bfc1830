"""Plan registry: name → (callable, optional DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) exposes exactly this
mapping; keeping it decorator-driven means a query and its oracle live
next to each other and cannot drift apart silently.
"""

from __future__ import annotations

from omniengine_spark.sources.catalog import QueryFn, plan_call

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Plans that train/persist an ARTIFACT (a PQ/IVF index, a versioned
# book, a committed dedup index) before they can answer: their first
# cold run pays the build, later runs serve from the artifact.  The
# bench reports the two phases separately for these — a single number
# would conflate codebook training with query latency (one way) or
# hide the build cost entirely (the other).
ARTIFACT_PLANS: set[str] = set()


def query(name: str, oracle: str | None = None, artifact: bool = False):
    """Register a plan under ``name`` with an optional DuckDB oracle.

    ``artifact=True`` marks a plan whose run splits into a build phase
    (train/commit an index usable across runs) and a serve phase; the
    bench measures them separately (see ``bench.py``).  A name can be
    registered once: a second plan under it raises ``ValueError``.
    ``QUERIES`` holds ``plan_call(name, fn)``; the decorator returns ``fn``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"plan {name!r} is already registered")
        QUERIES[name] = plan_call(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle
        if artifact:
            ARTIFACT_PLANS.add(name)
        return fn

    return deco
