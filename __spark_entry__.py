"""Driver contract for the spark-graft builder (PySpark target).

Exposes the engine's registered plans (omniengine_spark.plans) to the
driver: ``entry`` smoke-runs the flagship query at sf0.001,
``queries`` maps plan name → callable, ``oracle_sql`` maps plan name →
DuckDB-equivalent SQL for the correctness gate.

Each ``queries()`` callable runs one plan call, the unit of session
state (``sources.catalog.plan_call``): a frame a call returns stays
readable until the next call of the same plan ends its build, which
releases the scratch files, cached frames and checkpoints the earlier
frame reads.  Collect a result before calling its plan again; no
caller needs ``spark.catalog.clearCache()``.  Drive a session from one
thread.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from omniengine_spark.plans import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["a4_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for the genuinely
    non-SQL-expressible plans — driver then does a rows-only check)."""
    return dict(ORACLES)
