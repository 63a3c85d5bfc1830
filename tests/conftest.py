"""Shared fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from omniengine_spark.session import get_spark  # noqa: E402
from tools.driver_sim import make_duck  # noqa: E402
from tools.measure import next_job_id  # noqa: E402,F401

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="omniengine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_CORRECT)
    yield con
    con.close()
