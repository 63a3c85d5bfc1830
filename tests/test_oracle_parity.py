"""Oracle parity: every registered plan with an oracle must match
DuckDB exactly at sf0.01 — same row count, same schema names, same
values (bit-exact for the decimal-routed aggregates).

This mirrors the driver's CORRECTNESS gate so regressions surface
locally before a round ends.
"""

from __future__ import annotations

import pandas as pd
import pytest

from omniengine_spark.plans import ORACLES, QUERIES
from tools.driver_sim import frames_match

from .conftest import SF_CORRECT


def test_parity_comparator_rejects():
    """The comparator still rejects a dtype difference, None vs NaN,
    and a single differing value."""
    base = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5], "s": ["x", None]})
    assert frames_match(base, base.copy()) == []
    assert frames_match(base, base.astype({"k": "float64"}))
    nan = base.copy()
    nan["s"] = pd.Series(["x", float("nan")], dtype=object)
    assert frames_match(base, nan)
    assert frames_match(base, base.assign(v=[1.5, 2.75]))


ORACLE_NAMES = sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    spark_pd = q(spark, SF_CORRECT).toPandas()
    duck_pd = duck.execute(ORACLES[name]).fetchdf()
    problems = frames_match(spark_pd, duck_pd)
    assert not problems, f"{name}: {'; '.join(problems)}"


def test_all_queries_have_runnable_plans(spark):
    # Plans without oracles must still run and return a stable schema.
    for name, q in QUERIES.items():
        df = q(spark, SF_CORRECT)
        assert df.columns, f"{name}: empty schema"


def test_j8_finds_customers_whose_orders_are_dropped(spark, tmp_path):
    """At sf0.001 and sf0.01 every customer has orders, so j8's parity
    compares two empty frames.  On a copy whose ``orders`` loses every
    row of three customers, j8 returns exactly those three and matches
    its oracle."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tools.driver_sim import make_duck

    from .conftest import SF_SMOKE

    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf)
    orders = pq.read_table(sf / "orders.parquet")
    gone = sorted(set(orders.column("o_custkey").to_pylist()))[:3]
    keep = pc.invert(pc.is_in(orders.column("o_custkey"),
                              value_set=pa.array(gone, pa.int64())))
    pq.write_table(orders.filter(keep), sf / "orders.parquet")

    got = QUERIES["j8_customers_without_orders"](spark, str(sf)).toPandas()
    duck = make_duck(str(sf))
    try:
        want = duck.execute(ORACLES["j8_customers_without_orders"]).fetchdf()
    finally:
        duck.close()
    assert sorted(got["c_custkey"]) == gone
    problems = frames_match(got, want)
    assert not problems, "; ".join(problems)
