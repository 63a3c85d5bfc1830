"""The parquet footer reader (``sources.catalog``): ``load_table``
takes its schema from the footers, so building a table frame fires no
Spark job, and ``day_range`` anchors the split plans on the footer
min/max of ``events.ts``, falling back to a Spark aggregate where the
footers carry no statistics."""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from omniengine_spark.plans import ORACLES, QUERIES
from omniengine_spark.sources.catalog import (
    TABLES,
    day_range,
    footer_minmax,
    load_table,
    parquet_schema,
    stream_table,
)
from tools.driver_sim import frames_match, make_duck

from .conftest import SF_SMOKE, next_job_id


def _copy(dst) -> str:
    """A never-seen copy of the sf0.001 tables: new paths, so no memo
    entry of an earlier read can serve them."""
    shutil.copytree(SF_SMOKE, dst)
    return str(dst)


def _checksum(df):
    return tuple(
        df.select(F.xxhash64(*df.columns).alias("h"))
        .agg(F.expr("bit_xor(h)"), F.count("h"))
        .collect()[0]
    )


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_load_table_fires_no_job_and_matches_inferred_read(
    spark, tmp_path, ntz
):
    """On every table, under either timestamp inference: 0 jobs to
    build, and the schema and rows of Spark's inferring read."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ntz)
    try:
        sf = _copy(tmp_path / "sf")
        for name in TABLES:
            lo = next_job_id(spark)
            df = load_table(spark, sf, name)
            assert next_job_id(spark) == lo, name
            inferred = spark.read.parquet(f"{sf}/{name}.parquet")
            assert df.schema == inferred.schema, name
            assert _checksum(df) == _checksum(inferred), name
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_spark_written_directory_fires_no_job(spark, tmp_path, ntz):
    """A directory Spark wrote (the chunked stream source
    ``tools/stream_bench.py`` stages) stores Spark's schema in each
    footer: ``load_table`` and ``stream_table`` read it with no job,
    and, made nullable, it is the schema Spark's inference gives, also
    for nested and non-nullable columns."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ntz)
    try:
        sf = str(tmp_path)
        load_table(spark, SF_SMOKE, "events").repartition(3).write.parquet(
            f"{sf}/events.parquet"
        )
        spark.sql(
            "SELECT id, timestamp_micros(id) AS ts,"
            " CAST(timestamp_micros(id) AS timestamp_ntz) AS ntz,"
            " array(id, NULL) AS arr, map('k', id) AS m,"
            " named_struct('x', id, 'y', array(named_struct('z', 1))) AS st,"
            " CAST(id AS decimal(12, 2)) AS d FROM range(10)"
        ).repartition(2).write.parquet(f"{sf}/nested.parquet")
        lo = next_job_id(spark)
        batch = load_table(spark, sf, "events")
        stream_table(spark, sf, "events")
        nested = parquet_schema(spark, f"{sf}/nested.parquet")
        assert next_job_id(spark) == lo
        inferred = spark.read.parquet(f"{sf}/events.parquet")
        assert batch.schema == inferred.schema
        assert _checksum(batch) == _checksum(inferred)
        assert nested == spark.read.parquet(f"{sf}/nested.parquet").schema
    finally:
        spark.conf.set(key, old)


def test_footer_minmax_of_ts_matches_spark(spark, tmp_path):
    sf = _copy(tmp_path / "sf")
    ev = load_table(spark, sf, "events")
    rngs = footer_minmax(f"{sf}/events.parquet", ["ts", "no_such_col"])
    assert rngs.keys() == {"ts"}
    rng = rngs["ts"]
    # naive footer values are UTC wall clock; the session is UTC
    micros = tuple(
        (v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
        for v in rng
    )
    us = F.unix_micros("ts")
    assert micros == tuple(ev.agg(F.min(us), F.max(us)).collect()[0])
    day = F.to_date("ts")
    assert day_range(spark, sf) == tuple(
        ev.agg(F.min(day), F.max(day)).collect()[0]
    )


def test_statistics_free_copy_falls_back_and_s19_matches_oracle(
    spark, tmp_path
):
    """Footers written without statistics cannot prove the min: the
    anchor comes from Spark, and s19 still matches its oracle."""
    sf = _copy(tmp_path / "sf")
    path = f"{sf}/events.parquet"
    table = pq.read_table(path)
    pq.write_table(table, path, write_statistics=False)
    assert footer_minmax(path, ["ts"]) == {}
    ev = load_table(spark, sf, "events")
    day = F.to_date("ts")
    assert day_range(spark, sf) == tuple(
        ev.agg(F.min(day), F.max(day)).collect()[0]
    )
    duck = make_duck(sf)
    try:
        got = QUERIES["s19_time_travel_diff"](spark, sf).toPandas()
        want = duck.execute(ORACLES["s19_time_travel_diff"]).fetchdf()
    finally:
        duck.close()
    assert len(got) > 0
    assert not frames_match(got, want)


_SPLIT_PLANS = [
    "serve_cached_rates",
    "s19_time_travel_diff",
    "x15_ivm_rollup_merge",
    "x16_cdc_snapshot_diff",
    "x1b_incremental_batch",
]


def test_empty_events_split_plans_match_oracles(spark, tmp_path):
    """An ``events`` table with no rows has no first day: ``day_range``
    gives (None, None), and each plan that anchors on it still returns
    its oracle's result."""
    sf = _copy(tmp_path / "sf")
    path = f"{sf}/events.parquet"
    pq.write_table(pq.read_table(path).slice(0, 0), path)
    assert day_range(spark, sf) == (None, None)
    duck = make_duck(sf)
    try:
        for name in _SPLIT_PLANS:
            got = QUERIES[name](spark, sf).toPandas()
            want = duck.execute(ORACLES[name]).fetchdf()
            problems = frames_match(got, want)
            assert not problems, f"{name}: {'; '.join(problems)}"
    finally:
        duck.close()
