"""Salted aggregation must be result-identical to the unsalted plan —
on real tables and on an adversarially skewed frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omniengine_spark.operators.skew import salted_agg
from omniengine_spark.sources import load_table

from .conftest import SF_SMOKE


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    # integer cents so equality is exact under any grouping order
    d = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    plain = d.groupBy("event_type").agg(
        F.sum("cents").alias("total"),
        F.count("cents").alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    )
    salted = salted_agg(
        d,
        ["event_type"],
        {
            "total": ("sum", "cents"),
            "n": ("count", "cents"),
            "lo": ("min", "cents"),
            "hi": ("max", "cents"),
        },
        n_salts=13,
    )
    assert _sorted_rows(plain) == _sorted_rows(salted)


def test_salted_agg_on_hot_key(spark):
    # 90% of rows share one key — the case salting exists for
    rows = [("hot", i) for i in range(9000)] + [
        (f"k{i % 50}", i) for i in range(1000)
    ]
    d = spark.createDataFrame(rows, ["k", "v"])
    plain = d.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("n"))
    salted = salted_agg(
        d, ["k"], {"s": ("sum", "v"), "n": ("count", "v")}, n_salts=32
    )
    assert _sorted_rows(plain) == _sorted_rows(salted)


def test_salted_agg_rejects_non_mergeable(spark):
    d = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    with pytest.raises(ValueError):
        salted_agg(d, ["k"], {"m": ("avg", "v")})


def test_funnel_hot_user_bounded(spark, tmp_path):
    """w10's funnel must hold no per-user event arrays: a bot user
    with 50k clicks must flow through constant-size agg buffers.
    Checks (1) no collect_list in the optimized plan, (2) correct
    stage counts on a hot-user fixture."""
    from omniengine_spark.plans.windows import w10_funnel_stages

    base = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    hot_clicks = (
        spark.range(50_000)
        .select(
            F.lit(0).alias("user_id"),
            F.lit("click").alias("event_type"),
            (base + F.make_interval(secs=F.col("id") + 10)).alias("ts"),
        )
    )
    rows = [
        (0, "view", "2026-01-01 00:00:05"),
        (0, "purchase", "2026-01-01 01:00:00"),
        (1, "view", "2026-01-01 00:00:00"),
        (1, "click", "2026-01-01 00:10:00"),
        (2, "view", "2026-01-01 00:00:00"),
        (3, "click", "2026-01-01 00:00:00"),  # click w/o view: no funnel
    ]
    small = spark.createDataFrame(
        rows, ["user_id", "event_type", "ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    ev = hot_clicks.unionByName(small)
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = w10_funnel_stages(spark, str(tmp_path))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    got = {r["stage"]: r["n_users"] for r in out.collect()}
    # users 0,1,2 viewed; 0,1 clicked after view; only 0 purchased
    assert got == {"viewed": 3, "clicked": 2, "purchased": 1}


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join rule must actually fire on a hot join key —
    this is the runtime half of the skew story (salting covers
    aggregation; AQE covers joins).  Thresholds are lowered so a
    small frame exhibits "skew" by AQE's definition; the assertion is
    on the FINAL adaptive plan containing a skew=true SMJ after
    execution."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the groupBy above the join could reuse the join's hash
        # partitioning; without force, AQE skips the skew split rather
        # than invalidate it (extra-shuffle veto)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        # both thresholds: AQE would otherwise demote the SMJ to a
        # broadcast join at runtime and there'd be no skew to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # hot key 0: 300k of 330k left rows; right side unique keys
        left = spark.range(330_000).select(
            F.when(F.col("id") < 300_000, F.lit(0))
            .otherwise(F.col("id") % 64)
            .alias("k"),
            (F.col("id") * 7).alias("payload"),
        )
        right = spark.range(64).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = left.join(right, "k").groupBy("tag").count()
        [row] = joined.collect()
        assert row["count"] == 330_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, f"no skew split in plan:\n{final[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_running_sum_auto_branches_are_bit_identical(spark):
    """running_sum_auto's two branches (plain window / chunked
    two-pass) must produce the SAME rows — forced via the threshold
    knob so both paths execute regardless of what the probe would
    pick — and both must collide with the chunked operator's own
    output.  Also pins the temp-column collision guard."""
    from omniengine_spark.operators.skew import (
        chunked_running_sum,
        running_sum_auto,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    kw = dict(
        key="user_id",
        order_cols=["ts", "event_id"],
        value_col=F.col("value").cast("decimal(18,4)"),
        chunk_col=F.date_trunc("day", F.col("ts")),
    )
    cols = ["event_id", "user_id", "running_value"]
    plain = running_sum_auto(ev, hot_share_threshold=1.1, **kw)
    chunked = running_sum_auto(ev, hot_share_threshold=0.0, **kw)
    assert _sorted_rows(plain.select(*cols)) == _sorted_rows(
        chunked.select(*cols)
    )
    direct = chunked_running_sum(ev, **kw)
    assert _sorted_rows(chunked.select(*cols)) == _sorted_rows(
        direct.select(*cols)
    )
    with pytest.raises(ValueError, match="_chunk"):
        chunked_running_sum(ev.withColumn("_chunk", F.lit(1)), **kw)
