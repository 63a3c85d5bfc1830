"""S9-S12 HTTP adapters: pure normalizers over fixture payloads, then
small-DataFrame construction — network-free.
"""

from __future__ import annotations

from omniengine_spark.sources import http as H


FIAT_FIXTURE = {
    "USD": {"last": 64250.5, "ask": 64300.0},
    "EUR": {"last": 59100.25},
    "BAD": "not-a-dict",
    "GBP": {},
}

FEE_FIXTURE = {"fastestFee": 52, "halfHourFee": 31, "hourFee": 18}
BITGO_FIXTURE = {"feePerKb": 61440}


def test_fiat_normalizer_skips_malformed():
    rows = H.normalize_fiat_rates(FIAT_FIXTURE, "avg", 1700000000)
    assert rows == [
        ("avg", "BTC", "EUR", 59100.25, 1700000000),
        ("avg", "BTC", "USD", 64250.5, 1700000000),
    ]


def test_fee_normalizer_both_shapes():
    assert H.normalize_fee_estimates(FEE_FIXTURE, "mempool") == [
        ("mempool", "fastestFee", 52),
        ("mempool", "halfHourFee", 31),
        ("mempool", "hourFee", 18),
    ]
    assert H.normalize_fee_estimates(BITGO_FIXTURE, "bitgo") == [
        ("bitgo", "feePerKb", 61440)
    ]


def test_frames_build_and_join(spark):
    rates = H.rates_frame(
        spark, H.normalize_fiat_rates(FIAT_FIXTURE, "avg", 1700000000)
    )
    fees = H.fees_frame(
        spark, H.normalize_fee_estimates(FEE_FIXTURE, "mempool")
    )
    assert rates.count() == 2
    assert fees.count() == 3
    assert rates.schema == H.RATE_SCHEMA
    assert fees.schema == H.FEE_SCHEMA


def test_feed_connector_partitions_follow_providers_option(spark):
    """The Python DataSource splits one input partition per provider
    and honors an explicit provider list."""
    from omniengine_spark.sources.catalog import _ensure_package_shipped
    from omniengine_spark.sources.feed_source import register

    _ensure_package_shipped(spark)
    register(spark)
    df = (
        spark.read.format("omni_feed")
        .option("kind", "rates")
        .option("providers", "alpha")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert {r["source"] for r in rows} == {"alpha"}
    both = spark.read.format("omni_feed").option("kind", "rates").load()
    assert both.rdd.getNumPartitions() == 2


def test_feed_connector_fees_schema(spark):
    from omniengine_spark.sources.catalog import _ensure_package_shipped
    from omniengine_spark.sources.feed_source import register
    from omniengine_spark.sources.http import FEE_SCHEMA

    _ensure_package_shipped(spark)
    register(spark)
    df = spark.read.format("omni_feed").option("kind", "fees").load()
    assert df.schema == FEE_SCHEMA
    assert df.count() == 4
