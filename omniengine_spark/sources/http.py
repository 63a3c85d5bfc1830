"""HTTP source adapters (SURVEY §2.1 S9-S12).

The reference polls fiat-rate / market / fee / supply HTTP APIs from
cron scripts (``updatePrices.py:113-236``, ``updateFees.py:27-93``,
``sql.py:1460-1467``) and upserts rows one at a time.  Here each
adapter is a *pure function* from a parsed JSON response to rows, so
it is unit-testable with fixtures and network-free; a deployment
fetches the JSON itself, and the rows land as a small DataFrame that
joins broadcast-style against facts.  This module makes no network
calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RATE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("base", T.StringType(), False),
        T.StructField("quote", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), False),
        T.StructField("asof_epoch", T.LongType(), False),
    ]
)

FEE_SCHEMA = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("fee_per_kb", T.LongType(), False),
    ]
)


# ---- pure response normalizers -------------------------------------

def normalize_fiat_rates(
    payload: dict, source: str, asof_epoch: int
) -> list[tuple]:
    """bitcoinaverage-shaped table {CUR: {last: x}} → rate rows
    (reference updateBTC, updatePrices.py:113-138)."""
    rows = []
    for cur, body in sorted(payload.items()):
        last = body.get("last") if isinstance(body, dict) else None
        if last is None:
            continue
        rows.append((source, "BTC", cur, float(last), asof_epoch))
    return rows


def normalize_fee_estimates(payload: dict, provider: str) -> list[tuple]:
    """BitGo/mempool-shaped fee maps → (provider, tier, fee) rows
    (reference updateFees.py:27-93)."""
    rows = []
    for tier in ("fastestFee", "halfHourFee", "hourFee"):
        if tier in payload:
            rows.append((provider, tier, int(payload[tier])))
    if "feePerKb" in payload:
        rows.append((provider, "feePerKb", int(payload["feePerKb"])))
    return rows


# ---- DataFrame constructors ----------------------------------------

def rates_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, RATE_SCHEMA)


def fees_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, FEE_SCHEMA)
