"""Genesis balance-snapshot ingestion (SURVEY §7.1 step 2).

The reference seeds ``AddressBalances`` from a CSV snapshot before
replaying any block (``database/balances.csv:1-679``, loaded by
``tools/resetBalances.py:1-5``): every full-history rebuild starts
from that opening state, not from zero.  Here the snapshot is a
schema'd distributed CSV read; its rows become serial ``-1`` delta
rows (``pipeline.omni.genesis_deltas``) under the same fold as tx
deltas, so both the one-shuffle groupBy fold and the ordered replay
see the snapshot as the opening balance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniengine_spark.sources.catalog import load_table
from omniengine_spark.sources.sinks import artifact_root

# Reference CSV header (database/balances.csv:1): address, protocol,
# propertyid, ecosystem, balanceavailable, balancereserved,
# balanceaccepted, lasttxdbserialnum.  Balances are integer base
# units — lossless through CSV text.
GENESIS_SCHEMA = T.StructType(
    [
        T.StructField("address", T.StringType(), False),
        T.StructField("protocol", T.StringType(), True),
        T.StructField("propertyid", T.LongType(), False),
        T.StructField("ecosystem", T.StringType(), True),
        T.StructField("balanceavailable", T.LongType(), False),
        T.StructField("balancereserved", T.LongType(), True),
        T.StructField("balanceaccepted", T.LongType(), True),
        T.StructField("lasttxdbserialnum", T.LongType(), True),
    ]
)


def read_genesis_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema'd scan of a reference-format genesis CSV, projected to
    the canonical snapshot columns (address, propertyid, available,
    reserved, accepted).  Null balances coalesce to 0 — the reference
    CSV leaves reserved/accepted blank for plain holdings."""
    raw = (
        spark.read.schema(GENESIS_SCHEMA)
        .option("header", "true")
        .csv(path)
    )
    zero = F.lit(0).cast("long")
    return raw.select(
        "address",
        "propertyid",
        F.coalesce(F.col("balanceavailable"), zero).alias("available"),
        F.coalesce(F.col("balancereserved"), zero).alias("reserved"),
        F.coalesce(F.col("balanceaccepted"), zero).alias("accepted"),
    )


def synthetic_genesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic genesis snapshot derived from the ``customer``
    table, round-tripped through a reference-format CSV so the plan
    exercises the real ingest path (write → schema'd read), not just
    an in-memory frame.

    The CSV is written once under an ``artifact_root`` named by the
    ``customer.parquet`` fingerprint (Spark's ``_SUCCESS`` marker ends
    the write); later calls only read it, and a rewritten
    ``customer.parquet`` gets a new root.

    Mapping (integer-exact on both engines): address ``'u'||custkey``
    (overlaps the tx stream's address space so the fold genuinely
    merges snapshot and deltas), propertyid ``custkey % 5``,
    available = acctbal in cents as base units.
    """
    path = artifact_root("genesis", sf_dir, "customer.parquet")
    if not os.path.exists(f"{path}/_SUCCESS"):
        _write_genesis_csv(spark, sf_dir, path)
    return read_genesis_csv(spark, path)


def _write_genesis_csv(spark: SparkSession, sf_dir: str, path: str) -> None:
    cust = load_table(spark, sf_dir, "customer")
    snap = cust.select(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias(
            "address"
        ),
        F.lit("Omni").alias("protocol"),
        (F.col("c_custkey") % 5).cast("long").alias("propertyid"),
        F.lit("Production").alias("ecosystem"),
        (F.col("c_acctbal").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("balanceavailable"),
        F.lit(0).cast("long").alias("balancereserved"),
        F.lit(0).cast("long").alias("balanceaccepted"),
        F.lit(None).cast("long").alias("lasttxdbserialnum"),
    )
    snap.write.mode("overwrite").option("header", "true").csv(path)
