#!/usr/bin/env python
"""Bare-session correctness sweep — simulate the harness driver.

The driver builds its OWN SparkSession (none of session.get_spark's
conf), loads ``__spark_entry__.py`` by path, and compares every plan
against its DuckDB oracle.  Conf-dependent behavior (timestamp NTZ
inference, timezone, Arrow) therefore differs from the test-suite
session — round 2 lost 2 gate entries and carried 3 latent failures
(watermark/unix_micros on TIMESTAMP_NTZ) that only this shape of run
catches.  Run it before every round ends:

    python tools/driver_sim.py [names...]      # default: all oracles

Exit code 1 if any plan errors or mismatches.
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

from omniengine_spark.sources.catalog import TABLES as _CATALOG  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = list(_CATALOG)


def make_duck(sf_dir: str):
    """DuckDB connection with the warehouse tables of ``sf_dir``
    registered as views: the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_match(a, b) -> list[str]:
    """Rows, columns, dtype (timestamp unit normalized) and values;
    returns a list of problems (empty == match).  The dtype check is
    strict: DuckDB HUGEINT sums surface as float64 while Spark returns
    int64, so an oracle CASTs its aggregates.  Two missing values match
    only when both are None or both are NaN."""
    problems = []
    if len(a) != len(b):
        return [f"rows {len(a)} != {len(b)}"]
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns {sorted(a.columns)} != {sorted(b.columns)}"]
    a, b = canon(a), canon(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        da, db_ = str(av.dtype), str(bv.dtype)
        if da.split("[")[0] != db_.split("[")[0]:
            problems.append(f"{c}: dtype {da} != {db_}")
            continue
        if da.startswith("datetime"):
            av = av.astype("datetime64[us]")
            bv = bv.astype("datetime64[us]")
        same_na = (
            av.isna() & bv.isna()
            & (av.map(lambda v: v is None) == bv.map(lambda v: v is None))
        )
        n = int((~((av == bv) | same_na)).sum())
        if n:
            problems.append(f"{c}: {n} value mismatches")
    return problems


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from omniengine_spark.plans import ORACLES, QUERIES

    con = make_duck(SF)
    names = sys.argv[1:] or sorted(ORACLES)
    bad = 0
    for name in names:
        try:
            spd = QUERIES[name](spark, SF).toPandas()
            dpd = con.execute(ORACLES[name]).fetchdf()
            problems = frames_match(spd, dpd)
            if problems:
                bad += 1
                print(f"FAIL {name}: {'; '.join(problems)}")
            else:
                print(f"ok   {name}: rows={len(spd)}")
        except Exception as e:  # noqa: BLE001 — report and continue
            bad += 1
            msg = str(e).replace("\n", " ")[:200]
            print(f"ERR  {name}: {type(e).__name__}: {msg}")
    print(f"\n{len(names) - bad}/{len(names)} green")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
