"""Scalar expression helpers (SURVEY §2.8).

Each maps a reference behavior to a built-in column expression:

* F1 — divisible-amount ×1e8 base-unit scaling (reference
  ``sql.py:396-405``, ``omniutils.py:4-12``)
* F2 — epoch-seconds → timestamp, trailing-interval windows
  (reference ``sql.py:2417``, ``266``, ``276``)
* F5/F6 — hex payload field decode (reference ``sql.py:1626-1641``)
* F7 — null/exception-tolerant numeric reads (reference
  ``sql.py:1340-1414``)

Exact money math: all currency arithmetic goes through DecimalType so
sums are order-independent (a distributed engine must not let float
reduction order change results).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact intermediate for currency-like doubles: wide enough for 100 TB
# fact-table sums, scale 4 preserves cents×discount products.
_MONEY = "decimal(25,4)"

# The plans' money conventions, each defined once.  Oracle SQL spells
# the same rules, so a plan and its oracle round identically:
# currency and quantities as DECIMAL(18,4), ledger base units as
# DECIMAL(19,0), and event values as whole cents, ROUND(value*100)
# cast to BIGINT.
DEC_18_4 = "decimal(18,4)"
DEC_19_0 = "decimal(19,0)"
CENTS_SQL = "CAST(ROUND(value*100) AS BIGINT)"


def dec_18_4(c: str) -> Column:
    """Column ``c`` as an exact ``DEC_18_4``."""
    return F.col(c).cast(DEC_18_4)


def cents() -> Column:
    """Event ``value`` in BIGINT cents: the Spark side of ``CENTS_SQL``."""
    return F.round(F.col("value") * 100).cast("long")


def money(col: Column | str) -> Column:
    """Cast a currency-ish column to an exact decimal intermediate."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(_MONEY)


def decimal_sum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a currency column, surfaced as
    double for oracle comparison."""
    return F.sum(money(col)).cast("double").alias(alias)


def scale_base_units(amount: Column, divisible: Column) -> Column:
    """F1: divisible amounts scale ×1e8 into integer base units;
    indivisible parse as plain integers (reference ``sql.py:396-405``)."""
    dec = amount.cast("decimal(38,8)")
    # truncation toward ZERO, like the reference's python int():
    # floor alone would send -3.7 to -4 where int(-3.7) == -3, and a
    # plain decimal cast would round.  (Indivisible amounts are
    # non-negative in every reference payload, but the helper should
    # not quietly differ on the sign it might someday see.)
    truncated = F.when(dec >= 0, F.floor(dec)).otherwise(F.ceil(dec))
    return (
        F.when(divisible, (dec * F.lit(100000000)).cast(DEC_19_0))
        .otherwise(truncated.cast(DEC_19_0))
    )


def epoch_to_ts(col: Column | str) -> Column:
    """F2: epoch-seconds integer → TimestampType."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c.cast("long"))


def epoch_us(col: Column | str) -> Column:
    """F2: timestamp → epoch microseconds, tolerant of NTZ input.

    ``unix_micros`` requires TIMESTAMP (with local tz); sessions not
    built by our factory read parquet naive timestamps as
    TIMESTAMP_NTZ.  The session tz is pinned UTC at load time, so the
    cast preserves the wall-clock epoch; on an already-LTZ column the
    cast is a no-op Catalyst folds away.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def trailing_window(ts: Column, anchor: Column, days: int = 1) -> Column:
    """F2: membership in a trailing interval window
    (reference ``sql.py:266``: ``txrecvtime > now() - '1 day'``)."""
    return ts > anchor - F.expr(f"INTERVAL {days} DAY")


def hex_to_long(payload: Column, start: int, length: int) -> Column:
    """F6: parse a big-endian hex field out of a payload string
    (1-based ``start``), e.g. propertyid = payload[8:16]
    (reference ``sql.py:1626-1641``).

    Restricted to ``length <= 15`` (60 bits): ``conv`` yields the
    UNSIGNED decimal string, and a 16-digit field with the top bit
    set ('8000000000000000') doesn't fit a signed BIGINT — the cast
    would throw under ANSI mode or silently null without it, while
    the reference's ``int(x, 16)`` parses it fine.  Full-width
    (uint64) amount fields go through ``hex_to_amount``.
    """
    if length > 15:
        raise ValueError(
            f"hex_to_long holds at most 15 hex digits (60 bits), got "
            f"{length}; use hex_to_amount for full-width fields"
        )
    return F.conv(F.substring(payload, start, length), 16, 10).cast("long")


def hex_to_amount(payload: Column, start: int, length: int = 16) -> Column:
    """F6 for full-width unsigned amount fields: DECIMAL(20,0) holds
    the whole uint64 range, matching the reference's arbitrary-
    precision ``int(x, 16)`` for 16-hex-digit amounts
    (``sql.py:1626-1641``)."""
    if length > 16:
        raise ValueError(f"at most 16 hex digits (uint64): {length}")
    return F.conv(F.substring(payload, start, length), 16, 10).cast(
        "decimal(20,0)"
    )


def null_to_zero(col: Column | str) -> Column:
    """F7: None→0 on read (reference ``sql.py:134-146``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0))
