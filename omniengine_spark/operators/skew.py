"""Skew mitigation (SURVEY §4: "salting for skew").

AQE splits skewed JOIN partitions at runtime, but a skewed groupBy
key still funnels one reducer: the classic fix is two-phase salted
aggregation — phase 1 aggregates (key, salt) so the hot key spreads
over ``n_salts`` reducers, phase 2 merges the partials.  Algebraic
(sum/count/min/max-style) aggregates commute with this split, so the
result is exactly the unsalted plan's.

A hot JOIN key needs no salting here: ``session.get_spark`` turns on
AQE skew-join, which splits the skewed partitions at runtime.

**The salt must be DETERMINISTIC per row.**  A tempting
monotonically_increasing_id() in the hash routes the same row to
different reducers across partial stage retries (shuffle-fetch order
changes → different ids), and reducers that already committed keep
their output — rows silently double-count or vanish (the
SPARK-23207 bug class).  So the salt is a hash of row CONTENT
(deterministic under any retry).  Fully identical duplicate rows
therefore share a salt — harmless for aggregation, where map-side
partial aggregation already collapses duplicates before the shuffle
(the reducer sees at most one partial per map task either way).  To
salt on a real discriminator instead, pass ``salt_from`` pointing at
one (an id stamped upstream), never a nondeterministic expression.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MERGEABLE = {"sum", "count", "min", "max"}


def _salt_expr(df: DataFrame, salt_from: str | None, n_salts: int):
    cols = (
        [F.col(salt_from)]
        if salt_from
        else [F.col(c) for c in df.columns]
    )
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """Two-phase aggregation: ``aggs`` maps output column →
    (function, input column) with function in {sum, count, min, max}.

    The salt is a deterministic content hash (or of ``salt_from``),
    so stage retries re-route every row identically — see module
    docstring for why a per-row id would corrupt results under
    partial retries.
    """
    bad = {f for f, _ in aggs.values()} - MERGEABLE
    if bad:
        raise ValueError(f"non-mergeable aggregate(s): {sorted(bad)}")

    salted = df.withColumn("_salt", _salt_expr(df, salt_from, n_salts))

    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(col).alias(out)
            for out, (fn, col) in aggs.items()
        ]
    )
    # merge: count partials merge by SUM, the rest by themselves
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (fn, _) in aggs.items()
        ]
    )


def chunked_running_sum(
    df: DataFrame,
    key: str,
    order_cols: Sequence[str],
    value_col,
    chunk_col,
    out_col: str = "running_value",
) -> DataFrame:
    """Skew-safe running (prefix) sum per key: the distributed
    two-pass scan that replaces ``SUM(...) OVER (PARTITION BY key
    ORDER BY ... ROWS UNBOUNDED PRECEDING)`` when one key is hot.

    A plain running window puts EVERY row of a key into one task; a
    key holding 20% of a 100 TB table is a straggler no config can
    split (AQE splits skewed joins, never window partitions).  The
    classic fix is chunking along the ORDER dimension:

      pass 1  running sum within (key, chunk) — hot key now spreads
              over as many tasks as it has chunks
      offsets per-(key, chunk) totals, then an EXCLUSIVE running sum
              over chunks per key — a frame of |keys|·|chunks| rows,
              tiny by construction
      pass 2  broadcast-join offsets back on (key, chunk), add

    ``chunk_col`` must be a deterministic expression that sorts
    consistently with ``order_cols`` (a coarse prefix of the order:
    e.g. ``date_trunc('day', ts)`` when ordering by (ts, id)) —
    ordering within one chunk plus ordering of chunk totals then
    reconstructs the exact global prefix order.  ``chunk_col`` must
    also be non-NULL for every row: a NULL chunk groups its rows into
    a separate partition that the offset window orders FIRST (nulls
    first), silently breaking the bit-identical-to-single-window
    guarantee.  Sums must be of an associative exact type
    (DECIMAL/BIGINT) so regrouping cannot change the result; the
    output is bit-identical to the single window's.
    """
    for tmp in ("_chunk", "_within", "_offset", "_chunk_total"):
        if tmp in df.columns:
            raise ValueError(
                f"chunked_running_sum: input already has a {tmp!r} "
                "column, which would be silently overwritten and "
                "dropped — rename it first"
            )
    chunked = df.withColumn("_chunk", chunk_col)
    w_in = (
        Window.partitionBy(key, "_chunk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = chunked.withColumn("_within", F.sum(value_col).over(w_in))
    totals = chunked.groupBy(key, "_chunk").agg(
        F.sum(value_col).alias("_chunk_total")
    )
    w_off = (
        Window.partitionBy(key)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        key,
        "_chunk",
        F.coalesce(
            F.sum("_chunk_total").over(w_off),
            F.lit(0).cast(totals.schema["_chunk_total"].dataType),
        ).alias("_offset"),
    )
    # no broadcast hint: offsets is |keys|·|chunks| rows — small next
    # to the data but NOT driver-small at scale (75k keys × 30 chunks
    # = 2.25M rows at sf5; measured 6× slower as a broadcast, whose
    # build is single-threaded).  The join key (key, chunk) is exactly
    # the pass-1 partitioning, and AQE still broadcasts when the frame
    # really is tiny.
    return (
        within.join(offsets, [key, "_chunk"])
        .withColumn(out_col, F.col("_within") + F.col("_offset"))
        .drop("_chunk", "_within", "_offset")
    )


def probe_running_sum_strategy(
    df: DataFrame,
    key: str,
    hot_share_threshold: float = 0.10,
    sample_fraction: float = 0.02,
    seed: int = 42,
) -> str:
    """The sampled top-key-share probe behind ``running_sum_auto``,
    exposed so callers (and measurement tools) read the DECISION
    directly instead of inferring it from optimized-plan text — any
    future join in either branch would silently flip such a guess.
    Returns ``"chunked"`` or ``"plain"``."""
    probe = (
        df.select(key)
        .sample(fraction=sample_fraction, seed=seed)
        .groupBy(key)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    hot = (
        probe is not None
        and probe["n"] is not None
        and probe["n"] > 0
        and probe["mx"] / probe["n"] >= hot_share_threshold
    )
    return "chunked" if hot else "plain"


def running_sum_auto(
    df: DataFrame,
    key: str,
    order_cols: Sequence[str],
    value_col,
    chunk_col,
    out_col: str = "running_value",
    hot_share_threshold: float = 0.10,
    sample_fraction: float = 0.02,
    seed: int = 42,
) -> DataFrame:
    """Running per-key prefix sum that PICKS plain-window vs
    ``chunked_running_sum`` from a cheap sampled top-key-share probe.

    The two branches are bit-identical (the chunked form is exact for
    associative types), so the probe influences only the PHYSICAL
    plan — which is what licenses a sampled, seed-fixed estimate
    instead of an oracle-reproducible scan.  The decision rule comes
    from the measured crossover (COVERAGE.md, round 7): on uniform
    keys the chunked form costs ~2-4× the plain window (two shuffles
    + a join against one shuffle), while at a 20% hot key the plain
    window's straggler ratio is 11.4 and the chunked form wins
    increasingly with scale.  The default threshold (top key holding
    ≥ ~10% of sampled rows) sits in the measured indifference band.

    The probe reads a ``sample_fraction`` sample of the KEY COLUMN
    only (column-pruned scan), counts per key, and compares the top
    key's share against the threshold.  A ~2% sample puts thousands
    of rows on any key near the threshold at the scales where the
    choice matters, so the share estimate's error is ~±1% absolute;
    frames too small for the sample to see (probe returns no rows)
    default to the plain window — correct, because small frames have
    no straggler problem.
    """
    decision = probe_running_sum_strategy(
        df, key, hot_share_threshold, sample_fraction, seed
    )
    if decision == "chunked":
        return chunked_running_sum(
            df, key, order_cols, value_col, chunk_col, out_col
        )
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))
