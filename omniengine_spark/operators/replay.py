"""Ordered stateful replay — the engine's escape hatch for semantics
that are genuinely sequential per entity.

The reference applies every transaction row-at-a-time in a single
process, so order-dependent rules (frozen-balance rule, reference
``sql.py:1408-1414``; DEx offer/accept state machines,
``sql.py:704-794``) are trivially sequential there.  In Spark the same
semantics become: shuffle once on the entity key, sort within each
group, fold sequentially inside an Arrow-batched ``applyInPandas``.
Parallelism across entities, strict order within an entity.

Scale notes: state per group is O(1); group size is bounded by one
entity's history.  Skewed entities are the risk at 100 TB — mitigate
by splitting the fold into per-partition prefix folds when a key is
hot (not needed for balance-like folds, which have a closed form —
see ``plans/domain.py`` d7_floor_balance_closed for the pure-window
formulation used as the oracle for this operator).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ordered_replay(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType,
) -> DataFrame:
    """Apply ``fold`` to each key group in ``order_cols`` order.

    ``fold`` receives one pandas DataFrame per key, already sorted,
    and returns the output rows for that key (any number of rows,
    matching ``schema``).

    Execution: ONE hash shuffle on the entity key, a partition-local
    sort on (key, order), then ``mapInPandas`` walks each partition's
    Arrow batches, slicing out complete key groups and carrying the
    (possibly split) trailing group into the next batch.  Compared to
    ``groupBy().applyInPandas`` this amortizes the Python/Arrow round
    trip over whole batches instead of paying it once per key —
    ~7× faster with many small entities, which is exactly the shape
    ledger data has (millions of addresses, short histories each).
    """
    keys = list(key_cols)

    def run_partition(batches):
        carry: pd.DataFrame | None = None

        def fold_block(block: pd.DataFrame):
            # dropna=False: a null entity key is reachable (e.g.
            # expand_deltas emits a null address when the reference
            # address is null) and must fold as its own group, not be
            # silently dropped (pandas groupby default).
            outs = [
                fold(g)
                for _, g in block.groupby(keys, sort=False, dropna=False)
            ]
            return pd.concat(outs, ignore_index=True)

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # the last key may continue in the next batch — hold it;
            # null-aware equality so a null-key tail group carries too
            # (NaN == NaN is False)
            last = pdf.iloc[-1]
            tail_mask = pd.Series(True, index=pdf.index)
            for k in keys:
                eq = pdf[k] == last[k]
                if pd.isna(last[k]):
                    eq = pdf[k].isna()
                tail_mask &= eq
            carry = pdf[tail_mask]
            done = pdf[~tail_mask]
            if len(done):
                yield fold_block(done)
        if carry is not None and len(carry):
            yield fold_block(carry)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
        .mapInPandas(run_partition, schema=schema)
    )


def floor_balance_replay(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
    delta_col: str = "delta_cents",
) -> DataFrame:
    """Per-entity running balance with a floor at zero:
    ``b_i = max(0, b_{i-1} + d_i)`` — the reference's read-modify-write
    balance fold (``sql.py:1320-1418``) with its implicit no-negative
    rule, replayed per entity in strict event order.

    Exact integer arithmetic (cents) so the result is bit-identical to
    the closed-form window formulation used as the oracle.
    """
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key_col, T.LongType()),
            T.StructField("balance_cents", T.LongType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        # built inside the fold: frompyfunc objects don't pickle
        clip_add = np.frompyfunc(lambda b, d: max(0, b + d), 2, 1)
        deltas = pdf[delta_col].to_numpy(dtype=np.int64)
        # seed with 0: accumulate passes element 0 through unclipped
        seeded = np.concatenate([np.zeros(1, dtype=np.int64), deltas])
        bal = clip_add.accumulate(seeded, dtype=object)[1:].astype(np.int64)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                key_col: pdf[key_col].to_numpy(),
                "balance_cents": bal,
            }
        )

    cols = list(
        dict.fromkeys(["event_id", key_col, *order_cols, delta_col])
    )
    slim = events.select(*cols)
    return ordered_replay(slim, [key_col], order_cols, fold, schema)


def offer_state_replay(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """DEx-1 offer/accept state machine per entity (reference
    updatedex/offerAccept, ``sql.py:704-794`` / ``590-702``), replayed
    in strict event order:

    * ``view``      → place/replace the offer (amount = value cents)
    * ``purchase``  → accept: decrement remaining, floor 0 → filled
    * ``click``     → cancel an open offer
    * filled/cancelled offers ignore further accepts/cancels; a new
      ``view`` always reopens.

    Output: one row per entity with the final state — exactly the
    reference's ActiveOffers terminal row, minus the mutation history.
    """
    schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("final_state", T.StringType()),
            T.StructField("remaining_cents", T.LongType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        state, remaining = "none", 0
        for etype, cents in zip(
            pdf["event_type"], pdf["offer_cents"]
        ):
            if etype == "view":
                state, remaining = "open", int(cents)
                if remaining == 0:
                    state = "filled"
            elif etype == "purchase" and state == "open":
                remaining = max(0, remaining - int(cents))
                if remaining == 0:
                    state = "filled"
            elif etype == "click" and state == "open":
                state = "cancelled"
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "final_state": [state],
                "remaining_cents": [remaining],
            }
        )

    slim = events.select(
        key_col,
        *order_cols,
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("offer_cents"),
    )
    return ordered_replay(slim, [key_col], order_cols, fold, schema)


def full_balance_replay(
    entries: DataFrame,
    key_cols: Sequence[str] = ("address", "propertyid"),
    order_col: str = "serial",
) -> DataFrame:
    """Four-column AddressBalances fold for keys that carry a
    freeze/unfreeze marker (reference ``updateBalance``,
    ``sql.py:1320-1418``; markers from txtypes 185/186,
    ``sql.py:2329-2372``):

    * ``freeze``    → available moves to frozen; while frozen, every
      available-column delta is diverted to frozen (the "frozen
      address can receive but not send" rule, ``sql.py:1408-1414``)
    * ``unfreeze``  → frozen moves back to available
    * reserved/accepted deltas are unaffected by freezing

    Input rows: key_cols + order_col + ``kind`` + the three delta
    columns as longs.  Output: one row per key with
    (available, reserved, accepted, frozen).
    """
    schema = T.StructType(
        [T.StructField(k, T.StringType() if k == "address" else T.LongType())
         for k in key_cols]
        + [
            T.StructField("available", T.LongType()),
            T.StructField("reserved", T.LongType()),
            T.StructField("accepted", T.LongType()),
            T.StructField("frozen", T.LongType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        avail, resv, acc, frozen = 0, 0, 0, 0
        is_frozen = False
        for kind, d_a, d_r, d_c in zip(
            pdf["kind"],
            pdf["delta_base_units"],
            pdf["delta_reserved"],
            pdf["delta_accepted"],
        ):
            if kind == "freeze":
                frozen += avail
                avail = 0
                is_frozen = True
            elif kind == "unfreeze":
                avail += frozen
                frozen = 0
                is_frozen = False
            else:
                if is_frozen:
                    frozen += int(d_a)
                else:
                    avail += int(d_a)
                resv += int(d_r)
                acc += int(d_c)
        out = {k: [pdf[k].iloc[0]] for k in key_cols}
        out["available"] = [avail]
        out["reserved"] = [resv]
        out["accepted"] = [acc]
        out["frozen"] = [frozen]
        return pd.DataFrame(out)

    return ordered_replay(entries, list(key_cols), [order_col], fold, schema)


def event_delta_cents(value_col: str = "value", type_col: str = "event_type"):
    """Signed integer-cent delta for the harness event stream:
    purchases credit, errors and clicks debit, the rest are neutral —
    the reference's per-txtype credit/debit dispatch in miniature
    (``sql.py:1664-2409``)."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    return (
        F.when(F.col(type_col) == "purchase", cents)
        .when(F.col(type_col).isin("error", "click"), -cents)
        .otherwise(F.lit(0).cast("long"))
    )
