"""DEx-1 accept expiry — the reference's block-height timer
(``expireAccepts``, ``sql.py:537-588``): every block, accepts whose
``expireblock`` has passed while still unpaid or partially paid are
expired, and the unpaid remainder is credited back to the seller's
sale (accepted-tally always; available/reserved too when the sale
itself has ended).

The reference mutates ActiveOffers/OfferAccepts row by row and undoes
an expiry on reorg by re-running the loop with a negative block
(``sql.py:540-545``).  Here ``accept_expiry_deltas(accepts, B)`` is a
pure column expression over the accepts frame, deterministic and
idempotent, so recomputing at the reorg height IS the undo (X2): there
is no inverse path.

Scale: one narrow projection + filter over the accepts frame, no
shuffle, no state; the frame arrives pre-aggregated (one row per
accept with its paid total), which is one groupBy upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_19_0

# serial offset for synthetic expiry events: far above any real tx
# serial so the ordered folds place credits after the accepts they
# reverse (the reference runs expireAccepts after the block's txs).
EXPIRY_SERIAL_BASE = 1 << 40


def accept_expiry_deltas(accepts: DataFrame, as_of_block) -> DataFrame:
    """Expiry delta rows as of ``as_of_block``: one row per accept
    with ``expire_block <= as_of_block`` and an unpaid remainder,
    in the same shape ``expand_deltas`` emits — union them into the
    delta stream before the balance fold.

    ``as_of_block`` may be a literal or a Column (e.g. a scalar
    subquery of the current chain tip).  Expects columns: accept_id,
    seller, propertyid, amount_accepted, amount_paid, expire_block,
    offer_state.
    """
    blk = as_of_block if isinstance(as_of_block, F.Column) else F.lit(
        as_of_block
    )
    remaining = (
        F.col("amount_accepted") - F.coalesce(F.col("amount_paid"), F.lit(0))
    ).cast(DEC_19_0)
    sale_ended = F.col("offer_state").isin("replaced", "cancelled")
    zero = F.lit(0).cast(DEC_19_0)
    return accepts.filter(
        (F.col("expire_block") <= blk) & (remaining > 0)
    ).select(
        F.concat(
            F.lit("expiry:"), F.col("accept_id").cast("string")
        ).alias("txid"),
        F.col("expire_block").alias("block"),
        (F.lit(EXPIRY_SERIAL_BASE) + F.col("accept_id")).alias("serial"),
        F.col("seller").alias("address"),
        F.col("propertyid").cast("bigint").alias("propertyid"),
        # sale ended → remainder returns to the seller's available
        # balance out of reserve (sql.py:568-575); still active → only
        # the accepted tally drops (sql.py:576-582)
        F.when(sale_ended, remaining).otherwise(zero)
        .alias("delta_base_units"),
        F.when(sale_ended, -remaining).otherwise(zero)
        .alias("delta_reserved"),
        (-remaining).cast(DEC_19_0).alias("delta_accepted"),
        F.lit("delta").alias("kind"),
        F.lit("accept_expired").alias("role"),
    )


def offer_book_replay(events, key_cols=("seller", "propertyid")):
    """The reference's ActiveOffers row arithmetic (``updatedex`` /
    ``offerAccept`` / ``updateAccept`` / ``expireAccepts``,
    ``sql.py:590-794``) as a strict per-seller sequential fold —
    the un-simplified D3/D4 state machine:

    * ``offer``    → (re)list: amountavailable = amount
      (``sql.py:774-793``)
    * ``accept``   → amountavailable -= amount,
      amountaccepted += amount (``sql.py:685-693``)
    * ``payment``  → amountaccepted -= amount (``sql.py:629-641``);
      availability is NOT touched — the sold portion left it at
      accept time
    * ``expiry``   → the unpaid remainder returns:
      amountavailable += amount, amountaccepted -= amount
      (``sql.py:565-566``)
    * terminal ``offerstate``: 'sold' when both run dry
      (``sql.py:632-635``), else 'active'

    Input rows: key_cols + serial + kind + amount (long).  Output one
    ActiveOffers-shaped row per key.  Runs through ``ordered_replay``
    (one shuffle on the seller key, Arrow-batched fold); the closed
    form used as its oracle lives in ``plans/dex_plans.py``
    (``d3b_offer_book``).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from omniengine_spark.operators.replay import ordered_replay

    schema = T.StructType(
        [
            T.StructField(
                k, T.StringType() if k == "seller" else T.LongType()
            )
            for k in key_cols
        ]
        + [
            T.StructField("amount_available", T.LongType()),
            T.StructField("amount_accepted", T.LongType()),
            T.StructField("offer_state", T.StringType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        avail, acc = 0, 0
        for kind, amt in zip(pdf["kind"], pdf["amount"]):
            amt = int(amt)
            if kind == "offer":
                avail = amt
            elif kind == "accept":
                avail -= amt
                acc += amt
            elif kind == "payment":
                acc -= amt
            elif kind == "expiry":
                avail += amt
                acc -= amt
        state = "sold" if avail == 0 and acc == 0 else "active"
        out = {k: [pdf[k].iloc[0]] for k in key_cols}
        out["amount_available"] = [avail]
        out["amount_accepted"] = [acc]
        out["offer_state"] = [state]
        return pd.DataFrame(out)

    return ordered_replay(
        events, list(key_cols), ["serial"], fold, schema
    )
