"""DEx-1 accept expiry — the reference's block-height timer
(``expireAccepts``, ``sql.py:537-588``): every block, accepts whose
``expireblock`` has passed while still unpaid or partially paid are
expired, and the unpaid remainder is credited back to the seller's
sale (accepted-tally always; available/reserved too when the sale
itself has ended).

The reference mutates ActiveOffers/OfferAccepts row by row and undoes
an expiry on reorg by re-running the loop with a negative block
(``sql.py:540-545``).  Here both directions are pure column
expressions over the accepts frame, so:

* ``accept_expiry_deltas(accepts, B)`` is deterministic and
  idempotent — recomputing at any height IS the reorg story (X2);
* ``unexpire_deltas(accepts, B0, B1)`` returns exactly the negated
  delta rows of the expiries that happened in ``(B0, B1]``, matching
  the reference's inverted arithmetic (``amountaccepted*-1``,
  ``sql.py:556-558``) — proven equal to recompute in
  ``tests/test_dex_expiry.py``.

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


def _expiry_rows(accepts: DataFrame, sign: int) -> DataFrame:
    """Delta rows for expiring (sign=+1) or un-expiring (sign=-1)
    accepts.  Expects columns: accept_id, seller, propertyid,
    amount_accepted, amount_paid, expire_block, offer_state."""
    remaining = (
        F.col("amount_accepted") - F.coalesce(F.col("amount_paid"), F.lit(0))
    ).cast(DEC_19_0)
    sale_ended = F.col("offer_state").isin("replaced", "cancelled")
    s = F.lit(sign).cast(DEC_19_0)
    return accepts.filter(remaining > 0).select(
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
        F.when(sale_ended, s * remaining)
        .otherwise(F.lit(0).cast(DEC_19_0))
        .alias("delta_base_units"),
        F.when(sale_ended, -s * remaining)
        .otherwise(F.lit(0).cast(DEC_19_0))
        .alias("delta_reserved"),
        (-s * remaining).cast(DEC_19_0).alias("delta_accepted"),
        F.lit("delta").alias("kind"),
        F.lit("accept_expired" if sign > 0 else "accept_unexpired").alias(
            "role"
        ),
    )


def accept_expiry_deltas(accepts: DataFrame, as_of_block) -> DataFrame:
    """Expiry delta rows as of ``as_of_block``: one row per accept
    with ``expire_block <= as_of_block`` and an unpaid remainder,
    in the same shape ``expand_deltas`` emits — union them into the
    delta stream before the balance fold.

    ``as_of_block`` may be a literal or a Column (e.g. a scalar
    subquery of the current chain tip).
    """
    blk = as_of_block if isinstance(as_of_block, F.Column) else F.lit(
        as_of_block
    )
    return _expiry_rows(
        accepts.filter(F.col("expire_block") <= blk), sign=1
    )


def unexpire_deltas(
    accepts: DataFrame, from_block, to_block
) -> DataFrame:
    """Reorg undo (reference negative-Block path, ``sql.py:540-545``):
    the negated delta rows of every expiry that fired in
    ``(from_block, to_block]``.  Applying them on top of the
    ``to_block`` state yields exactly the ``from_block`` state —
    equivalently, recompute at ``from_block``; both hold by
    construction and are pinned by test.
    """
    return _expiry_rows(
        accepts.filter(
            (F.col("expire_block") > F.lit(from_block))
            & (F.col("expire_block") <= F.lit(to_block))
        ),
        sign=-1,
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
