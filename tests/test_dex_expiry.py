"""DEx-1 accept expiry (reference expireAccepts, sql.py:537-588):
forward expiry, the sale-ended credit-back branch, and the reorg
story — recompute at a height is stable.
"""

from __future__ import annotations

from omniengine_spark.operators.dex import accept_expiry_deltas

ACCEPTS = [
    # accept_id, seller, pid, accepted, paid, expire_block, offer_state
    (1, "s1", 31, 100, 100, 110, "active"),    # fully paid: no expiry
    (2, "s1", 31, 80, 30, 120, "active"),      # partial: 50 expires
    (3, "s2", 31, 60, 0, 130, "active"),       # unpaid: 60 expires
    (4, "s2", 31, 40, 10, 200, "active"),      # expires only at B>=200
    (5, "s3", 32, 25, 0, 115, "cancelled"),    # sale ended: credit back
]
COLS = [
    "accept_id", "seller", "propertyid", "amount_accepted",
    "amount_paid", "expire_block", "offer_state",
]


def _fold(rows):
    out = {}
    for r in rows:
        k = (r["address"], r["propertyid"])
        a, v, c = out.get(k, (0, 0, 0))
        out[k] = (
            a + int(r["delta_base_units"]),
            v + int(r["delta_reserved"]),
            c + int(r["delta_accepted"]),
        )
    return out


def test_forward_expiry(spark):
    df = spark.createDataFrame(ACCEPTS, COLS)
    got = _fold(accept_expiry_deltas(df, 130).collect())
    # accept 2: 50 remaining, accepted drops; accept 3: 60; accept 4
    # not yet due; accept 1 has no remainder
    assert got[("s1", 31)] == (0, 0, -50)
    assert got[("s2", 31)] == (0, 0, -60)
    # accept 5: sale cancelled → remainder returns to available out
    # of reserve as well (sql.py:568-575)
    assert got[("s3", 32)] == (25, -25, -25)
    assert len(got) == 3


def test_expiry_is_idempotent_recompute(spark):
    """X2: expiry is a pure function of (accepts, height) — the reorg
    story is recompute, and recompute at the same height is stable."""
    df = spark.createDataFrame(ACCEPTS, COLS)
    a = sorted(map(tuple, accept_expiry_deltas(df, 130).collect()))
    b = sorted(map(tuple, accept_expiry_deltas(df, 130).collect()))
    assert a == b


def test_expiry_plan_shape(spark):
    """Scale check: the expiry operator is a pure projection+filter —
    no shuffle (Exchange) in its physical plan."""
    df = spark.createDataFrame(ACCEPTS, COLS)
    plan = (
        accept_expiry_deltas(df, 130)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
