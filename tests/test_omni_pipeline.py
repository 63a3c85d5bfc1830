"""Golden end-to-end test of the omni pipeline slice (SURVEY §5
strategy item 2): a hand-built block stream covering every
implemented txtype, with hand-computed expected balances, plus the
conservation invariants.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from omniengine_spark.pipeline import (
    RAW_TX_SCHEMA,
    build_balances,
    expand_deltas,
    stamp_serials_distributed,
    with_after_balances,
)


def _tx(
    txid,
    block,
    pos,
    type_int,
    valid=True,
    sender=None,
    ref=None,
    pid=None,
    divisible=True,
    amount=None,
    recipients=None,
    subsends=None,
    pid_desired=None,
    divisible_desired=None,
    matches=None,
    subaction=None,
    remainder=None,
    amount_desired=None,
    time_limit=None,
    sto_fee=None,
    purchases=None,
    cancellations=None,
    amount_forsale=None,
    purchased_pid=None,
    purchased_divisible=None,
    purchased_tokens=None,
    issuer_tokens=None,
):
    return (
        txid, block, pos, type_int, valid, sender, ref, pid,
        divisible, amount, recipients, subsends,
        pid_desired, divisible_desired, matches,
        subaction, remainder, amount_desired, time_limit, sto_fee,
        purchases, cancellations, amount_forsale,
        purchased_pid, purchased_divisible, purchased_tokens,
        issuer_tokens,
    )


FIXTURE = [
    # block 100: issue 100.0 divisible units of property 31 to alice
    _tx("t1", 100, 1, 50, sender="alice", pid=31, amount="100.0"),
    # block 100: alice sends 25.5 to bob
    _tx("t2", 100, 2, 0, sender="alice", ref="bob", pid=31, amount="25.5"),
    # block 101: INVALID send must produce no deltas
    _tx("t3", 101, 1, 0, valid=False, sender="alice", ref="carol",
        pid=31, amount="999"),
    # block 101: STO — alice distributes 10.0 to bob (6.0) + carol (4.0)
    _tx("t4", 101, 2, 3, sender="alice", pid=31, amount="10.0",
        recipients=[("bob", "6.0"), ("carol", "4.0")]),
    # block 102: indivisible property 32 granted to bob (7 units)
    _tx("t5", 102, 1, 55, sender="issuer", ref="bob", pid=32,
        divisible=False, amount="7"),
    # block 102: bob send-all: prop 31 3.5 + prop 32 2 → carol
    _tx("t6", 102, 2, 4, sender="bob", ref="carol",
        subsends=[(31, True, "3.5"), (32, False, "2")]),
    # block 103: revoke 1 unit of 32 from carol's issuer (burn)
    _tx("t7", 103, 1, 56, sender="carol", pid=32, divisible=False,
        amount="1"),
    # block 103: MetaDEx trade — alice reserves and sells 2.0 of 31
    # for 3 of 32, matched against carol (pre-computed match list);
    # reserve semantics per sql.py:2032-2127: the sold amount leaves
    # alice's RESERVE, carol pays from HER reserve (funded by an
    # offer outside this batch).
    _tx("t8", 103, 2, 25, sender="alice", pid=31, divisible=True,
        pid_desired=32, divisible_desired=False,
        amount_forsale="2.0", matches=[("carol", "2.0", "3")]),
]

# hand-computed AVAILABLE-column base-unit balances (divisible ×1e8)
EXPECTED = {
    ("alice", 31): Decimal(
        100_0000_0000 - 25_5000_0000 - 10_0000_0000 - 2_0000_0000
    ),
    ("bob", 31): Decimal(25_5000_0000 + 6_0000_0000 - 3_5000_0000),
    ("carol", 31): Decimal(4_0000_0000 + 3_5000_0000 + 2_0000_0000),
    ("alice", 32): Decimal(3),
    ("bob", 32): Decimal(7 - 2),
    # carol keeps the 1 available unit; the 3 sold via the match came
    # out of her reserve (negative here: the offer that funded it is
    # outside this batch)
    ("carol", 32): Decimal(2 - 1),
}

EXPECTED_RESERVED = {
    ("alice", 31): Decimal(2_0000_0000 - 2_0000_0000),
    ("carol", 32): Decimal(-3),
}


def _pipeline(spark):
    raw = spark.createDataFrame(FIXTURE, RAW_TX_SCHEMA)
    return expand_deltas(stamp_serials_distributed(raw))


def test_golden_balances(spark):
    deltas = _pipeline(spark)
    got = {
        (r["address"], r["propertyid"]): r["balance"]
        for r in build_balances(deltas).collect()
    }
    assert got == EXPECTED


def test_golden_full_balances(spark):
    from omniengine_spark.pipeline import build_full_balances

    rows = build_full_balances(_pipeline(spark)).collect()
    avail = {
        (r["address"], r["propertyid"]): r["available"] for r in rows
    }
    resv = {
        (r["address"], r["propertyid"]): r["reserved"] for r in rows
    }
    assert avail == {k: int(v) for k, v in EXPECTED.items()}
    for key, want in EXPECTED_RESERVED.items():
        assert resv[key] == int(want)
    assert all(
        r["frozen"] == 0 and r["accepted"] == 0 for r in rows
    )


def test_invalid_tx_produces_no_deltas(spark):
    deltas = _pipeline(spark)
    assert deltas.filter(F.col("txid") == "t3").count() == 0


def test_transfer_conservation_per_property(spark):
    """Σ (available + reserved) = 0 for pure transfers (types
    0/3/4/25); issuance (50/55) adds supply, revoke (56) removes it —
    SURVEY §5 invariant 3.  Reserved is a value pocket (offer escrow);
    accepted is the reference's bookkeeping memo column
    (sql.py:2001) and is excluded."""
    deltas = _pipeline(spark)
    value = F.col("delta_base_units") + F.col("delta_reserved")
    transfers = deltas.filter(
        F.col("txid").isin("t2", "t4", "t6", "t8")
    )
    sums = transfers.groupBy("propertyid").agg(F.sum(value).alias("s"))
    assert all(r["s"] == 0 for r in sums.collect())
    # net supply of 31: only issuance t1
    total31 = (
        deltas.filter(F.col("propertyid") == 31)
        .agg(F.sum(value).alias("s"))
        .collect()[0]["s"]
    )
    assert total31 == Decimal(100_0000_0000)
    # net supply of 32: grant 7 − revoke 1
    total32 = (
        deltas.filter(F.col("propertyid") == 32)
        .agg(F.sum(value).alias("s"))
        .collect()[0]["s"]
    )
    assert total32 == Decimal(6)


def test_after_balances_telescope(spark):
    """W2 continuity: the last after-balance per key equals the folded
    balance, and each after_balance is prev + delta."""
    deltas = with_after_balances(_pipeline(spark))
    final = {
        (r["address"], r["propertyid"]): r["balance"]
        for r in build_balances(deltas).collect()
    }
    rows = sorted(
        deltas.collect(),
        key=lambda r: (r["address"], r["propertyid"], r["serial"]),
    )
    running: dict[tuple, Decimal] = {}
    for r in rows:
        key = (r["address"], r["propertyid"])
        running[key] = running.get(key, Decimal(0)) + r["delta_base_units"]
        assert r["after_balance"] == running[key]
    assert running == final


def test_serials_are_dense_and_ordered(spark):
    raw = spark.createDataFrame(FIXTURE, RAW_TX_SCHEMA)
    rows = sorted(
        stamp_serials_distributed(raw).select(
            "serial", "block", "position_in_block"
        ).collect(),
        key=lambda r: r["serial"],
    )
    assert [r["serial"] for r in rows] == list(range(1, len(FIXTURE) + 1))
    ordered = [(r["block"], r["position_in_block"]) for r in rows]
    assert ordered == sorted(ordered)


def test_frozen_balance_rule(spark):
    """Reference sql.py:1408-1414: freezing moves available→frozen;
    credits while frozen accrue frozen; unfreeze restores."""
    from omniengine_spark.operators.replay import full_balance_replay

    rows = [
        # (address, propertyid, serial, kind, delta)
        ("alice", 31, 1, "delta", 100),
        ("alice", 31, 2, "freeze", None),
        ("alice", 31, 3, "delta", 40),    # lands frozen
        ("alice", 31, 4, "delta", -10),   # applies to frozen
        ("alice", 31, 5, "unfreeze", None),
        ("alice", 31, 6, "delta", 5),     # back to available
        ("bob", 31, 7, "delta", 50),      # never frozen
        ("carol", 31, 8, "freeze", None),  # frozen with zero balance
        ("carol", 31, 9, "delta", 7),
    ]
    df = spark.createDataFrame(
        [(*r, 0, 0) for r in rows],
        "address string, propertyid long, serial long, kind string, "
        "delta_base_units long, delta_reserved long, delta_accepted long",
    )
    got = {
        (r["address"], r["propertyid"]): (r["available"], r["frozen"])
        for r in full_balance_replay(df).collect()
    }
    assert got == {
        ("alice", 31): (100 + 40 - 10 + 5, 0),
        ("bob", 31): (50, 0),
        ("carol", 31): (0, 7),
    }


def test_utxo_input_resolution(spark):
    """S3/J5: vin⋈vout linkage resolves source addresses; coinbase and
    out-of-batch inputs come back null."""
    from omniengine_spark.pipeline.omni import (
        BTC_TX_SCHEMA,
        resolve_utxo_inputs,
    )

    txs = [
        ("a1", [], [(0, "alice", 5000, "pubkeyhash"),
                    (1, "bob", 3000, "pubkeyhash")]),
        ("b2", [("a1", 0)], [(0, "carol", 4900, "nulldata")]),
        ("c3", [("a1", 1), ("b2", 0)], [(0, "dave", 7800, "multisig")]),
        ("d4", [("zz", 9)], [(0, "erin", 100, "pubkeyhash")]),
    ]
    df = spark.createDataFrame(txs, BTC_TX_SCHEMA)
    got = {
        (r["txid"], r["prev_txid"], r["vout_n"]):
            (r["src_address"], r["value_sat"])
        for r in resolve_utxo_inputs(df).collect()
        if r["prev_txid"] is not None
    }
    assert got == {
        ("b2", "a1", 0): ("alice", 5000),
        ("c3", "a1", 1): ("bob", 3000),
        ("c3", "b2", 0): ("carol", 4900),
        ("d4", "zz", 9): (None, None),
    }


def test_tx_class_from_scripts(spark):
    """F9/D8: class C for OP_RETURN, B for multisig, A otherwise
    (reference omniutils.py:31-62)."""
    from omniengine_spark.pipeline.omni import (
        BTC_TX_SCHEMA,
        classify_tx,
    )

    txs = [
        ("a1", [], [(0, "x", 1, "pubkeyhash")]),
        ("b2", [], [(0, "x", 1, "pubkeyhash"), (1, None, 0, "nulldata")]),
        ("c3", [], [(0, "x", 1, "multisig")]),
        ("d4", [], [(0, "x", 1, "nulldata"), (1, "y", 2, "multisig")]),
    ]
    df = spark.createDataFrame(txs, BTC_TX_SCHEMA)
    got = {r["txid"]: r["tx_class"] for r in classify_tx(df).collect()}
    assert got == {"a1": "A", "b2": "C", "c3": "B", "d4": "C"}


def test_distributed_serials_match_global(spark):
    """stamp_serials_distributed must assign the dense serial of
    ``ROW_NUMBER() OVER (ORDER BY block, position_in_block)`` on a
    frame with many blocks, uneven block sizes, repeated (block,
    position) keys and shuffled input order.  Tied keys may take
    their serials in either order, so (block, position, serial)
    triples are compared."""
    rows = []
    eid = 0
    for block in [7, 3, 11, 3, 5, 100, 2]:
        for pos in range(block % 4 + 1):
            rows.append((f"t{eid}", block, pos))
            eid += 1
    raw = spark.createDataFrame(
        rows, ["txid", "block", "position_in_block"]
    ).repartition(5)

    keys = sorted((b, p) for _, b, p in rows)
    expected = [(b, p, i + 1) for i, (b, p) in enumerate(keys)]
    got = sorted(
        (r["block"], r["position_in_block"], r["serial"])
        for r in stamp_serials_distributed(raw).collect()
    )
    assert got == expected


def test_distributed_serials_avoid_single_partition_sort(spark):
    """The wide side must not pass through a global (non-partitioned)
    window: every Window node in the plan carries a partition spec,
    except over the one-row-per-block offsets frame."""
    raw = spark.createDataFrame(
        [(f"t{i}", i % 10, i) for i in range(100)],
        ["txid", "block", "position_in_block"],
    )
    plan = (
        stamp_serials_distributed(raw)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the block-partitioned rank over the wide data
    assert "windowspecdefinition(block" in plan


# ---------------------------------------------------------------------------
# Golden fixtures for the round-2 txtype families: DEx-1 lifecycle
# (20/22/-22), MetaDEx cancels (26), crowdsale participation (-51),
# STO fee burn, freeze/unfreeze (185/186), zero-delta bookkeeping
# types, and the Bitcoin-side delta expansion.
# ---------------------------------------------------------------------------

DEX_FIXTURE = [
    # seller s: issue 100.0 of pid 31
    _tx("x1", 200, 1, 50, sender="s", pid=31, amount="100.0"),
    # new sell offer: 40.0 moves available -> reserved
    _tx("x2", 200, 2, 20, sender="s", pid=31, amount="40.0",
        subaction="new", amount_desired="1.0", time_limit=10),
    # buyer b accepts 15.0: seller accepted += 15
    _tx("x3", 201, 1, 22, sender="b", ref="s", pid=31, amount="15.0"),
    # payment: b pays for 10.0 (valid) + 5.0 (INVALID purchase must
    # be skipped, per-purchase gating sql.py:1989-2024)
    _tx("x4", 202, 1, -22, sender="b",
        purchases=[("s", 31, True, "10.0", True),
                   ("s", 31, True, "5.0", False)]),
    # offer update: new 20.0 offer replaces the old one, whose
    # remaining 30.0 credits back (sql.py:755-772)
    _tx("x5", 203, 1, 20, sender="s", pid=31, amount="20.0",
        subaction="update", remainder="30.0",
        amount_desired="0.5", time_limit=10),
    # cancel: remaining 20.0 credits back (sql.py:740-754)
    _tx("x6", 204, 1, 20, sender="s", pid=31,
        subaction="cancel", remainder="20.0"),
]


def test_dex1_lifecycle_golden(spark):
    from omniengine_spark.pipeline import build_full_balances

    raw = spark.createDataFrame(DEX_FIXTURE, RAW_TX_SCHEMA)
    out = {
        (r["address"], r["propertyid"]):
            (r["available"], r["reserved"], r["accepted"])
        for r in build_full_balances(
            expand_deltas(stamp_serials_distributed(raw))
        ).collect()
    }
    E8 = 100_000_000
    # s: 100 issued, 40 reserved, 10 sold, update credits 30 back and
    # reserves 20, cancel credits 20 back
    assert out[("s", 31)] == (
        90 * E8,          # 100-40 +(30-20) +20
        0,                # 40 -10 +(20-30) -20
        5 * E8,           # +15 accepted, -10 paid
    )
    # b: bought 10.0
    assert out[("b", 31)] == (10 * E8, 0, 0)
    # value conservation: available+reserved sums to issued supply
    assert sum(a + r for a, r, _ in out.values()) == 100 * E8


def test_metadex_cancel_golden(spark):
    raw = spark.createDataFrame(
        [
            _tx("c1", 300, 1, 26, sender="s", pid=31,
                cancellations=[("old1", 31, True, "7.0"),
                               ("old2", 32, False, "3")]),
        ],
        RAW_TX_SCHEMA,
    )
    got = {
        (r["propertyid"]): (r["delta_base_units"], r["delta_reserved"])
        for r in expand_deltas(stamp_serials_distributed(raw)).collect()
    }
    assert got[31] == (Decimal(700_000_000), Decimal(-700_000_000))
    assert got[32] == (Decimal(3), Decimal(-3))


def test_crowdsale_participation_golden(spark):
    raw = spark.createDataFrame(
        [
            _tx("p1", 400, 1, -51, sender="p", ref="i", pid=1,
                amount="5.0", purchased_pid=77,
                purchased_divisible=False, purchased_tokens="500",
                issuer_tokens="60"),
            # zero issuer bonus: no issuer row for pid 78
            _tx("p2", 400, 2, -51, sender="p", ref="i", pid=1,
                amount="1.0", purchased_pid=78,
                purchased_divisible=False, purchased_tokens="10",
                issuer_tokens="0"),
        ],
        RAW_TX_SCHEMA,
    )
    rows = expand_deltas(stamp_serials_distributed(raw)).collect()
    got = {}
    for r in rows:
        key = (r["address"], r["propertyid"])
        got[key] = got.get(key, 0) + int(r["delta_base_units"])
    assert got == {
        ("p", 1): -600_000_000,
        ("i", 1): 600_000_000,
        ("i", 77): 60,
        ("p", 77): 500,
        ("p", 78): 10,
    }


def test_sto_fee_burn_golden(spark):
    raw = spark.createDataFrame(
        [
            _tx("f1", 500, 1, 3, sender="a", pid=31, amount="10.0",
                recipients=[("b", "6.0"), ("c", "4.0")],
                sto_fee="0.00000002"),
        ],
        RAW_TX_SCHEMA,
    )
    rows = expand_deltas(stamp_serials_distributed(raw)).collect()
    fee_rows = [r for r in rows if r["role"] == "feepayer"]
    assert len(fee_rows) == 1
    # fee burned from sender in the production fee property (pid 1)
    assert fee_rows[0]["address"] == "a"
    assert fee_rows[0]["propertyid"] == 1
    assert fee_rows[0]["delta_base_units"] == Decimal(-2)
    # fee has no matching credit: property-1 sum is negative (burn)
    assert (
        sum(int(r["delta_base_units"]) for r in rows
            if r["propertyid"] == 1) == -2
    )


def test_freeze_pipeline_golden(spark):
    """Types 185/186 wired through expand_deltas →
    build_full_balances: credits while frozen divert to frozen
    (sql.py:1408-1414); unfreeze restores; untouched keys take the
    groupBy path."""
    from omniengine_spark.pipeline import build_full_balances

    raw = spark.createDataFrame(
        [
            _tx("g1", 600, 1, 50, sender="u", pid=31, amount="100.0"),
            _tx("g2", 600, 2, 185, sender="gov", ref="u", pid=31),
            # send while frozen: credit diverts to frozen
            _tx("g3", 601, 1, 50, sender="w", pid=31, amount="50.0"),
            _tx("g4", 601, 2, 0, sender="w", ref="u", pid=31,
                amount="10.0"),
            _tx("g5", 602, 1, 186, sender="gov", ref="u", pid=31),
            # after unfreeze, credits land available again
            _tx("g6", 602, 2, 0, sender="w", ref="u", pid=31,
                amount="5.0"),
        ],
        RAW_TX_SCHEMA,
    )
    out = {
        (r["address"], r["propertyid"]):
            (r["available"], r["frozen"])
        for r in build_full_balances(
            expand_deltas(stamp_serials_distributed(raw))
        ).collect()
    }
    E8 = 100_000_000
    assert out[("u", 31)] == (115 * E8, 0)
    assert out[("w", 31)] == (35 * E8, 0)
    assert out[("gov", 31)] == (0, 0)

    # frozen at the end: freeze without a later unfreeze
    raw2 = spark.createDataFrame(
        [
            _tx("h1", 700, 1, 50, sender="v", pid=31, amount="20.0"),
            _tx("h2", 700, 2, 185, sender="gov", ref="v", pid=31),
            _tx("h3", 701, 1, 50, sender="q", pid=31, amount="9.0"),
            _tx("h4", 701, 2, 0, sender="q", ref="v", pid=31,
                amount="4.0"),
        ],
        RAW_TX_SCHEMA,
    )
    out2 = {
        (r["address"], r["propertyid"]):
            (r["available"], r["frozen"])
        for r in build_full_balances(
            expand_deltas(stamp_serials_distributed(raw2))
        ).collect()
    }
    assert out2[("v", 31)] == (0, 24 * E8)


def test_zero_delta_bookkeeping_types(spark):
    """Types 51/53/54/70/73/74/200/65533/65534 record participation
    with no balance effect; type 21 records nothing
    (sql.py:1928-1931)."""
    fixtures = [
        _tx("z1", 800, 1, 51, sender="i", pid=90),
        _tx("z2", 800, 2, 53, sender="i", pid=90),
        _tx("z3", 800, 3, 54, sender="i", pid=91),
        _tx("z4", 800, 4, 70, sender="i", ref="j", pid=91),
        _tx("z5", 800, 5, 73, sender="i", ref="j", pid=91),
        _tx("z6", 800, 6, 200, sender="a", ref="b", pid=0),
        _tx("z7", 800, 7, 65534, sender="a", pid=0),
        _tx("z8", 800, 8, 21, sender="a", pid=1, amount="1.0"),
    ]
    raw = spark.createDataFrame(fixtures, RAW_TX_SCHEMA)
    rows = expand_deltas(stamp_serials_distributed(raw)).collect()
    by_tx = {}
    for r in rows:
        by_tx.setdefault(r["txid"], []).append(r)
    assert all(
        int(r["delta_base_units"]) == 0
        and int(r["delta_reserved"]) == 0
        and int(r["delta_accepted"]) == 0
        for r in rows
    )
    assert len(by_tx["z1"]) == 1 and len(by_tx["z2"]) == 1
    assert len(by_tx["z4"]) == 2          # issuer + recipient
    assert len(by_tx["z5"]) == 2
    assert len(by_tx["z6"]) == 2
    assert len(by_tx["z7"]) == 1
    assert "z8" not in by_tx              # type 21 is a no-op


def test_btc_delta_expansion(spark):
    """S2-BTC (sql.py:1671-1719): vout credits, resolved vin debits,
    coinbase/out-of-batch inputs skipped."""
    from omniengine_spark.pipeline import (
        BTC_TX_SCHEMA,
        expand_btc_deltas,
    )

    txs = [
        ("a1", [], [(0, "alice", 5000, "pubkeyhash"),
                    (1, "bob", 3000, "pubkeyhash")]),
        ("b2", [("a1", 0)], [(0, "carol", 4900, "nulldata")]),
        ("d4", [("zz", 9)], [(0, "erin", 100, "pubkeyhash")]),
    ]
    df = spark.createDataFrame(txs, BTC_TX_SCHEMA)
    got = {}
    for r in expand_btc_deltas(df).collect():
        key = r["address"]
        got[key] = got.get(key, 0) + int(r["delta_base_units"])
        assert r["propertyid"] == 0
    assert got == {
        "alice": 5000 - 5000,   # credited by a1, spent in b2
        "bob": 3000,
        "carol": 4900,
        "erin": 100,            # out-of-batch vin resolves to nothing
    }


def test_genesis_csv_ingest(spark, tmp_path):
    """Reference-format genesis CSV (database/balances.csv header)
    reads with the declared schema; blank reserved/accepted/serial
    fields coalesce to 0."""
    from omniengine_spark.sources.genesis import read_genesis_csv

    csv = tmp_path / "genesis.csv"
    csv.write_text(
        "address,protocol,propertyid,ecosystem,balanceavailable,"
        "balancereserved,balanceaccepted,lasttxdbserialnum\n"
        "gA,Omni,1,Production,100,,,\n"
        "gB,Omni,1,Production,250,7,3,42\n"
        "gA,Omni,2,Production,5,,,\n"
    )
    got = {
        (r["address"], r["propertyid"]): (
            r["available"], r["reserved"], r["accepted"]
        )
        for r in read_genesis_csv(spark, str(csv)).collect()
    }
    assert got == {
        ("gA", 1): (100, 0, 0),
        ("gB", 1): (250, 7, 3),
        ("gA", 2): (5, 0, 0),
    }


def test_genesis_fold_golden(spark):
    """build_full_balances(genesis=...) folds from the snapshot, not
    zero: seeded balances appear as opening state for both the plain
    fold and the ordered (freeze-marker) replay path."""
    from omniengine_spark.pipeline import build_full_balances

    genesis = spark.createDataFrame(
        [("alice", 31, 1000, 0, 0), ("dave", 99, 77, 5, 0)],
        ["address", "propertyid", "available", "reserved", "accepted"],
    )
    rows = build_full_balances(_pipeline(spark), genesis=genesis).collect()
    avail = {
        (r["address"], r["propertyid"]): r["available"] for r in rows
    }
    # alice/31 takes part in the tx fixture: opening 1000 + deltas
    assert avail[("alice", 31)] == 1000 + int(EXPECTED[("alice", 31)])
    # dave/99 is genesis-only: passes through the fold untouched
    dave = next(r for r in rows if r["address"] == "dave")
    assert (dave["available"], dave["reserved"]) == (77, 5)
    # every non-genesis key is unchanged vs the unseeded fold
    assert avail[("bob", 32)] == int(EXPECTED[("bob", 32)])


def test_genesis_opening_balance_in_replay(spark):
    """Serial -1 sorts below every stamped serial: the ordered replay
    treats the snapshot as the opening balance, so a freeze that
    happens before any credit still freezes the genesis amount."""
    from omniengine_spark.operators.replay import full_balance_replay
    from omniengine_spark.pipeline import genesis_deltas

    genesis = spark.createDataFrame(
        [("frank", 31, 500, 0, 0)],
        ["address", "propertyid", "available", "reserved", "accepted"],
    )
    gen = genesis_deltas(genesis).select(
        "address", "propertyid", "serial", "kind",
        "delta_base_units", "delta_reserved", "delta_accepted",
    )
    events = spark.createDataFrame(
        [("frank", 31, 1, "freeze", 0, 0, 0),
         ("frank", 31, 2, "delta", 40, 0, 0)],
        ["address", "propertyid", "serial", "kind",
         "delta_base_units", "delta_reserved", "delta_accepted"],
    )
    out = full_balance_replay(
        gen.unionByName(
            events.select(*gen.columns)
        ).selectExpr(
            "address", "propertyid", "serial", "kind",
            "cast(delta_base_units as long) delta_base_units",
            "cast(delta_reserved as long) delta_reserved",
            "cast(delta_accepted as long) delta_accepted",
        )
    ).collect()
    assert len(out) == 1
    r = out[0]
    # genesis 500 was frozen by the marker; the later credit of 40
    # lands frozen too (reference diversion rule sql.py:1408-1414)
    assert (r["available"], r["frozen"]) == (0, 540)
