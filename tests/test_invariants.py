"""Property-based invariants (SURVEY §5 strategy item 3).

Hypothesis generates adversarial little event streams; the engine's
algebraic invariants must hold on every one of them:

* double-entry conservation — every d1-style expansion sums to zero
* pro-rata allocation bounds — nobody exceeds their ceil share, the
  pot is never over-spent, and it is exhausted whenever shares cover it
* replay ≡ closed form — the sequential floor fold and the window
  formulation agree on any stream
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import math

# ---- pure-python reference models (no Spark in the hot loop) -------


def closed_form_floor(deltas: list[int]) -> list[int]:
    out, run_sum, run_min = [], 0, 0
    for d in deltas:
        run_sum += d
        run_min = min(run_min, run_sum)
        out.append(run_sum - min(run_min, 0))
    return out


def sequential_floor(deltas: list[int]) -> list[int]:
    out, bal = [], 0
    for d in deltas:
        bal = max(0, bal + d)
        out.append(bal)
    return out


def pro_rata(pot_c: int, weights: list[int]) -> list[int]:
    """The d2 allocation in pure python: ceil shares in weight-desc
    order, cutoff when the pot runs out."""
    total = sum(weights)
    order = sorted(range(len(weights)), key=lambda i: (-weights[i], i))
    alloc = [0] * len(weights)
    spent = 0
    for i in order:
        share = math.ceil(pot_c * weights[i] / total)
        give = max(0, min(share, pot_c - spent))
        alloc[i] = give
        spent += give
    return alloc


# ---- properties ----------------------------------------------------


@given(st.lists(st.integers(-10_000, 10_000), max_size=200))
def test_replay_equals_closed_form(deltas):
    assert sequential_floor(deltas) == closed_form_floor(deltas)


@given(
    st.integers(0, 10_000_000),
    st.lists(st.integers(1, 10_000), min_size=1, max_size=50),
)
def test_pro_rata_bounds(pot_c, weights):
    alloc = pro_rata(pot_c, weights)
    total = sum(weights)
    assert sum(alloc) <= pot_c  # never over-spend
    for a, w in zip(alloc, weights):
        assert 0 <= a <= math.ceil(pot_c * w / total)  # never over-share
    # if ceil shares cover the pot, the pot must be fully spent
    if sum(math.ceil(pot_c * w / total) for w in weights) >= pot_c:
        assert sum(alloc) == pot_c


# ---- the same invariants on the real Spark plans -------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 9),  # user
            st.integers(-500, 500),  # delta cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_spark_replay_matches_python_model(spark, rows):
    from pyspark.sql import functions as F

    from omniengine_spark.operators.replay import floor_balance_replay

    data = [
        (i, user, f"2020-01-01 00:{i:02d}:00"[:19], delta)
        for i, (user, delta) in enumerate(rows[:60])
    ]
    df = spark.createDataFrame(
        data, ["event_id", "user_id", "ts", "delta_cents"]
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["event_id"]: r["balance_cents"]
        for r in floor_balance_replay(df).collect()
    }
    # python model per user, in event order
    per_user: dict[int, list[tuple[int, int]]] = {}
    for eid, (user, delta) in enumerate(rows[:60]):
        per_user.setdefault(user, []).append((eid, delta))
    for user, evs in per_user.items():
        bals = sequential_floor([d for _, d in evs])
        for (eid, _), b in zip(evs, bals):
            assert got[eid] == b, (user, eid)


def test_d1_conservation(spark):
    """Double-entry expansion must sum to zero per order and overall."""
    from pyspark.sql import functions as F

    from omniengine_spark.plans.domain import d1_double_entry_ledger

    out = d1_double_entry_ledger(spark, "/root/testdata/sf0.001")
    total = out.agg(
        F.sum(F.col("balance").cast("decimal(28,4)")).alias("t")
    ).collect()[0]["t"]
    assert total == 0


# ---- bucketed range-join decomposition (operators/rangejoin.py) ----
# Pure-python model of the bucket math; the Spark plumbing is pinned
# by tests/test_rangejoin.py.  Floor-division here matches F.floor
# on negatives (both round toward -inf).


@given(
    st.lists(st.integers(-10_000, 10_000), max_size=30),
    st.lists(
        st.tuples(
            st.integers(-10_000, 10_000), st.integers(0, 5_000)
        ),
        max_size=20,
    ),
    st.integers(1, 1_000),
)
@settings(suppress_health_check=[HealthCheck.too_slow], deadline=None)
def test_bucket_decomposition_never_misses_a_match(points, spans, width):
    intervals = [(lo, lo + span) for lo, span in spans]
    for p in points:
        pb = p // width
        for lo, hi in intervals:
            if lo <= p < hi:
                # the point's bucket lies inside the interval's
                # replicated bucket range — the equi join finds it
                assert lo // width <= pb <= hi // width


@given(
    st.lists(
        st.tuples(
            st.integers(-10_000, 10_000), st.integers(0, 5_000)
        ),
        min_size=2,
        max_size=12,
    ),
    st.integers(1, 1_000),
)
@settings(suppress_health_check=[HealthCheck.too_slow], deadline=None)
def test_canonical_bucket_is_shared_and_unique(spans, width):
    ivs = [(lo, lo + span) for lo, span in spans]
    for a_lo, a_hi in ivs:
        for b_lo, b_hi in ivs:
            if a_lo < b_hi and b_lo < a_hi:  # overlap
                canon = max(a_lo, b_lo) // width
                a_range = range(a_lo // width, a_hi // width + 1)
                b_range = range(b_lo // width, b_hi // width + 1)
                # emitted at least once: canonical bucket is a bucket
                # both sides replicated to
                assert canon in a_range and canon in b_range
                # emitted exactly once: only one bucket id equals the
                # canonical value, trivially — uniqueness of the
                # equality filter over the shared range
                shared = set(a_range) & set(b_range)
                assert canon == min(shared)


def union_find_clusters(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node → min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=80,
    ),
    st.integers(0, 3),  # jump_from: early pointer jumping must not
    # change the fixpoint, only the round count
)
def test_connected_components_matches_union_find(spark, raw_edges, jump):
    from pyspark.sql import functions as F

    from omniengine_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    node_df = spark.createDataFrame(
        [(n,) for n in nodes], ["doc_id"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            node_df, pairs, "doc_id", jump_from=jump
        ).collect()
    }
    want = union_find_clusters(edges)
    assert got == want


def test_lm_fluency_mass_conservation(spark):
    """Corpus-trigram model invariants: summing n_trigrams over docs
    equals the model's total frequency mass (every trigram occurrence
    is counted exactly once), every doc joins fully back to the model
    (coverage is total — the model was trained on the same corpus),
    and ratios live in their closed bounds."""
    from pyspark.sql import functions as F

    from omniengine_spark.plans import QUERIES
    from omniengine_spark.sources import load_table

    from .conftest import SF_SMOKE

    out = QUERIES["text_lm_fluency"](spark, SF_SMOKE)
    rows = out.collect()
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.length("text") >= 3
    )
    expected_mass = docs.select(
        F.sum(F.length("text") - 2).alias("m")
    ).collect()[0]["m"]
    assert sum(r["n_trigrams"] for r in rows) == expected_mass
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["rare_ratio"] <= 1.0
        # every trigram occurs at least once: its own occurrence
        assert r["avg_trigram_freq"] >= 1.0
        assert r["corpus_hits"] >= r["n_trigrams"]


# ---- seeded generator sweep over the REAL pipeline ------------------
# The fixed fixtures upstream exercise one event shape; this sweep
# feeds ≥20 seeded random tx streams through
# stamp_serials_distributed → expand_deltas → build_balances and
# checks the algebra the engine rests on.  Pure-python expected state keeps each seed to a couple
# of Spark actions (CI budget); order-dependence bugs (serial
# stamping, reorg batching, consensus difference-trick) are exactly
# what random interleavings catch and fixtures cannot.


def _gen_tx_stream(seed: int):
    """Random omni tx stream in the pipeline's input schema: issuances
    (type 50) and simple sends (type 0) over 8 users × 3 properties ×
    10 blocks, indivisible amounts (integer base units)."""
    import random

    rng = random.Random(seed)
    txs = []
    for i in range(rng.randint(60, 140)):
        user = rng.randrange(8)
        t = 50 if rng.random() < 0.35 else 0
        txs.append(
            {
                "txid": f"t{i}",
                "block": rng.randrange(10),
                "position_in_block": i,
                "type_int": t,
                "valid": True,
                "sending_address": f"u{user}",
                "reference_address": f"u{(user + rng.randrange(1, 8)) % 8}",
                "propertyid": rng.randrange(3),
                "divisible": False,
                "amount": str(rng.randint(1, 10_000)),
            }
        )
    return txs


_TX_SCHEMA = (
    "txid string, block long, position_in_block long, type_int int, "
    "valid boolean, sending_address string, reference_address string, "
    "propertyid long, divisible boolean, amount string"
)


def _tx_df(spark, txs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(txs, _TX_SCHEMA)
    null_rec = F.lit(None)
    return df.select(
        "*",
        null_rec.cast(
            "array<struct<address:string,amount:string>>"
        ).alias("recipients"),
        null_rec.cast(
            "array<struct<propertyid:bigint,divisible:boolean,"
            "amount:string>>"
        ).alias("subsends"),
        null_rec.cast("bigint").alias("propertyid_desired"),
        null_rec.cast("boolean").alias("divisible_desired"),
        null_rec.cast(
            "array<struct<address:string,amount_sold:string,"
            "amount_received:string>>"
        ).alias("matches"),
    )


def _expected_balances(txs):
    """Pure-python fold: issuance credits the sender; a send debits
    the sender and credits the reference address."""
    bal: dict[tuple[str, int], int] = {}

    def add(addr, prop, d):
        bal[(addr, prop)] = bal.get((addr, prop), 0) + d

    for tx in txs:
        amt = int(tx["amount"])
        if tx["type_int"] == 50:
            add(tx["sending_address"], tx["propertyid"], amt)
        else:
            add(tx["sending_address"], tx["propertyid"], -amt)
            add(tx["reference_address"], tx["propertyid"], amt)
    return bal


import pytest  # noqa: E402


@pytest.mark.parametrize("seed", range(20))
def test_pipeline_invariants_seeded(spark, seed):
    from pyspark.sql import functions as F

    from omniengine_spark.operators.reconcile import per_block_consensus
    from omniengine_spark.pipeline import (
        build_balances,
        expand_deltas,
        stamp_serials_distributed,
        with_after_balances,
    )

    txs = _gen_tx_stream(seed)
    deltas = expand_deltas(stamp_serials_distributed(_tx_df(spark, txs)))
    deltas = deltas.cache()

    # one collect drives balance + conservation + telescoping checks
    after = with_after_balances(deltas).select(
        "address",
        "propertyid",
        "serial",
        F.col("delta_base_units").cast("long").alias("d"),
        F.col("after_balance").cast("long").alias("after"),
    ).collect()

    want = _expected_balances(txs)

    # (1) fold correctness + per-property conservation
    got_final: dict[tuple[str, int], int] = {}
    for r in sorted(after, key=lambda r: r["serial"]):
        got_final[(r["address"], r["propertyid"])] = r["after"]
    assert got_final == {k: v for k, v in want.items()}
    for prop in {p for (_, p) in want}:
        issued = sum(
            int(t["amount"])
            for t in txs
            if t["type_int"] == 50 and t["propertyid"] == prop
        )
        assert (
            sum(v for (a, p), v in got_final.items() if p == prop)
            == issued
        ), f"property {prop} not conserved"

    # (2) after-balance telescoping: per key, after - prev_after == d
    per_key: dict[tuple[str, int], list] = {}
    for r in after:
        per_key.setdefault((r["address"], r["propertyid"]), []).append(r)
    for rows in per_key.values():
        rows.sort(key=lambda r: r["serial"])
        prev = 0
        for r in rows:
            assert r["after"] - prev == r["d"], "telescoping broke"
            prev = r["after"]

    # (3) build_balances == the same fold (groupBy path)
    folded = {
        (r["address"], r["propertyid"]): int(r["balance"])
        for r in build_balances(deltas).collect()
    }
    assert folded == got_final

    # (4) reorg convergence + consensus order-insensitivity: feeding
    # the suffix blocks BEFORE the prefix must fingerprint identically
    slim = deltas.select(
        "address",
        "propertyid",
        "block",
        F.col("delta_base_units").alias("delta"),
    )
    fork = 5
    reordered = slim.filter(F.col("block") >= fork).unionByName(
        slim.filter(F.col("block") < fork)
    )
    a = per_block_consensus(slim).collect()
    b = per_block_consensus(reordered).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    deltas.unpersist()


def _frozen_model(entries):
    """Reference fold for the freeze rule of full_balance_replay:
    (available, frozen)."""
    available, frozen, is_frozen = 0, 0, False
    for kind, delta in entries:
        if kind == "freeze":
            frozen += available
            available = 0
            is_frozen = True
        elif kind == "unfreeze":
            available += frozen
            frozen = 0
            is_frozen = False
        elif is_frozen:
            frozen += delta
        else:
            available += delta
    return available, frozen


@pytest.mark.parametrize("seed", range(10))
def test_frozen_rule_invariants_seeded(spark, seed):
    """Seeded freeze/unfreeze/delta interleavings: the operator must
    match the sequential model exactly, the freeze machinery must
    CONSERVE value (available+frozen == plain delta sum no matter
    where freezes land), and freezing must be idempotent-safe."""
    import random

    from omniengine_spark.operators.replay import full_balance_replay

    rng = random.Random(1000 + seed)
    rows, models = [], {}
    for key in range(6):
        entries = []
        for i in range(rng.randint(10, 40)):
            r = rng.random()
            if r < 0.15:
                entries.append(("freeze", None))
            elif r < 0.3:
                entries.append(("unfreeze", None))
            else:
                entries.append(("delta", rng.randint(-500, 500)))
        models[f"a{key}"] = entries
        for i, (kind, d) in enumerate(entries):
            rows.append((f"a{key}", 1, i, kind, d, 0, 0))
    df = spark.createDataFrame(
        rows,
        "address string, propertyid long, serial long, kind string, "
        "delta_base_units long, delta_reserved long, delta_accepted long",
    )
    out = full_balance_replay(df).collect()
    got = {r["address"]: (r["available"], r["frozen"]) for r in out}
    for r in out:
        # no reserved/accepted deltas in: freezing must not invent any
        assert r["reserved"] == r["accepted"] == 0, (seed, r["address"])
    for addr, entries in models.items():
        want = _frozen_model(entries)
        assert got[addr] == want, (seed, addr)
        # conservation: freeze/unfreeze shuffle value between columns,
        # never create or destroy it
        assert sum(want) == sum(
            d for kind, d in entries if kind == "delta"
        ), (seed, addr)


# ---- file-skipping safety (S14/P6 data-skipping layer) -------------
#
# pruned_files may only ever drop files PROVABLY outside the queried
# intervals: a file whose data contains any matching row must always
# be kept, whatever the mix of value domains, tz-aware/naive bounds,
# and one-sided intervals.
# The kernel is pure (versioned._keep_file), so hypothesis can hammer
# it without Spark or a filesystem.

import datetime as _dt

_UTC = _dt.timezone.utc

_VALUE_STRATEGIES = {
    "num": st.one_of(
        st.integers(-(10**18), 10**18),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    ),
    "ts": st.datetimes(
        min_value=_dt.datetime(1971, 1, 1),
        max_value=_dt.datetime(2200, 1, 1),
        timezones=st.just(_UTC),
    ),
    "date": st.dates(
        min_value=_dt.date(1971, 1, 1), max_value=_dt.date(2200, 1, 1)
    ),
    "str": st.text(max_size=8),
}


@st.composite
def _skipping_case(draw):
    vdom = draw(st.sampled_from(sorted(_VALUE_STRATEGIES)))
    bdom = draw(st.sampled_from(sorted(_VALUE_STRATEGIES)))
    vals = draw(
        st.lists(_VALUE_STRATEGIES[vdom], min_size=1, max_size=12)
    )
    lo = draw(st.none() | _VALUE_STRATEGIES[bdom])
    hi = draw(st.none() | _VALUE_STRATEGIES[bdom])
    # naive-datetime bounds exercise the ±1 day widening path
    if bdom == "ts" and draw(st.booleans()):
        lo = lo.replace(tzinfo=None) if lo is not None else None
        hi = hi.replace(tzinfo=None) if hi is not None else None
    return vals, lo, hi


@given(_skipping_case())
@settings(max_examples=400, suppress_health_check=[HealthCheck.too_slow])
def test_file_skipping_never_drops_a_matching_file(case):
    from omniengine_spark.sources import versioned as V

    vals, lo, hi = case
    normed = [V._norm_stat(v) for v in vals]
    nvals = [nv for nv, _ in normed]
    vdom = normed[0][1]
    entry = [min(nvals), max(nvals), vdom]
    bounds = {
        "c": (
            V._norm_bound(lo, col="c", side="lo"),
            V._norm_bound(hi, col="c", side="hi"),
        )
    }
    keep = V._keep_file({"c": entry}, bounds)

    (qlo, dlo), (qhi, dhi) = bounds["c"]

    def matches(nv):
        # the engine's own interval semantics, in normalized space:
        # a bound constrains only same-domain values
        if qlo is not None and dlo == vdom and nv < qlo:
            return False
        if qhi is not None and dhi == vdom and nv > qhi:
            return False
        return True

    if any(matches(nv) for nv in nvals):
        assert keep, (
            f"pruning dropped a file containing a matching row: "
            f"entry={entry} bounds={bounds}"
        )
    # domain mismatch must never prune (bounds are no-ops for the
    # file's domain, so every row trivially matches — covered above,
    # stated explicitly for the reader):
    if vdom not in (dlo, dhi):
        assert keep


@given(_skipping_case())
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_file_skipping_missing_stats_always_keep(case):
    from omniengine_spark.sources import versioned as V

    _vals, lo, hi = case
    bounds = {
        "c": (
            V._norm_bound(lo, col="c", side="lo"),
            V._norm_bound(hi, col="c", side="hi"),
        )
    }
    assert V._keep_file({}, bounds)  # no stats for the column


@given(
    st.datetimes(
        min_value=_dt.datetime(1971, 1, 1),
        max_value=_dt.datetime(3000, 1, 1),
        timezones=st.just(_UTC),
    )
)
@settings(max_examples=300)
def test_ts_stat_roundtrip_exact_at_any_year(v):
    """The manifest anchor must be a WITNESSED value: tsu stats are
    integer epoch micros, so norm→denorm is exact at any year.  (The
    pre-round-11 float-seconds encoding drifted 1 µs past ~2260,
    enough to flip a boundary row between a pruned plan and its
    oracle.)"""
    from omniengine_spark.sources import versioned as V

    nv, dom = V._norm_stat(v)
    assert dom == "tsu" and isinstance(nv, int)
    assert V._denorm_stat(nv, dom) == v
