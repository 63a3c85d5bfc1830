"""Omni transaction pipeline: decoded tx JSON → ledger deltas →
balances — the reference's core loop (``omniEngine.py:109-232`` +
``sql.py:1664-2409`` insertTxAddr dispatch) as four declarative
stages.

Stage map (reference site → here):

1. ``stamp_serials_distributed`` — TxDBSerialNum sequence
   (``omniEngine.py:104-106``, ``sql.py:2411-2504``) → deterministic
   dense serial over (block, position): replayable, no mutable
   sequence (W3), and no single-partition global sort.
2. ``expand_deltas``   — the 25-way ``insertTxAddr`` dispatch
   (``sql.py:1664-2409``) → per-type column expressions producing
   1..N double-entry delta rows per tx via ``inline``/``explode``
   (D1).  Each delta row carries the reference's three credit/debit
   columns (BalanceAvailable/Reserved/AcceptedCreditDebit) plus a
   ``kind`` marker for the order-dependent freeze rule.  Implemented
   types: simple send (0, ``sql.py:1776-1797``), STO with fee burn
   (3, ``sql.py:1802-1846``), send-all subsends (4,
   ``sql.py:1862-1899``), DEx-1 sell offer with replace/cancel
   credit-back (20, ``sql.py:704-794`` + ``1904-1926``), DEx-1
   accept (22, ``sql.py:1933-1964``), DEx-1 accept payment (-22,
   ``sql.py:1966-2030``), MetaDEx trade with reserve semantics and
   pre-computed matches (25, ``sql.py:2032-2127``), MetaDEx cancels
   (26/27/28, ``sql.py:2129-2166``), crowdsale create/participate/
   close (51/-51/53, ``sql.py:2175-2244``, ``csvtools.py:205-256``),
   managed create/grant/revoke (54/55/56, ``sql.py:2246-2285``),
   change-issuer (70, ``sql.py:2287-2304``), delegate updates
   (73/74, ``sql.py:2306-2327``), freeze/unfreeze markers (185/186,
   ``sql.py:2329-2372`` — folded by ``full_balance_replay``),
   send-any-data (200) and notifications (65533/65534,
   ``sql.py:2373-2396``) as zero-delta participation rows.  Invalid
   txs expand to zero delta rows, matching the reference's ``valid``
   gating; per-purchase validity gates each DEx payment
   (``sql.py:1989-2024``).
3. ``build_balances``  — ``updateBalance`` read-modify-write
   (``sql.py:1320-1418``) → one groupBy-sum fold (A10) in exact
   base units (F1 scaling via ``scale_base_units``).
   ``build_full_balances`` adds the reserved/accepted columns and
   the frozen-funds rule (``sql.py:1408-1414``): keys that carry a
   freeze/unfreeze marker are routed through an ordered replay,
   everything else stays in the one-shuffle groupBy fold.
4. ``with_after_balances`` — ``finalizeAfterBalances``
   (``sql.py:1658-1662``) → cumulative window per (address,
   property) in serial order (W2).

Every stage is a pure function DataFrame→DataFrame; replaying any
block range is re-running the stages over its partitions (X2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniengine_spark.functions import scale_base_units
from omniengine_spark.functions.scalars import DEC_19_0
from omniengine_spark.sources.catalog import session_memo

# Decoded Omni tx (the reference's gettransaction_MP JSON, S2) —
# one struct per tx, recipients/subsends arrays for the 1→N types.
RAW_TX_SCHEMA = T.StructType(
    [
        T.StructField("txid", T.StringType(), False),
        T.StructField("block", T.LongType(), False),
        T.StructField("position_in_block", T.LongType(), False),
        T.StructField("type_int", T.IntegerType(), False),
        T.StructField("valid", T.BooleanType(), False),
        T.StructField("sending_address", T.StringType(), True),
        T.StructField("reference_address", T.StringType(), True),
        T.StructField("propertyid", T.LongType(), True),
        T.StructField("divisible", T.BooleanType(), True),
        T.StructField("amount", T.StringType(), True),
        T.StructField(
            "recipients",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("address", T.StringType()),
                        T.StructField("amount", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "subsends",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("propertyid", T.LongType()),
                        T.StructField("divisible", T.BooleanType()),
                        T.StructField("amount", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        # MetaDEx (type 25-28): desired-side property + the match list
        # omnicore pre-computes on the trade tx (reference S7,
        # omni_gettrade → sql.py:2032-2166).
        T.StructField("propertyid_desired", T.LongType(), True),
        T.StructField("divisible_desired", T.BooleanType(), True),
        T.StructField(
            "matches",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("address", T.StringType()),
                        T.StructField("amount_sold", T.StringType()),
                        T.StructField("amount_received", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        # DEx-1 sell offer (type 20, sql.py:704-794): subaction
        # ('new'|'update'|'cancel'), the remaining amount of any prior
        # active offer being replaced/cancelled (the reference reads
        # it from ActiveOffers; the decoder supplies it here, like
        # omnicore supplies the match list), and the offer terms.
        T.StructField("subaction", T.StringType(), True),
        T.StructField("remainder", T.StringType(), True),
        T.StructField("amount_desired", T.StringType(), True),
        T.StructField("time_limit", T.LongType(), True),
        # STO fee (type 3, sql.py:1806-1821): totalstofee in the fee
        # property's units — burned, never credited.
        T.StructField("sto_fee", T.StringType(), True),
        # DEx-1 accept payment (type -22, sql.py:1966-2030): one
        # purchase per (seller, property) paid in this BTC tx, each
        # individually valid-gated.
        T.StructField(
            "purchases",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("reference_address", T.StringType()),
                        T.StructField("propertyid", T.LongType()),
                        T.StructField("divisible", T.BooleanType()),
                        T.StructField("amount_bought", T.StringType()),
                        T.StructField("valid", T.BooleanType()),
                    ]
                )
            ),
            True,
        ),
        # MetaDEx cancels (26/27/28, sql.py:2129-2166): the cancelled
        # transactions with their unreserved amounts, pre-computed by
        # omni_gettrade's cancelledtransactions list.
        T.StructField(
            "cancellations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("txid", T.StringType()),
                        T.StructField("propertyid", T.LongType()),
                        T.StructField("divisible", T.BooleanType()),
                        T.StructField(
                            "amount_unreserved", T.StringType()
                        ),
                    ]
                )
            ),
            True,
        ),
        # MetaDEx trade (25): the amount moved into reserve when the
        # offer lands (sql.py:2037-2055); null → no reservation row.
        T.StructField("amount_forsale", T.StringType(), True),
        # Crowdsale participation (-51, sql.py:2180-2233 +
        # csvtools.py:205-256): tokens minted for the participant and
        # the issuer bonus, both pre-computed by the decoder from the
        # crowdsale terms (tokensperunit, early-bird decay, issuer %).
        T.StructField("purchased_propertyid", T.LongType(), True),
        T.StructField("purchased_divisible", T.BooleanType(), True),
        T.StructField("purchased_tokens", T.StringType(), True),
        T.StructField("issuer_tokens", T.StringType(), True),
    ]
)


def stamp_serials_distributed(txs: DataFrame) -> DataFrame:
    """W3: the dense serial per tx, ``row_number() OVER (ORDER BY
    block, position_in_block)``, without that single-partition global
    sort.

    Two-level decomposition: (1) per-block row counts — one row per
    block — prefix-summed into block start offsets with a window over
    that *tiny* frame; (2) the wide data ranks within its own block
    (shuffle partitioned BY block, its natural key) and adds the
    broadcast offset.  The only global sort left touches |blocks|
    rows, not |txs| — the same trick the reference plays by
    pre-assigning sequence ranges per block (``omniEngine.py:
    104-106``) instead of a nextval per row.
    """
    counts = txs.groupBy("block").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy("block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "block",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_blk = Window.partitionBy("block").orderBy("position_in_block")
    return (
        txs.join(F.broadcast(offsets), "block")
        .withColumn(
            "serial",
            (F.col("__off") + F.row_number().over(w_blk)).cast("long"),
        )
        .drop("__off")
    )


def _base_units(amount: F.Column, divisible: F.Column) -> F.Column:
    return scale_base_units(amount.cast("decimal(38,8)"), divisible)


# Delta-row struct: the reference's AddressesInTxs credit/debit
# columns.  delta_base_units == BalanceAvailableCreditDebit (name kept
# from the single-column round-1 model for plan compatibility).
_DELTA_STRUCT = (
    "struct<address:string,propertyid:bigint,"
    "delta_base_units:decimal(19,0),delta_reserved:decimal(19,0),"
    "delta_accepted:decimal(19,0),kind:string,role:string>"
)
_DELTA_ARR = f"array<{_DELTA_STRUCT}>"


def _build_delta_array() -> F.Column:
    """Build the per-txtype delta-array expression (see
    ``expand_deltas``).  Pure function of column NAMES — the returned
    Column is unresolved and reusable across any DataFrame carrying
    the RAW_TX_SCHEMA fields, so it is built once per session
    (``_delta_array``): constructing it costs thousands of py4j round
    trips (~2 s), which eight registered plans would otherwise each
    pay.
    """
    zero = F.lit(0).cast(DEC_19_0)

    def rows(*structs: F.Column) -> F.Column:
        return F.array(*structs)

    def row(addr, pid_c, avail, resv, acc, role, kind="delta"):
        return F.struct(
            addr.alias("address"),
            pid_c.cast("bigint").alias("propertyid"),
            avail.cast(DEC_19_0).alias("delta_base_units"),
            resv.cast(DEC_19_0).alias("delta_reserved"),
            acc.cast(DEC_19_0).alias("delta_accepted"),
            F.lit(kind).alias("kind"),
            F.lit(role).alias("role"),
        )

    def maybe(cond: F.Column, arr: F.Column) -> F.Column:
        return F.when(cond, arr).otherwise(F.array().cast(_DELTA_ARR))

    amt = _base_units(F.col("amount"), F.col("divisible"))
    neg = (-amt).cast(DEC_19_0)
    pid = F.col("propertyid")
    sender = F.col("sending_address")
    ref = F.col("reference_address")
    has_ref = ref.isNotNull() & (ref != "")

    # type 0 — simple send: sender debit, recipient credit
    # (recipient row only when a reference address exists,
    # sql.py:1788-1797)
    simple = F.concat(
        rows(row(sender, pid, neg, zero, zero, "sender")),
        maybe(has_ref, rows(row(ref, pid, amt, zero, zero, "recipient"))),
    )

    # type 50 — fixed issuance: issuer credited with created supply
    issue = rows(row(sender, pid, amt, zero, zero, "issuer"))

    # type 55 — grant: mints to the reference address when one exists
    # and differs from the sender, else to the issuer
    # (sql.py:2254-2277)
    grantee = F.when(has_ref & (ref != sender), ref).otherwise(sender)
    grant = rows(row(grantee, pid, amt, zero, zero, "grantee"))

    # type 56 — revoke: burn from sender
    revoke = rows(row(sender, pid, neg, zero, zero, "revoked"))

    # type 3 — STO: sender debited total, each recipient credited
    # (recipient list pre-computed upstream, reference S8); the STO
    # fee is burned from the sender in the ecosystem's fee property
    # (1 prod / 2 test), with no matching credit (sql.py:1806-1821).
    # coalesce BEFORE transform/aggregate: both propagate null, and a
    # null recipients array would otherwise nullify sto_total and
    # (via concat) the whole delta array — silently dropping the
    # sender debit and fee burn of a valid tx.  `matches` below gets
    # the same guard.
    recips = F.coalesce(
        F.col("recipients"),
        F.array().cast(
            "array<struct<address:string,amount:string>>"
        ),
    )
    sto_recipients = F.transform(
        recips,
        lambda r: row(
            r["address"],
            pid,
            _base_units(r["amount"], F.col("divisible")),
            zero,
            zero,
            "sto_recipient",
        ),
    )
    sto_total = F.aggregate(
        recips,
        zero,
        lambda acc, r: (
            acc + _base_units(r["amount"], F.col("divisible")).cast(DEC_19_0)
        ).cast(DEC_19_0),
    )
    # test-ecosystem membership per reference getEcosystem
    # (omniutils.py:14-17): pid 2 (TOMNI itself) or the 2147483651..
    # 4294967295 band — NOT everything >= 2^31 (2147483648..50 are
    # still main-ecosystem ids there)
    fee_pid = F.when(
        (pid == F.lit(2))
        | ((pid >= F.lit(2147483651)) & (pid <= F.lit(4294967295))),
        F.lit(2),
    ).otherwise(F.lit(1))
    fee = _base_units(F.col("sto_fee"), F.lit(True))
    sto = F.concat(
        rows(row(sender, pid, -sto_total, zero, zero, "sto_sender")),
        sto_recipients,
        maybe(
            F.col("sto_fee").isNotNull(),
            rows(row(sender, fee_pid, -fee, zero, zero, "feepayer")),
        ),
    )

    # type 4 — send-all: one debit/credit pair per subsend
    sendall = F.flatten(
        F.transform(
            F.col("subsends"),
            lambda s: F.array(
                row(
                    sender,
                    s["propertyid"],
                    -_base_units(s["amount"], s["divisible"]),
                    zero,
                    zero,
                    "sender",
                ),
                row(
                    ref,
                    s["propertyid"],
                    _base_units(s["amount"], s["divisible"]),
                    zero,
                    zero,
                    "recipient",
                ),
            ),
        )
    )

    # type 20 — DEx-1 sell offer (sql.py:704-794 updatedex +
    # 1904-1926): new/update moves the offered amount from available
    # to reserved and credits back the remainder of any replaced
    # active offer; cancel only credits the remainder back.
    rem = _base_units(F.col("remainder"), F.col("divisible"))
    has_rem = F.col("remainder").isNotNull()
    offer_back = rows(
        row(sender, pid, rem, -rem, zero, "seller_replaced")
    )
    offer_new = F.concat(
        rows(row(sender, pid, neg, amt, zero, "seller")),
        maybe(has_rem, offer_back),
    )
    offer_cancel = F.when(has_rem, rows(
        row(sender, pid, rem, -rem, zero, "seller")
    )).otherwise(rows(row(sender, pid, zero, zero, zero, "seller")))
    offer = F.when(
        F.lower(F.coalesce(F.col("subaction"), F.lit("new")))
        == "cancel",
        offer_cancel,
    ).otherwise(offer_new)

    # type 22 — DEx-1 accept (sql.py:1933-1964): buyer participation
    # row, seller's accepted balance credited.
    accept = rows(
        row(sender, pid, zero, zero, zero, "buyer"),
        row(ref, pid, zero, zero, amt, "seller"),
    )

    # type -22 — DEx-1 accept payment (sql.py:1966-2030): per valid
    # purchase, the bought amount leaves the seller's reserved AND
    # accepted tallies (the engine tracks it twice, sql.py:2001) and
    # lands in the buyer's available balance.
    def purchase_rows(p):
        bought = _base_units(p["amount_bought"], p["divisible"])
        return F.array(
            row(
                p["reference_address"],
                p["propertyid"],
                zero,
                -bought,
                -bought,
                "seller",
            ),
            row(sender, p["propertyid"], bought, zero, zero, "buyer"),
        )

    payment = F.flatten(
        F.transform(
            F.filter(F.col("purchases"), lambda p: p["valid"]),
            purchase_rows,
        )
    )

    # type 25 — MetaDEx trade (sql.py:2032-2127): the new offer moves
    # amount_forsale from available to reserved; each pre-computed
    # match releases the sold amount from the maker's reserve to the
    # taker's available balance and vice versa for the desired-side
    # property.  4 delta rows per match — conservation per property
    # is automatic.
    vfs = _base_units(F.col("amount_forsale"), F.col("divisible"))
    pid_d = F.col("propertyid_desired")

    def match_rows(m):
        sold = _base_units(m["amount_sold"], F.col("divisible"))
        recv = _base_units(m["amount_received"], F.col("divisible_desired"))
        return F.array(
            row(sender, pid, zero, -sold, zero, "trade_sold"),
            row(m["address"], pid, sold, zero, zero, "match_received"),
            row(m["address"], pid_d, zero, -recv, zero, "match_sold"),
            row(sender, pid_d, recv, zero, zero, "trade_received"),
        )

    trade = F.concat(
        maybe(
            F.col("amount_forsale").isNotNull(),
            rows(row(sender, pid, -vfs, vfs, zero, "seller")),
        ),
        F.coalesce(
            F.flatten(F.transform(F.col("matches"), match_rows)),
            F.array().cast(_DELTA_ARR),
        ),
    )

    # types 26/27/28 — MetaDEx cancels (sql.py:2129-2166): each
    # cancelled offer's unreserved amount moves back to available.
    cancels = F.transform(
        F.col("cancellations"),
        lambda c: row(
            sender,
            c["propertyid"],
            _base_units(c["amount_unreserved"], c["divisible"]),
            -_base_units(c["amount_unreserved"], c["divisible"]),
            zero,
            "seller",
        ),
    )

    # type -51 — crowdsale participation (sql.py:2180-2233): the
    # buy-in moves from participant to issuer in the funding property;
    # the crowdsale property mints purchased tokens to the participant
    # and the pre-computed issuer bonus (csvtools.py:230-236) to the
    # issuer when positive.
    ptok = _base_units(
        F.col("purchased_tokens"), F.col("purchased_divisible")
    )
    itok = _base_units(F.col("issuer_tokens"), F.col("purchased_divisible"))
    ppid = F.col("purchased_propertyid")
    participate = F.concat(
        rows(
            row(sender, pid, neg, zero, zero, "participant"),
            row(ref, pid, amt, zero, zero, "issuer"),
        ),
        maybe(
            F.col("issuer_tokens").isNotNull() & (itok > 0),
            rows(row(ref, ppid, itok, zero, zero, "issuer")),
        ),
        rows(row(sender, ppid, ptok, zero, zero, "participant")),
    )

    # zero-delta participation rows: the reference records who was in
    # the tx even when no balance moves (sql.py:2175-2178 create
    # crowdsale 51, 2237-2252 close 53 / managed create 54, 2287-2304
    # change-issuer 70, 2306-2327 delegates 73/74, 2373-2390
    # send-any-data 200 and notifications).
    issuer_only = rows(row(sender, pid, zero, zero, zero, "issuer"))
    issuer_and_ref = F.concat(
        issuer_only,
        maybe(
            has_ref & (ref != sender),
            rows(row(ref, pid, zero, zero, zero, "recipient")),
        ),
    )
    data_send = F.concat(
        rows(row(sender, pid, zero, zero, zero, "sender")),
        maybe(
            has_ref & (ref != sender),
            rows(row(ref, pid, zero, zero, zero, "recipient")),
        ),
    )
    notice = rows(row(sender, pid, zero, zero, zero, "sender"))

    # types 185/186 — freeze/unfreeze markers (sql.py:2329-2372): the
    # issuer participates with no delta; the target address gets a
    # marker row that only the ordered fold interprets.
    freeze = rows(
        row(sender, pid, zero, zero, zero, "issuer"),
        row(ref, pid, zero, zero, zero, "recipient", kind="freeze"),
    )
    unfreeze = rows(
        row(sender, pid, zero, zero, zero, "issuer"),
        row(ref, pid, zero, zero, zero, "recipient", kind="unfreeze"),
    )

    t = F.col("type_int")
    empty = F.array().cast(_DELTA_ARR)
    expanded = (
        F.when(~F.col("valid"), empty)
        .when(t == 0, simple)
        .when(t == 3, sto)
        .when(t == 4, sendall)
        .when(t == 20, offer)
        .when(t == 22, accept)
        .when(t == -22, payment)
        .when(t == 25, trade)
        .when(t.isin(26, 27, 28), cancels)
        .when(t == 50, issue)
        .when(t == 51, issuer_only)
        .when(t == -51, participate)
        .when(t.isin(53, 54), issuer_only)
        .when(t == 55, grant)
        .when(t == 56, revoke)
        .when(t.isin(70, 73, 74), issuer_and_ref)
        .when(t == 185, freeze)
        .when(t == 186, unfreeze)
        .when(t == 200, data_send)
        .when(t.isin(65533, 65534), notice)
        .otherwise(empty)
    )
    return expanded


def _delta_array(spark: SparkSession) -> F.Column:
    """The session's memoized ``_build_delta_array`` expression."""
    return session_memo(spark, "delta-array", None, _build_delta_array)


def expand_deltas(txs: DataFrame) -> DataFrame:
    """Per-txtype expansion into double-entry ledger rows
    (address, propertyid, delta_base_units [available],
    delta_reserved, delta_accepted, kind, role, serial).

    ``kind`` is 'delta' for arithmetic rows and 'freeze'/'unfreeze'
    for the type-185/186 markers, which only ``full_balance_replay``
    interprets (the fold is order-dependent, sql.py:1408-1414).

    Optional ``RAW_TX_SCHEMA`` fields absent from ``txs`` are added as
    typed nulls, so a caller only carrying the fields its txtypes use
    still resolves — null-only columns are constant-folded by
    Catalyst, they cost nothing at scale.
    """
    expanded = _delta_array(txs.sparkSession)

    missing = [
        field
        for field in RAW_TX_SCHEMA.fields
        if field.name not in set(txs.columns) and field.nullable
    ]
    if missing:
        # one select, one analysis pass (a withColumn per field
        # re-analyzes the growing plan quadratically)
        txs = txs.select(
            "*",
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in missing
            ],
        )

    return txs.select(
        "txid", "block", "serial", F.explode_outer(expanded).alias("d")
    ).filter(F.col("d").isNotNull()).select(
        "txid",
        "block",
        "serial",
        F.col("d.address").alias("address"),
        F.col("d.propertyid").alias("propertyid"),
        F.col("d.delta_base_units").alias("delta_base_units"),
        F.col("d.delta_reserved").alias("delta_reserved"),
        F.col("d.delta_accepted").alias("delta_accepted"),
        F.col("d.kind").alias("kind"),
        F.col("d.role").alias("role"),
    )


BTC_TX_SCHEMA = T.StructType(
    [
        T.StructField("txid", T.StringType(), False),
        T.StructField(
            "vin",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("prev_txid", T.StringType()),
                        T.StructField("vout_n", T.LongType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "vout",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("n", T.LongType()),
                        T.StructField("address", T.StringType()),
                        T.StructField("value_sat", T.LongType()),
                        T.StructField("script_type", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def classify_tx(btc_txs: DataFrame) -> DataFrame:
    """F9/D8: Omni tx class from output script types (reference
    ``omniutils.py:31-62``): Class C = OP_RETURN (nulldata) payload,
    Class B = bare multisig payload, Class A = plain pubkeyhash
    encoding.  ``exists()`` over the vout struct array — no UDF.
    """
    has = lambda t: F.exists(  # noqa: E731
        F.col("vout"), lambda o: o["script_type"] == t
    )
    tx_class = (
        F.when(has("nulldata"), "C")
        .when(has("multisig"), "B")
        .otherwise("A")
    )
    return btc_txs.select("txid", tx_class.alias("tx_class"))


def resolve_utxo_inputs(btc_txs: DataFrame) -> DataFrame:
    """S3/J5: resolve each input's source address/value by joining the
    exploded vin list against prior txs' exploded vout lists on
    (prev_txid, vout_n) — the reference does one ``getrawtransaction``
    RPC per input (``sql.py:1693-1718``) and back-patches the spent
    row; here the linkage is one equi-join and ``spent_by`` is a
    computed column, never a mutation.

    Output: one row per input with (txid, prev_txid, vout_n,
    src_address, value_sat).  Unmatched inputs (coinbase / outside the
    batch) resolve to nulls via the left join.
    """
    vins = btc_txs.select(
        "txid", F.explode_outer("vin").alias("i")
    ).select(
        "txid",
        F.col("i.prev_txid").alias("prev_txid"),
        F.col("i.vout_n").alias("vout_n"),
    )
    vouts = btc_txs.select(
        F.col("txid").alias("prev_txid"),
        F.explode_outer("vout").alias("o"),
    ).select(
        "prev_txid",
        F.col("o.n").alias("vout_n"),
        F.col("o.address").alias("src_address"),
        F.col("o.value_sat").alias("value_sat"),
    )
    return vins.join(vouts, ["prev_txid", "vout_n"], "left")


def expand_btc_deltas(btc_txs: DataFrame) -> DataFrame:
    """Bitcoin-side balance deltas (propertyid 0) — the reference's
    ``Protocol == "Bitcoin"`` branch of ``insertTxAddr``
    (``sql.py:1671-1719``): every readable vout credits its address
    with the output value; every resolvable vin debits the source
    address by the spent output's value.  The reference resolves each
    input with a ``getrawtransaction`` RPC per vin; here the linkage
    is the ``resolve_utxo_inputs`` equi-join, and coinbase /
    out-of-batch inputs (null source) expand to no delta row.

    Output matches the omni delta stream shape (kind='delta',
    propertyid=0).  ``block`` and ``serial`` pass through when the
    caller stamped them on the tx frame (``stamp_serials_distributed``
    works on any (block, position_in_block) frame), making the output
    unionByName-compatible with ``expand_deltas`` for one unified
    BTC+Omni fold; without them the output still folds by address
    (the s2b plan's shape).
    """
    carry = [c for c in ("block", "serial") if c in btc_txs.columns]
    zero = F.lit(0).cast(DEC_19_0)
    credits = btc_txs.select(
        "txid", *carry, F.explode_outer("vout").alias("o")
    ).filter(F.col("o.address").isNotNull()).select(
        "txid",
        *carry,
        F.col("o.address").alias("address"),
        F.lit(0).cast("bigint").alias("propertyid"),
        F.col("o.value_sat").cast(DEC_19_0).alias("delta_base_units"),
        zero.alias("delta_reserved"),
        zero.alias("delta_accepted"),
        F.lit("delta").alias("kind"),
        F.lit("recipient").alias("role"),
    )
    vin_src = resolve_utxo_inputs(btc_txs)
    if carry:
        vin_src = vin_src.join(
            btc_txs.select("txid", *carry), "txid"
        )
    debits = vin_src.filter(
        F.col("src_address").isNotNull()
    ).select(
        "txid",
        *carry,
        F.col("src_address").alias("address"),
        F.lit(0).cast("bigint").alias("propertyid"),
        (-F.col("value_sat")).cast(DEC_19_0).alias("delta_base_units"),
        zero.alias("delta_reserved"),
        zero.alias("delta_accepted"),
        F.lit("delta").alias("kind"),
        F.lit("sender").alias("role"),
    )
    return credits.unionByName(debits)


def genesis_deltas(snapshot: DataFrame) -> DataFrame:
    """Convert a genesis snapshot (address, propertyid, available,
    reserved, accepted — base units) into fold-compatible delta rows
    (reference ``database/balances.csv:1-679`` seeded by
    ``tools/resetBalances.py:1-5`` before any block replays).

    Serial is ``-1`` — strictly below every stamped tx serial (the
    two-level stamper starts at 1), so order-dependent consumers
    (``full_balance_replay``, ``with_after_balances``) see the
    snapshot as the opening balance, while the plain groupBy fold is
    order-insensitive anyway.  One narrow projection, no shuffle.
    """
    zero = F.lit(0).cast(DEC_19_0)
    return snapshot.select(
        F.lit("genesis").alias("txid"),
        F.lit(0).cast("long").alias("block"),
        F.lit(-1).cast("long").alias("serial"),
        F.col("address"),
        F.col("propertyid").cast("long").alias("propertyid"),
        F.coalesce(F.col("available").cast(DEC_19_0), zero).alias(
            "delta_base_units"
        ),
        F.coalesce(F.col("reserved").cast(DEC_19_0), zero).alias(
            "delta_reserved"
        ),
        F.coalesce(F.col("accepted").cast(DEC_19_0), zero).alias(
            "delta_accepted"
        ),
        F.lit("delta").alias("kind"),
        F.lit("genesis").alias("role"),
    )


def build_balances(deltas: DataFrame) -> DataFrame:
    """Materialized running state: fold of all deltas per
    (address, propertyid) — the whole of ``updateBalance`` as one
    partial-aggregated groupBy."""
    return deltas.groupBy("address", "propertyid").agg(
        F.sum("delta_base_units").cast(DEC_19_0).alias("balance"),
        F.count(F.lit(1)).alias("n_deltas"),
        F.max("serial").alias("last_serial"),
    )


def build_full_balances(
    deltas: DataFrame, genesis: DataFrame | None = None
) -> DataFrame:
    """Materialized AddressBalances with all four reference columns
    (available, reserved, accepted, frozen — ``sql.py:1320-1418``).

    ``genesis`` (optional): a snapshot frame (address, propertyid,
    available, reserved, accepted) unioned under the fold as serial
    ``-1`` deltas, so a full-history rebuild starts from the seeded
    opening state (``database/balances.csv``), not zero.

    The frozen-funds rule (``sql.py:1408-1414``) is order-dependent,
    but only for keys that ever see a freeze/unfreeze marker.  Split
    accordingly: marker-bearing keys (rare — one governance action
    per frozen address) go through the ordered replay; everything
    else folds in the plain one-shuffle groupBy.  The marker-key set
    is tiny by construction, so the routing join is a broadcast —
    the wide side is never reshuffled twice.
    """
    from omniengine_spark.operators.replay import full_balance_replay

    if genesis is not None:
        deltas = genesis_deltas(genesis).select(
            *deltas.columns
        ).unionByName(deltas)

    # Tag marker-bearing keys with ONE unordered window over the same
    # shuffle the fold needs anyway — a separate distinct pass +
    # broadcast join would evaluate the (expensive) delta lineage an
    # extra time, and broadcast joins leave no reusable exchange so
    # the two branches would re-expand it twice more.  The checkpoint
    # materializes the tagged stream once for both branches (at
    # warehouse scale: persist(DISK_ONLY) instead).
    tagged = deltas.withColumn(
        "__frozen_key",
        F.max((F.col("kind") != "delta").cast("int")).over(
            Window.partitionBy("address", "propertyid")
        ),
    ).localCheckpoint(eager=False)
    # lazy: materialized by the caller's first action (both branches
    # share the cached blocks); eager ran a whole job at plan-BUILD
    # time — 2.0 s of every d4/d7c construction, measured
    plain = tagged.filter(F.col("__frozen_key") == 0)
    plain_out = plain.groupBy("address", "propertyid").agg(
        F.sum("delta_base_units").cast("long").alias("available"),
        F.sum("delta_reserved").cast("long").alias("reserved"),
        F.sum("delta_accepted").cast("long").alias("accepted"),
        F.lit(0).cast("long").alias("frozen"),
    )
    hot = tagged.filter(F.col("__frozen_key") == 1).select(
        "address",
        "propertyid",
        "serial",
        "kind",
        F.col("delta_base_units").cast("long").alias("delta_base_units"),
        F.col("delta_reserved").cast("long").alias("delta_reserved"),
        F.col("delta_accepted").cast("long").alias("delta_accepted"),
    )
    return plain_out.unionByName(full_balance_replay(hot))


def with_after_balances(deltas: DataFrame) -> DataFrame:
    """Stamp the post-tx running balance onto every delta row in
    serial order (finalizeAfterBalances)."""
    w = (
        Window.partitionBy("address", "propertyid")
        # one tx can emit several rows for the same (address,
        # propertyid) at the SAME serial (offer replace: debit +
        # credit-back; self-matches) — a serial-only ROWS frame would
        # order those ties arbitrarily per run.  role + the delta
        # columns complete a total order up to rows whose swap cannot
        # change any cumulative sum.
        .orderBy(
            "serial", "role", "delta_base_units",
            "delta_reserved", "delta_accepted",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return deltas.withColumn(
        "after_balance",
        F.sum("delta_base_units").over(w).cast(DEC_19_0),
    )
