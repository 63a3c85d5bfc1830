"""SQL front-end plans: one SQL text per plan, run by ``spark.sql``
over the engine's tables and by DuckDB as the oracle — proving the
full SQL surface (the reference's hand-written SQL strings, ``sql.py``
passim) works against the same warehouse with the same oracle
discipline.  Tables are bound as ``spark.sql`` DataFrame arguments,
so a plan leaves no temporary view in the session.

Besides the TPC-H shapes (Q18 is A15/J13) it holds the subquery
surface: correlated scalar subqueries and EXISTS + NOT EXISTS.
"""

from __future__ import annotations

import functools
from string import Formatter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_18_4, dec_18_4
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import TABLES, load_table


def _as_double(decimal_sql: str) -> tuple[str, str]:
    """(oracle, Spark) SQL of the DECIMAL ``decimal_sql`` cast to
    DOUBLE.  DuckDB's DECIMAL→DOUBLE cast double-rounds (hugeint then
    /10^s), so the oracle routes through VARCHAR (strtod is correctly
    rounded, matching Spark's BigDecimal.doubleValue)."""
    return (
        f"CAST(CAST({decimal_sql} AS VARCHAR) AS DOUBLE)",
        f"CAST({decimal_sql} AS DOUBLE)",
    )


def sql_query(name: str, template: str, **measures: str | tuple[str, str]):
    """Register the decorated ``def`` (its name and docstring; its body
    is never run) as plan ``name``: ``template`` run through
    ``spark.sql``, with ``template`` itself as the DuckDB oracle.

    A catalog-table placeholder (``{customer}``, ``{lineitem}``, …)
    reads that table: the oracle names it, the plan binds its
    ``load_table`` frame as a ``spark.sql`` argument — Spark registers
    it as a view for the call only, and a table referenced twice binds
    once.  Any other placeholder is a measure: a ``str`` is the same
    SQL on both engines, an ``_as_double`` pair differs per engine.
    Measures are substituted with plain ``str.format`` first, because
    ``spark.sql`` would render a ``str`` argument as a quoted literal."""

    def side(i: int) -> dict[str, str]:
        return {k: v if isinstance(v, str) else v[i]
                for k, v in measures.items()}

    oracle = template.format(**{t: t for t in TABLES}, **side(0))
    text = template.format(**{t: f"{{{t}}}" for t in TABLES}, **side(1))
    tables = list(dict.fromkeys(
        field for _, field, _, _ in Formatter().parse(text) if field
    ))

    def deco(fn):
        @functools.wraps(fn)
        def plan(spark: SparkSession, sf_dir: str) -> DataFrame:
            return spark.sql(
                text, **{t: load_table(spark, sf_dir, t) for t in tables}
            )

        return query(name, oracle=oracle)(plan)

    return deco


_Q3 = """
SELECT
  l_orderkey,
  {rev} AS revenue,
  o_orderdate,
  o_orderpriority
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '2001-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '2001-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


_REV_SUM = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) "
    "* (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))"
)


_Q5 = """
SELECT
  n_name,
  {rev} AS revenue,
  COUNT(*) AS n_items
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@sql_query("sql_q3_shipping_priority", _Q3, rev=_as_double(_REV_SUM))
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape submitted as a SQL string over bound tables —
    Catalyst plans it identically to the DataFrame formulation
    (broadcast dims, partial agg, top-k)."""


@sql_query("sql_q5_local_supplier_volume", _Q5, rev=_as_double(_REV_SUM))
def sql_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5 shape: six-way join with a *two-column* residual on
    the supplier join (local supplier = same nation as the customer).
    This is the join-reordering stress test — Catalyst broadcasts the
    three dims (supplier/nation/region) so the only wide shuffle is
    lineitem joining orders joining customer; the reference never
    exceeds a 3-way comma join (``sql.py:270-274``)."""


_Q10 = """
SELECT
  c.c_custkey,
  c.c_name,
  {rev} AS revenue,
  c.c_acctbal,
  n.n_name,
  COUNT(*) AS n_items
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {nation} n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@sql_query("sql_q10_returned_items", _Q10, rev=_as_double(_REV_SUM))
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue report over returned items —
    fact⋈fact (lineitem⋈orders) with a broadcast customer/nation
    enrichment and a top-20 TakeOrderedAndProject, the serving-layer
    "worst customers" query the reference answers with AddressStats
    (``sql.py:1644-1656``)."""


_Q7 = """
WITH flows AS (
  SELECT
    sn.n_name AS supp_nation,
    cn.n_name AS cust_nation,
    CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
    CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))
      AS volume
  FROM {supplier} s
  JOIN {lineitem} l ON s.s_suppkey = l.l_suppkey
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN {nation} sn ON s.s_nationkey = sn.n_nationkey
  JOIN {nation} cn ON c.c_nationkey = cn.n_nationkey
  WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
)
SELECT supp_nation, cust_nation, l_year,
       {rev} AS revenue,
       COUNT(*) AS n_items
FROM flows
GROUP BY supp_nation, cust_nation, l_year
"""


@sql_query("sql_q7_volume_shipping", _Q7, rev=_as_double("SUM(volume)"))
def sql_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: six-way join where the interesting predicate is
    a symmetric OR over a broadcast dim joined TWICE under different
    aliases (supplier's nation vs customer's nation) — proves alias
    resolution and that the disjunction is pushed into the two
    broadcast hash joins rather than materializing the cross flow."""


# Q4 shape, adapted to the available lineitem columns (the generator
# has no commitdate/receiptdate): an order is "late-shipped" when some
# line shipped after the order date + 60 days.  Same plan skeleton as
# TPC-H Q4: date-window scan of orders, EXISTS semi-join to lineitem,
# tiny grouped count.
_Q4 = """
SELECT
  o_orderpriority,
  COUNT(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@sql_query("sql_q4_late_orders", _Q4)
def sql_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi hash join on
    l_orderkey with the date residual evaluated at the join — no
    distinct/aggregate subquery materialization."""


# Q12 shape, adapted (no l_shipmode column): group by l_linestatus,
# CASE-sum the high- vs low-priority orders of the joined fact — the
# conditional-bucket aggregation Q12 exercises.
_Q12 = """
SELECT
  l.l_linestatus,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders} o
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_linestatus
"""


@sql_query("sql_q12_priority_buckets", _Q12)
def sql_q12_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⋈fact equi-join with the filter pushed to
    the lineitem scan and both CASE-sums computed in one partial
    aggregate."""


# ---------------------------------------------------------------------------
# Round-4 widening: the remaining canonical TPC-H shapes expressible on
# the generator's schema (no partsupp table, no commit/receipt dates,
# no phone/container columns — adapted shapes note the substitution).
# ---------------------------------------------------------------------------


_Q6 = """
SELECT
  {rev} AS revenue,
  COUNT(*) AS n_items
FROM {lineitem} l
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_discount BETWEEN 0.03 AND 0.07
  AND l.l_quantity < 24
"""

_DISC_REV_SUM = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) "
    "* CAST(l_discount AS DECIMAL(5,4)))"
)


@sql_query("sql_q6_forecast_revenue", _Q6, rev=_as_double(_DISC_REV_SUM))
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure-scan aggregate — every predicate is
    pushed into the parquet scan (shipdate min/max stats prune row
    groups) and the whole query is one partial+final agg with no
    shuffle key at all.  The simplest possible plan; anything more
    (a sort, an exchange beyond the single-row gather) is a bug."""


_Q8 = """
WITH volumes AS (
  SELECT
    CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))
      AS volume,
    sn.n_name AS supp_nation
  FROM {part} p
  JOIN {lineitem} l ON p.p_partkey = l.l_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN {nation} cn ON c.c_nationkey = cn.n_nationkey
  JOIN {nation} sn ON s.s_nationkey = sn.n_nationkey
  JOIN {region} r ON cn.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
    AND p.p_type = 'PROMO'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
)
SELECT
  o_year,
  {nation_volume} / {volume} AS mkt_share,
  COUNT(*) AS n_items
FROM volumes
GROUP BY o_year
"""


@sql_query(
    "sql_q8_market_share",
    _Q8,
    nation_volume=_as_double(
        "SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume "
        "ELSE CAST(0 AS DECIMAL(18,4)) END)"
    ),
    volume=_as_double("SUM(volume)"),
)
def sql_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): eight-way join where nation is
    joined twice under different roles and the measure is a ratio of
    two conditional sums computed in ONE aggregation pass — the
    two-scan formulation the reference would write (separate numerator
    and denominator statements, ``sql.py:266-276`` style) collapses to
    a single grouped CASE-sum.  All five dims broadcast; the only
    shuffles are the three fact-side joins.  Both sums stay DECIMAL
    (exact) until the final ratio, so the double division is the same
    correctly-rounded IEEE op in both engines."""


# Q9 shape, adapted: the generator has no partsupp/ps_supplycost, so
# profit = line revenue − retail cost of the quantity shipped
# (p_retailprice standing in for ps_supplycost).  The plan skeleton is
# Q9's: LIKE-filtered part, five-way join, extract-year, group by
# (nation, year).
_Q9 = """
SELECT
  nation,
  o_year,
  {profit} AS sum_profit,
  COUNT(*) AS n_items
FROM (
  SELECT
    sn.n_name AS nation,
    CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))
    - CAST(p.p_retailprice AS DECIMAL(18,4))
      * CAST(l.l_quantity AS DECIMAL(18,4)) AS amount
  FROM {part} p
  JOIN {lineitem} l ON p.p_partkey = l.l_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {nation} sn ON s.s_nationkey = sn.n_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""


@sql_query("sql_q9_product_profit", _Q9, profit=_as_double("SUM(amount)"))
def sql_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): LIKE-filtered part dim
    (broadcast, filter applied before the join so only matching
    partkeys enter the build side), two more broadcast dims, and a
    signed DECIMAL measure — revenue minus cost — summed exactly.
    Mixed-sign sums are where floating-point drifts; DECIMAL keeps the
    fold associative and engine-independent."""


# Q13 shape, adapted: the comment-pattern exclusion becomes a priority
# exclusion (orders has no o_comment).
_Q13 = """
SELECT
  c_count,
  COUNT(*) AS custdist
FROM (
  SELECT
    c.c_custkey AS c_custkey,
    COUNT(o.o_orderkey) AS c_count
  FROM {customer} c
  LEFT JOIN {orders} o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


@sql_query("sql_q13_order_count_distribution", _Q13)
def sql_q13_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with a predicate on the
    *preserved-null* side pushed into the join (not a post-filter,
    which would change the semantics), double aggregation — per-key
    count then count-of-counts.  The second groupBy keys on ~dozens of
    values, so AQE coalesces its shuffle to almost nothing."""


_Q15 = """
WITH revenue AS (
  SELECT
    l_suppkey AS supplier_no,
    {rev_sum} AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT
  s.s_suppkey,
  s.s_name,
  {rev_out} AS total_revenue
FROM {supplier} s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@sql_query(
    "sql_q15_top_supplier",
    _Q15,
    rev_sum=_REV_SUM,
    rev_out=_as_double("r.total_revenue"),
)
def sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a named subresult referenced twice —
    once as the join input, once under MAX in an uncorrelated scalar
    subquery.  total_revenue stays DECIMAL through the MAX comparison
    (exact equality is only sane in fixed-point; a double `=` here
    would be engine-dependent) and becomes DOUBLE at output only."""


# Q17 shape, adapted (no p_container): brand+type select the part
# slice.  l_quantity is integral, so 0.2*AVG is the same double in
# both engines (exact integer sum / exact count, one IEEE divide).
_Q17 = """
SELECT
  {rev} / 7.0 AS avg_yearly,
  COUNT(*) AS n_items
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND p.p_type = 'PROMO'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM {lineitem} l2
    WHERE l2.l_partkey = l.l_partkey
  )
"""


@sql_query(
    "sql_q17_small_quantity_revenue",
    _Q17,
    rev=_as_double("SUM(CAST(l_extendedprice AS DECIMAL(18,4)))"),
)
def sql_q17_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (per-part 20%-
    of-average quantity threshold) — Catalyst decorrelates it to an
    aggregate-then-join on l_partkey, so lineitem is scanned twice but
    never nested-loop'd.  The filtered part dim broadcasts into both
    sides."""


# Q19 shape, adapted (no p_container / l_shipmode / l_shipinstruct):
# three brand×size×quantity conjunctions OR'd together.
_Q19 = """
SELECT
  {rev} AS revenue,
  COUNT(*) AS n_items
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@sql_query("sql_q19_disjunctive_revenue", _Q19, rev=_as_double(_REV_SUM))
def sql_q19_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctions spanning BOTH
    join sides.  The optimizer must (a) keep the OR as a join residual
    rather than a cartesian filter and (b) derive the per-side
    implied filters (p_brand IN (...), p_size <= 15, l_quantity <= 30)
    pushed below the join — constraint propagation the reference's
    hand-written SQL never needed because Postgres did it for free."""


# Q21 shape, adapted (no commit/receipt dates): within finished
# multi-supplier orders, find the supplier who is the ONLY one whose
# line was returned — same EXISTS + NOT-EXISTS double-correlated
# skeleton as the original "suppliers who kept orders waiting".
_Q21 = """
SELECT
  s.s_name,
  COUNT(*) AS numwait
FROM {supplier} s
JOIN {lineitem} l1 ON s.s_suppkey = l1.l_suppkey
JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@sql_query("sql_q21_sole_blame_supplier", _Q21)
def sql_q21_sole_blame_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 shape: the hardest subquery pattern in the suite —
    one EXISTS and one NOT EXISTS, both correlated on l_orderkey with
    an inequality on l_suppkey.  Catalyst turns them into a left-semi
    and a left-anti join against the same lineitem scan; the supplier
    dim broadcasts; top-20 is TakeOrderedAndProject."""


# Q22 shape, adapted (no c_phone): country code = c_nationkey % 5.
# The above-average threshold is evaluated in exact arithmetic:
# bal*N > total  instead of  bal > total/N  (same predicate, no
# engine-dependent division).
_Q22 = """
WITH positive AS (
  SELECT
    CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
    c_custkey,
    CAST(c_acctbal AS DECIMAL(18,4)) AS bal
  FROM {customer}
  WHERE c_acctbal > 0
)
SELECT
  cntrycode,
  COUNT(*) AS numcust,
  {bal} AS totacctbal
FROM positive p
WHERE p.bal * (SELECT COUNT(*) FROM positive)
      > (SELECT SUM(bal) FROM positive)
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = p.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY cntrycode
"""


@sql_query("sql_q22_dormant_accounts", _Q22, bal=_as_double("SUM(bal)"))
def sql_q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): two uncorrelated
    scalar subqueries over the same CTE (count and sum — computed in
    one reused aggregate), a NOT EXISTS anti-join to orders, and a
    grouped rollup.  The above-average comparison is cross-multiplied
    into DECIMAL so no division result is ever compared — the exact
    trick the double-entry ledger uses for pro-rata cutoffs
    (``sql.py:1806-1821``)."""


# ---------------------------------------------------------------------------
# Q2/Q11/Q16/Q20 shapes.  The testdata star schema has no partsupp
# table, so each derives the part-supplier relation from lineitem
# (GROUP BY l_partkey, l_suppkey) — the subquery SKELETONS are the
# point: Q2's correlated min-cost, Q11's global-fraction HAVING,
# Q16's NOT IN + COUNT DISTINCT, Q20's correlated aggregate nested
# inside an IN.  With these the engine covers all 22 TPC-H shapes.
# ---------------------------------------------------------------------------

# Q2 shape: minimum-cost supplier per part within a region.  Unit cost
# is MIN(l_extendedprice / l_quantity) — a single IEEE division and a
# MIN, never a float sum, so Spark and DuckDB agree bit-for-bit.
_Q2 = """
WITH ps AS (
  SELECT
    l_partkey AS ps_partkey,
    l_suppkey AS ps_suppkey,
    MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM {lineitem}
  GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT ps.ps_partkey, ps.ps_supplycost,
         s.s_name, s.s_acctbal, n.n_name
  FROM ps
  JOIN {supplier} s ON ps.ps_suppkey = s.s_suppkey
  JOIN {nation} n ON s.s_nationkey = n.n_nationkey
  JOIN {region} r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
       e.ps_supplycost
FROM {part} p
JOIN eu e ON e.ps_partkey = p.p_partkey
WHERE p.p_size = 15
  AND p.p_type = 'STANDARD'
  AND e.ps_supplycost = (
    SELECT MIN(e2.ps_supplycost) FROM eu e2
    WHERE e2.ps_partkey = p.p_partkey
  )
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
"""


@sql_query("sql_q2_min_cost_supplier", _Q2)
def sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar MIN over the region-filtered
    part-supplier relation, equality-joined back to pick the cheapest
    supplier(s) per part.  Catalyst decorrelates the subquery into a
    per-part aggregate joined on p_partkey, so the derived ps relation
    is built once per side and never nested-loop'd; supplier/nation/
    region broadcast.  The reference serves the analogous cheapest-
    offer lookup from its DEx views (``sql.py:270-274``)."""


# Q11 shape: parts representing a significant fraction of one nation's
# total stock value.  Value is an exact DECIMAL sum and the fraction
# threshold is cross-multiplied (val * 5000 > total), so no division
# or float sum is ever compared.  1/5000 keeps the HAVING populated
# at bench scale too (part count grows with sf while each part's
# share shrinks — TPC-H scales this fraction by 1/SF for the same
# reason).
_Q11 = """
WITH value AS (
  SELECT
    l.l_partkey AS ps_partkey,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS val
  FROM {lineitem} l
  JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
  JOIN {nation} n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT ps_partkey, {val} AS part_value
FROM value v
WHERE v.val * 5000 > (SELECT SUM(val) FROM value)
ORDER BY part_value DESC, ps_partkey
LIMIT 50
"""


@sql_query("sql_q11_important_stock", _Q11, val=_as_double("val"))
def sql_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped aggregate HAVING'd against an
    uncorrelated scalar subquery over the SAME derived table — the
    one-big-total-vs-each-group pattern.  Catalyst computes the CTE
    once per consumer (agg reuse under AQE), the scalar total arrives
    as a literal via a subquery broadcast, and the fraction test is
    cross-multiplied into DECIMAL exactly like the pro-rata cutoff in
    the STO fold (``sql.py:1806-1821``)."""


# Q16 shape: supplier diversity per part attribute, excluding a
# denylisted supplier set.  Purely integer/string arithmetic.
_Q16 = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM {lineitem}
)
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM ps
JOIN {part} p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM {supplier} WHERE s_name LIKE '%7%'
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
"""


@sql_query("sql_q16_supplier_diversity", _Q16)
def sql_q16_supplier_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape: DISTINCT pair derivation, a NOT IN denylist
    subquery (null-safe anti-join — s_suppkey is non-null so Catalyst
    plans a plain left-anti), and COUNT(DISTINCT) per three grouping
    columns.  The denylist broadcasts; the distinct-pair shuffle is
    the only wide exchange."""


# Q20 shape: suppliers in one nation who shipped more than half of a
# qualifying part's lifetime volume during 1999.  Both sides of the
# threshold are exact DECIMAL sums and the halving is cross-multiplied
# (recent * 2 > lifetime).
_Q20 = """
WITH ps AS (
  SELECT
    l_partkey AS ps_partkey,
    l_suppkey AS ps_suppkey,
    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS ps_availqty
  FROM {lineitem}
  GROUP BY l_partkey, l_suppkey
)
SELECT s.s_name, s.s_acctbal
FROM {supplier} s
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3'
  AND s.s_suppkey IN (
    SELECT ps.ps_suppkey FROM ps
    WHERE ps.ps_partkey IN (
      SELECT p_partkey FROM {part} WHERE p_name LIKE 'red%'
    )
    AND (
      SELECT COALESCE(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 0)
      FROM {lineitem} l
      WHERE l.l_partkey = ps.ps_partkey
        AND l.l_suppkey = ps.ps_suppkey
        AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
    ) * 2 > ps.ps_availqty
  )
ORDER BY s.s_name
"""


@sql_query("sql_q20_recent_volume_suppliers", _Q20)
def sql_q20_recent_volume_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape: the deepest nesting in the suite — an IN whose
    subquery contains another IN (part-name filter) AND a correlated
    scalar aggregate (the 1999 volume for that exact part-supplier
    pair).  Catalyst decorrelates the scalar into a grouped aggregate
    joined on (partkey, suppkey) and turns both INs into left-semi
    joins; the nation-filtered supplier dim broadcasts."""


# --------------------------------------------------------------------
# A15/J13 — TPC-H Q18 shape: aggregate, HAVING-filter the groups,
# join the survivors back to their parent rows.  The reference's
# closest pattern is the duplicate-name count threshold
# (sql.py:1602-1624).  Scale shape: the groupBy shuffles lineitem
# once on l_orderkey; the HAVING cuts the join input to a sliver, and
# AQE converts the orders join to broadcast at runtime.
# --------------------------------------------------------------------
@query(
    "sql_q18_large_orders",
    oracle="""
    SELECT
      c_name,
      o_orderkey,
      o_totalprice,
      o_orderdate,
      CAST(CAST(q.sum_qty_dec AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty_dec
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    ) q
    JOIN orders   ON o_orderkey = q.l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sql_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec_18_4("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------
# SQL subquery surface: correlated scalar subqueries.  The reference
# inlines every such lookup as a separate Python-side query per row
# (e.g. per-property rate fetch sql.py:295 inside the txstats loop);
# here Catalyst decorrelates both subqueries into aggregate+join.
# The predicate is the avg-comparison rewritten decimal-exact:
# bal > avg  ⟺  bal·n > sum, so no float avg crosses engines.
# --------------------------------------------------------------------
@sql_query(
    "sql_correlated_above_avg",
    """
    SELECT c_custkey, c_acctbal, c_nationkey
    FROM {customer} c
    WHERE CAST(c_acctbal AS DECIMAL(18,4))
          * (SELECT COUNT(*) FROM {customer} c2
             WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,4)))
             FROM {customer} c2 WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def sql_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose balance is above their nation's average."""


# --------------------------------------------------------------------
# SQL subquery surface: EXISTS + NOT EXISTS in one predicate
# (churn shape: active in 1997, gone in 1998).  Catalyst plans the
# pair as one semi and one anti join on o_custkey — two shuffles of
# the pre-filtered orders slices, never a per-row probe like the
# reference's existence checks (sql.py:382-384).
# --------------------------------------------------------------------
@sql_query(
    "sql_churned_customers",
    """
    SELECT c_custkey, c_name
    FROM {customer} c
    WHERE EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
      AND NOT EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
    """,
)
def sql_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who ordered in 1997 and not in 1998."""


# --------------------------------------------------------------------
# TPC-H Q14 shape: conditional-share aggregate over a fact⋈dim join
# (promo revenue ratio for one ship month).  part is broadcast, so
# the plan is scan→BHJ→one partial agg — a single wide shuffle of 2
# numbers.  The ratio divides the two already-exact doubles, so it is
# bit-identical across engines.
# --------------------------------------------------------------------
@query(
    "sql_q14_promo_effect",
    oracle="""
    SELECT
      CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
            ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        AS promo_revenue,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
           AS VARCHAR) AS DOUBLE) AS total_revenue,
      100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
            ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
             AS VARCHAR) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def sql_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    one = F.lit(1).cast("decimal(5,4)")
    rev = dec_18_4("l_extendedprice") * (
        one - F.col("l_discount").cast("decimal(5,4)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast(DEC_18_4)
    )
    agg = li.join(part, li.l_partkey == part.p_partkey).agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )
    return agg.withColumn(
        "promo_pct",
        100.0 * F.col("promo_revenue") / F.col("total_revenue"),
    )
