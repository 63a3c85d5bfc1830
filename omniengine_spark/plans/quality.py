"""Data-quality plans: column profiling and constraint validation —
the Deequ/dbt-test shape, run as ordinary DataFrame aggregates.

The reference validates itself by full-state diff against omnicore
(``sql.py:1205-1316`` checkbalances); a warehouse this engine owns
needs the generic version: profile what landed, assert the
invariants, emit violations as DATA so the orchestrator can gate on
them.  One pass per table; every metric is a conditional aggregate
fused into a single scan (no per-check scans, unlike the reference's
one-statement-per-check style).

The ``stats_*`` plans profile values (A16 histogram, A17 grouped
quantiles) exactly and through sketches — approx quantiles, merged
HLL partials, count-min — each emitting its accuracy contract next
to the exact value, so the oracle gates both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.functions.scalars import DEC_18_4, dec_18_4
from omniengine_spark.operators.dedup import md5_token_hash
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import fan_out, load_table

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


@query(
    "quality_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR),
           CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS VARCHAR),
           CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    """,
)
def quality_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness/cardinality/range profile, computed in
    ONE scan: every metric for every column is a conditional aggregate
    in the same groupBy-less agg, then unpivoted to (column, metric)
    rows.  String-typed min/max keep one output schema for mixed
    column types (Deequ's profile result shape).

    fan_out: the multi-distinct rewrite Expands every input row ~9×
    before the widest aggregation; on the single-row-group testdata
    file that all ran on one core (measured 2.3 s → 1.6 s warm with
    the spread; a no-op on a real multi-split warehouse scan).  Every
    metric is an order-free aggregate, so the spread is safe."""
    orders = fan_out(load_table(spark, sf_dir, "orders"))
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    profiles = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(
        F.explode(F.array(*profiles)).alias("p")
    ).select("p.*")


_KMV_K = 1024  # rsd ~ 1/sqrt(K-2) ~ 3.1%
_H_MAX = float(16**15)  # hashes live in [0, 2^60)


@query(
    "quality_column_profile_approx",
    oracle=f"""
    WITH pairs AS (
      SELECT 'o_orderkey' AS column_name,
             CAST(o_orderkey AS VARCHAR) AS v FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
    ), hashed AS (
      SELECT DISTINCT column_name,
             CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
      FROM pairs WHERE v IS NOT NULL
    ), ranked AS (
      SELECT column_name, h,
             ROW_NUMBER() OVER (PARTITION BY column_name
                                ORDER BY h) AS rn
      FROM hashed
    ), sketch AS (
      SELECT column_name, MAX(h) AS kth, COUNT(*) AS n_seen
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY column_name
    )
    SELECT column_name,
           CASE WHEN n_seen < {_KMV_K} THEN n_seen
                ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_H_MAX!r}
                                / CAST(kth AS DOUBLE)) AS BIGINT)
           END AS n_distinct_est
    FROM sketch
    """,
)
def quality_column_profile_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-memory distinct profile: the 100× answer to
    ``quality_column_profile``'s four exact ``count_distinct`` columns
    (each adds an Expand branch; at scale the multi-distinct Expand is
    a 5× row blowup through the widest shuffle).

    A K-minimum-values sketch per column instead: keep the K smallest
    60-bit md5 hashes of the column's distinct values; if fewer than K
    distinct values exist the sketch IS exact, otherwise
    ``est = (K-1) * H_MAX / kth_smallest``.  State per column is K
    longs — mergeable (union of K-min sets, re-prune to K), shuffle is
    (column, hash) pairs only, never value payloads.

    Unlike ``approx_count_distinct`` (whose HLL++ register layout is
    engine-private, so DuckDB could never reproduce the number), every
    step here is portable-exact: the 15-hex-digit md5 prefix matches
    ``operators.reconcile.portable_fingerprint``; the estimator is one
    IEEE-754 double multiply+divide+floor, bit-identical on JVM and
    C++.  The approx plan therefore stays HASH-checked, not bound-
    checked — the repo's standard trick of making the approximation
    deterministic rather than weakening the oracle.

    Two-level top-K (per-salt then global) keeps the global window's
    per-column partition bounded at 64·K rows regardless of N.
    """
    from pyspark.sql import Window

    # fan_out: per-row work here is ~9 md5 hashes per input row (one
    # per profiled column) before the first exchange — serial on the
    # single-row-group testdata scan, a no-op on a real warehouse
    orders = fan_out(load_table(spark, sf_dir, "orders"))
    pairs = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*").filter(F.col("v").isNotNull())

    hashed = pairs.select(
        "column_name",
        md5_token_hash(F.col("v")).alias("h"),
    ).distinct()

    # local prune: each salt bucket yields its own K smallest, so the
    # global top-K (a subset of the union) survives; the global window
    # then ranks <= 64*K rows per column, not N
    salted = hashed.withColumn("salt", F.pmod(F.col("h"), F.lit(64)))
    w_local = Window.partitionBy("column_name", "salt").orderBy("h")
    w_global = Window.partitionBy("column_name").orderBy("h")
    pruned = (
        salted.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= _KMV_K)
        .withColumn("rng", F.row_number().over(w_global))
        .filter(F.col("rng") <= _KMV_K)
    )
    sketch = pruned.groupBy("column_name").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_seen")
    )
    est = F.when(F.col("n_seen") < _KMV_K, F.col("n_seen")).otherwise(
        F.floor(
            F.lit(float(_KMV_K - 1))
            * F.lit(_H_MAX)
            / F.col("kth").cast("double")
        ).cast("long")
    )
    return sketch.select(
        "column_name", est.cast("long").alias("n_distinct_est")
    )


@query(
    "quality_constraint_checks",
    oracle="""
    SELECT 'totalprice_positive' AS check_name,
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
             AS n_violations,
           COUNT(*) FILTER (WHERE o_totalprice <= 0) = 0 AS ok
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           CAST(COUNT(*) FILTER (
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
           COUNT(*) FILTER (
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')) = 0
    FROM orders
    UNION ALL
    SELECT 'custkey_fk_valid',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative invariants evaluated as data: non-negativity and
    domain checks fuse into one scan of orders; PK uniqueness is one
    distinct-agg; the FK check is a broadcast anti-join against
    customer (the engine's upsert/existence machinery, J7/J8,
    pointed at validation).  The reference's analog is its consensus
    checker (sql.py:1205-1316) — external oracle diff; these are the
    self-contained invariants a warehouse gates on."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    scan = orders.agg(
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("neg_price"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "dup_keys"
        ),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("bad_status"),
    )
    fk_violations = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("fk_bad"))
    )
    one = scan.crossJoin(fk_violations)
    checks = [
        ("totalprice_positive", F.col("neg_price")),
        ("orderkey_unique", F.col("dup_keys")),
        ("status_in_domain", F.col("bad_status")),
        ("custkey_fk_valid", F.col("fk_bad")),
    ]
    rows = [
        F.struct(
            F.lit(name).alias("check_name"),
            v.cast("long").alias("n_violations"),
            (v == 0).alias("ok"),
        )
        for name, v in checks
    ]
    return one.select(F.explode(F.array(*rows)).alias("c")).select("c.*")


# --------------------------------------------------------------------
# In-flight pipeline telemetry via df.observe: quality metrics
# accumulated DURING another query's only scan — zero additional
# passes.  The reference re-queries its tables after every block to
# report progress (``omniEngine.py:222-232`` prints counts from
# fresh SELECTs); at 100 TB a second scan per metric is the
# difference between one pass and two.  Observation metrics ride the
# task results of the main action, so the audit is free.
# --------------------------------------------------------------------
@query(
    "quality_observed_metrics",
    oracle="""
    WITH shipped AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                  AS DECIMAL(38,4)) AS order_value
      FROM lineitem
      WHERE l_returnflag <> 'R'
      GROUP BY l_orderkey
    )
    SELECT CAST((SELECT COUNT(*) FROM lineitem WHERE l_returnflag <> 'R')
                AS BIGINT) AS rows_scanned,
           CAST((SELECT COUNT(*) - COUNT(l_shipdate) FROM lineitem
                 WHERE l_returnflag <> 'R') AS BIGINT) AS null_shipdates,
           CAST((SELECT COUNT(*) FROM shipped) AS BIGINT) AS orders_out,
           CAST(CAST((SELECT SUM(order_value) FROM shipped) AS VARCHAR)
                AS DOUBLE) AS total_value
    """,
)
def quality_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a real aggregation (per-order shipped value) while
    ``df.observe`` accumulates audit metrics on the SAME scan —
    input rows, null ship dates, exact DECIMAL value mass — then
    return the metrics AS a one-row DataFrame checked against an
    oracle that recomputes them independently.  The output row count
    of the main query rides along as ``orders_out``, proving the
    observation covered the whole action."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") != "R"
    )
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).alias("null_shipdates"),
        F.sum(F.col("l_extendedprice").cast(DEC_18_4)).alias(
            "value_mass"
        ),
    )
    shipped = observed.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC_18_4)).alias(
            "order_value"
        )
    )
    orders_out = shipped.count()  # the one action; fills `obs`
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["rows_scanned"],
                m["null_shipdates"],
                orders_out,
                float(m["value_mass"]),
            )
        ],
        "rows_scanned long, null_shipdates long, orders_out long, "
        "total_value double",
    )


# --------------------------------------------------------------------
# Stats profile — exact interpolated quantiles (both engines use the
# (n−1)p linear interpolation, bit-identical) + decimal-exact mean.
# The approximate sibling (approx_percentile, t-digest class) is the
# 100 TB tool and is rows-only checked below.
# --------------------------------------------------------------------
@query(
    "stats_value_profile",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           MIN(value) AS lo,
           MAX(value) AS hi,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                AS DOUBLE) / COUNT(*) AS mean_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stats_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        (
            F.sum(F.col("value").cast(DEC_18_4)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
    )


# Sketch plans: HLL/KLL internals are engine-specific, so the raw
# estimates cannot hash-match a DuckDB oracle.  Instead the plan runs
# the sketch FOR REAL and emits its accuracy contract alongside the
# exact value — the oracle states the exact value and `TRUE`, so the
# driver's hash gate verifies both the exact arithmetic and that the
# sketch met its error bound (the recall-gate pattern the ANN plans
# use for their approximate paths).
@query(
    "stats_value_profile_approx",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           TRUE AS p50_ok,
           TRUE AS p95_ok,
           TRUE AS nd_ok
    FROM events
    GROUP BY event_type
    """,
)
def stats_value_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.95), 2000)").alias(
            "p_approx"
        ),
        # rsd pinned well under the 5% gate: the default (~5%) lands
        # right on the bound and broke it at sf0.1 (scale_parity find);
        # 0.02 holds ~0.4% error at a quarter of 0.01's sketch cost
        F.approx_count_distinct("user_id", rsd=0.02).alias("nd_users"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile(value, 0.95)").alias("p95_exact"),
        F.count(F.lit(1)).alias("n"),
    )
    # exact distinct as a separate two-level agg joined back on the
    # tiny group frame: count_distinct alongside buffer aggs plans an
    # Expand that drags every percentile/HLL buffer through the
    # multi-stage distinct path — measured 3× the SUM of the aggs
    # run separately at sf5 (e=+1.73 in the soak); split, each agg
    # keeps its map-side partials and the plan is back to linear
    nd = (
        ev.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("nd_exact"))
    )
    agg = base.join(nd, "event_type")

    def close(a, b, tol):  # |a-b| <= tol·(|b|+1)
        return F.abs(a - b) <= tol * (F.abs(b) + F.lit(1.0))

    return agg.select(
        "event_type",
        "n",
        close(F.element_at("p_approx", 1), F.col("p50_exact"), 0.05).alias(
            "p50_ok"
        ),
        close(F.element_at("p_approx", 2), F.col("p95_exact"), 0.05).alias(
            "p95_ok"
        ),
        (
            F.abs(F.col("nd_users") - F.col("nd_exact"))
            <= 0.05 * F.col("nd_exact")
        ).alias("nd_ok"),
    )


# --------------------------------------------------------------------
# A16 — fixed-width histogram (the profiling primitive behind the
# reference's TxStats per-block rollup, sql.py:238-312, generalized
# to value distributions).  One shuffle of |buckets| rows; the bucket
# expression folds into whole-stage codegen.
# --------------------------------------------------------------------
@query(
    "stats_value_histogram",
    oracle="""
    SELECT
      LEAST(CAST(FLOOR(value / 25) AS INTEGER), 19) AS bucket,
      CAST(LEAST(CAST(FLOOR(value / 25) AS INTEGER), 19) * 25.0 AS DOUBLE)
        AS bucket_lo,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stats_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / 25), F.lit(19).cast("long")
    )
    return (
        ev.groupBy(
            bucket.alias("bucket"),
            (bucket * 25.0).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec_18_4("value")).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------
# A17 — grouped exact quantiles (per-group stats_value_profile; both
# engines compute the same linear-interpolated order statistic).  At
# scale the exact form needs the full group sorted — the
# approx_percentile sibling (stats_value_profile_approx) is the
# mergeable-sketch path; this is the correctness gate for it.
# --------------------------------------------------------------------
@query(
    "stats_grouped_quantiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stats_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------
# Count-min sketch heavy hitters: the fixed-memory frequency sketch
# (D=4 rows × W=256 buckets of BIGINT, mergeable by addition) probed
# for the top spenders.  At 100 TB the sketch is a map-side-combined
# groupBy over D·W cells — constant state per executor regardless of
# key cardinality — where the exact per-key count it replaces would
# shuffle every distinct key.  Hashes are md5-derived (engine-
# independent), so the oracle rebuilds the IDENTICAL sketch: both the
# estimates and the guaranteed-overcount property are hash-checked,
# the accuracy-gate pattern with zero tolerance.
# --------------------------------------------------------------------
_CM_D, _CM_W = 4, 256


def _cm_hash_sql(j: int) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5({j} || ':' || "
        f"CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) % {_CM_W} "
        f"AS BIGINT)"
    )


@query(
    "stats_countmin_heavy_hitters",
    oracle=f"""
    WITH p AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
    ), cells AS (
      SELECT j, h, COUNT(*) AS c
      FROM p CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(j),
      LATERAL (SELECT CASE j
        WHEN 0 THEN {_cm_hash_sql(0)}
        WHEN 1 THEN {_cm_hash_sql(1)}
        WHEN 2 THEN {_cm_hash_sql(2)}
        ELSE {_cm_hash_sql(3)} END AS h)
      GROUP BY j, h
    ), probes AS (
      SELECT DISTINCT user_id,
             {_cm_hash_sql(0)} AS h0, {_cm_hash_sql(1)} AS h1,
             {_cm_hash_sql(2)} AS h2, {_cm_hash_sql(3)} AS h3
      FROM p
    ), est AS (
      SELECT pr.user_id,
             LEAST(c0.c, c1.c, c2.c, c3.c) AS cm_estimate
      FROM probes pr
      JOIN cells c0 ON c0.j = 0 AND c0.h = pr.h0
      JOIN cells c1 ON c1.j = 1 AND c1.h = pr.h1
      JOIN cells c2 ON c2.j = 2 AND c2.h = pr.h2
      JOIN cells c3 ON c3.j = 3 AND c3.h = pr.h3
    ), exact AS (
      SELECT user_id, COUNT(*) AS n_exact FROM p GROUP BY user_id
    )
    SELECT e.user_id, e.cm_estimate, x.n_exact,
           e.cm_estimate >= x.n_exact AS never_undercounts
    FROM est e JOIN exact x ON e.user_id = x.user_id
    ORDER BY e.cm_estimate DESC, e.user_id
    LIMIT 20
    """,
)
def stats_countmin_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
    )

    def h(j: int) -> F.Column:
        return (
            md5_token_hash(
                F.concat(F.lit(f"{j}:"), F.col("user_id").cast("string")),
                32,
            )
            % _CM_W
        )

    # the sketch: one explode into (j, h) cells, map-side combined to
    # at most D·W rows before the shuffle
    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), h(j).alias("h")
                        )
                        for j in range(_CM_D)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.h").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )

    probes = ev.distinct().select(
        "user_id", *[h(j).alias(f"h{j}") for j in range(_CM_D)]
    )
    est = probes
    for j in range(_CM_D):
        cj = cells.filter(F.col("j") == j).select(
            F.col("h").alias(f"h{j}"), F.col("c").alias(f"c{j}")
        )
        est = est.join(F.broadcast(cj), f"h{j}")
    est = est.select(
        "user_id",
        F.least(*[F.col(f"c{j}") for j in range(_CM_D)]).alias(
            "cm_estimate"
        ),
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "cm_estimate",
            "n_exact",
            (F.col("cm_estimate") >= F.col("n_exact")).alias(
                "never_undercounts"
            ),
        )
        .orderBy(F.col("cm_estimate").desc(), "user_id")
        .limit(20)
    )


# --------------------------------------------------------------------
# Mergeable sketches: per-shard HLL partials unioned into one global
# estimate — THE property that makes sketches matter at 100 TB: each
# partition/day/executor builds its own fixed-size sketch once, and
# any rollup (day → month, shard → global) is a cheap union of
# partials with NO rescan of raw data, unlike exact COUNT DISTINCT
# whose partials are unbounded key sets.  Accuracy-gate oracle: the
# merged estimate must land within the configured error of the exact
# answer, per event type.
# --------------------------------------------------------------------
@query(
    "stats_hll_merge",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           COUNT(DISTINCT event_id % 8) AS n_shards,
           TRUE AS merged_ok
    FROM events
    GROUP BY event_type
    """,
)
def stats_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (F.col("event_id") % 8).alias("shard"),
    )
    partials = ev.groupBy("event_type", "shard").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch")
    )
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sketch")
        ).alias("n_est"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "n_shards",
        (
            F.abs(F.col("n_est") - F.col("n_exact"))
            <= 0.02 * F.col("n_exact")
        ).alias("merged_ok"),
    )
