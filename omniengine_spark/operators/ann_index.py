"""Persistent, reusable IVF index: build / query / incremental append.

Every ``sim_*`` plan through round 7 rebuilt its index inside the
query — fine for a correctness gate, wrong for a serving pipeline
where ONE index amortizes over thousands of queries.  This module
splits the portable seeded-IVF design
(``similarity.ivf_ann_topk_portable``) into its lifecycle stages and
persists the index as versioned warehouse tables
(``sources.versioned``):

    <root>/centroids   (cluster, cvec, cnrm)            — k rows
    <root>/lists       (cluster, nbr_id, nbr_vec, nbr_nrm)
                       partitioned by cluster           — N rows

Query-time the probe side is a broadcast of k centroid rows and the
list scan touches only ``nprobe`` of ``k`` cluster partitions —
partition pruning straight off the parquet layout, the actual 100 TB
serving shape (a full rebuild per query scans N·k; a persisted-index
query scans N·nprobe/k plus k·d floats).

Incremental append is assign-only: new vectors are assigned to the
FROZEN persisted centroids (never re-seeded — re-seeding would
reshuffle every existing list), and the appended snapshot commits as
the next table version.  ``append == full-assignment-with-same-
centroids`` holds exactly because per-vector assignment is
independent; tests/test_similarity.py pins it.

Everything stays oracle-reproducible: the quantizer is the same
md5-seeded selection, assignment/probing/rescoring are the same
codegen cosine folds, and parquet round-trips doubles exactly — so a
DuckDB oracle that rebuilds the index from the same seeds reproduces
the identical persisted-index query result.

Reference: the reference has no index lifecycle at all (it re-derives
state per query, ``sql.py:85-218``); this is the capability a 100 TB
similarity deployment adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from omniengine_spark.operators.dedup import md5_token_hash
from omniengine_spark.operators.similarity import _dot, _norm


def seeded_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
) -> DataFrame:
    """The portable deterministic quantizer: centroids are the
    ``n_clusters`` vectors with the md5-smallest ids — no Lloyd
    averaging, so no float-accumulation ordering to diverge between
    engines.  (cluster, cvec, cnrm)."""
    h = md5_token_hash(F.col(id_col).cast("string"))
    return (
        vectors.select(
            F.col(id_col).alias("cluster"),
            F.col(vec_col).alias("cvec"),
            h.alias("h"),
        )
        .orderBy("h", "cluster")
        .limit(n_clusters)
        .select("cluster", "cvec", _norm(F.col("cvec")).alias("cnrm"))
    )


def assign_lists(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted lists: each vector joins its single nearest centroid
    (cosine desc, cluster asc).  Assign-only by design: works
    identically for the initial build and for appending a new shard
    against FROZEN centroids.  (cluster, nbr_id, nbr_vec, nbr_nrm).

    The argmax is a ``max_by`` aggregation, NOT a row_number window.
    The window shuffles ALL N·k candidate rows (vector payloads
    included) and sorts them per partition — at 500k vectors × 475
    centroids a 214M-row exchange.  ``max_by`` plans as a
    SortAggregate (struct-keyed aggregates have no mutable buffer),
    but with PARTIAL aggregation: each task collapses its k candidate
    rows per vector to one BEFORE the exchange, so only N rows
    shuffle.  Measured at the 100k-vector rung: 5.8 s → 1.1 s
    (min-of-2, same box) — 5× from shuffle-volume alone.  Tie
    semantics are identical to ``ORDER BY csim DESC, cluster ASC``:
    the ordering key is ``struct(csim, -cluster)``, unique per
    (vector, centroid) because the negated cluster id breaks csim
    ties — bit-for-bit the oracle's ROW_NUMBER pick, NaN ordering
    included (Spark ranks NaN greatest in both code paths)."""
    v = vectors.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nbr_vec"),
        _norm(F.col(vec_col)).alias("nbr_nrm"),
    )
    csim = _dot(F.col("nbr_vec"), F.col("cvec")) / (
        F.col("nbr_nrm") * F.col("cnrm")
    )
    key = F.struct(
        csim.alias("csim"), (-F.col("cluster")).alias("negc")
    )
    val = F.struct(
        F.col("cluster").alias("cluster"),
        F.col("nbr_vec").alias("nbr_vec"),
        F.col("nbr_nrm").alias("nbr_nrm"),
    )
    return (
        v.crossJoin(F.broadcast(centroids))
        .select("nbr_id", key.alias("k"), val.alias("v"))
        .groupBy("nbr_id")
        .agg(F.max_by("v", "k").alias("best"))
        .select(
            F.col("best.cluster").alias("cluster"),
            "nbr_id",
            F.col("best.nbr_vec").alias("nbr_vec"),
            F.col("best.nbr_nrm").alias("nbr_nrm"),
        )
    )


def query_index(
    queries: DataFrame,
    centroids: DataFrame,
    lists: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k over a (persisted) IVF index: queries pick their
    ``nprobe`` nearest cells from the broadcast centroid table, join
    only those inverted lists (partition-prunable on ``cluster``),
    exact-rescore, rank.  Bit-identical to
    ``ivf_ann_topk_portable``'s probe half — same folds, same tie
    rules — so the same SQL oracle checks both."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        _norm(F.col(vec_col)).alias("query_nrm"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cluster").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "query_vec",
            "query_nrm",
            "cluster",
            (
                _dot(F.col("query_vec"), F.col("cvec"))
                / (F.col("query_nrm") * F.col("cnrm"))
            ).alias("csim"),
        )
        .withColumn("arank", F.row_number().over(wq))
        .filter(F.col("arank") <= nprobe)
        .select("query_id", "query_vec", "query_nrm", "cluster")
    )
    # each vector sits in exactly one list, so a query meets each
    # neighbor at most once — no dedup shuffle needed
    scored = (
        probes.join(lists, "cluster")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            (
                _dot(F.col("query_vec"), F.col("nbr_vec"))
                / (F.col("query_nrm") * F.col("nbr_nrm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "score")
    )


def in_cluster_drops(
    a: DataFrame, b: DataFrame, threshold: float
) -> DataFrame:
    """SemDeDup drop set over (cluster, nbr_id, nbr_vec, nbr_nrm)
    list frames: for every same-cluster pair with cosine ≥ threshold,
    the GREATER id drops.  ``a`` = ``b`` gives the classic in-cluster
    pass; ``a`` = a shard's lists and ``b`` = the full lists gives the
    incremental pass (every new pair has a shard member, and ids-
    differ + greatest-id normalization covers both orientations in
    ONE scan of the big frame).  Drops are MONOTONE — a vector once
    dropped can never be un-dropped by later ingests (new vectors add
    pairs, never remove them) — which is what lets an incremental
    pipeline persist drops as append-only deltas."""
    pair_sim = _dot(F.col("a.nbr_vec"), F.col("b.nbr_vec")) / (
        F.col("a.nbr_nrm") * F.col("b.nbr_nrm")
    )
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.nbr_id") != F.col("b.nbr_id")),
        )
        .filter(pair_sim >= threshold)
        .select(
            F.greatest("a.nbr_id", "b.nbr_id").alias("vec_id")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Persistent multi-probe LSH index — the serving-shaped counterpart
# of ``similarity.lsh_ann_topk``.  Both key their vectors through
# ``lsh_keyed`` below, the one copy of the bucket keying (plane dots,
# home bucket, multi-probe flips).  The one-shot plan keys the WHOLE
# corpus inside each query (its "index" and its answer are the same
# self-join); here the bucket entries are built once, persisted as a
# versioned warehouse table, and each query batch probes only its
# home + multi-probe buckets.
#
# Two things must FREEZE with the index or every persisted key goes
# stale:
#   * the hyperplanes (md5-derived from the seed — already frozen by
#     construction), and
#   * the ACTIVE BIT COUNT.  The one-shot plan adapts
#     n_act = max(4, ceil(log2(N/64))) to the data it sees; an index
#     that re-derived n_act on append would re-key EVERY existing
#     entry the moment the corpus crossed a power-of-two boundary
#     (the IVF analogue is re-seeding centroids).  ``lsh_active_bits``
#     is computed from the BASE corpus at build time, recorded in the
#     commit tag, and appends assign against it — per-shard cost is
#     |shard|·T·n_act dots, never N·anything.
#
# Physical layout: entries partition by (t, shard) where shard is the
# TOP ``shard_bits`` active bits of the bucket — so the directory
# count is T·2^shard_bits (64 at the defaults) at ANY corpus size,
# while bucket order within a shard keeps parquet row-group stats
# tight.  A query batch's probe set covers at most
# T·(1+n_probes)·|batch| (t, shard) pairs, and ``lsh_query_index``
# turns that set into a static partition-column predicate — the scan
# prunes to the probed directories at planning time, the same
# file-level skipping contract as the IVF cluster partitions.
#
# Reference: no index lifecycle exists in the reference (state is
# re-derived per query, sql.py:85-218); this is the 100 TB serving
# capability added on top, mirrored on sim_ivf_index_*.
# ---------------------------------------------------------------------------


def lsh_active_bits(
    n: int, occupancy: int = 64, floor_bits: int = 4
) -> int:
    """Python twin of ``similarity.adaptive_planes_sql`` — the
    smallest p with 2^p >= ceil(n / occupancy), floored.  Must track
    the SQL fragment exactly (same ceil-div, same bin-length-of-zero
    = 1 edge) so a frozen index and its oracle agree on the mask."""
    m = max((n + occupancy - 1) // occupancy, 1)
    return max(floor_bits, (m - 1).bit_length() or 1)


def lsh_keyed(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_tables: int = 4,
    n_act: int = 4,
    n_probes: int = 0,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, vec, nrm, t, bucket, home) rows under FROZEN planes
    and a FROZEN active-bit count: the home bucket per table, plus
    the ``n_probes`` Hamming-adjacent probe buckets (lowest-|margin|
    active bits flipped, Lv et al.) when asked.  The one LSH keying:
    the one-shot ``similarity.lsh_ann_topk``, the persisted entry
    table and its query side all call it.  Same md5 planes, same
    zip_with/aggregate dot folds, same (|margin|, plane) sort as the
    SQL oracles, so they rebuild the keys exactly.

    ``deterministic_planes`` hashes (seed, plane, component) only, so
    generating just the first ``n_act`` planes yields the identical
    constants the oracles' 16-plane keys mask down to."""
    from omniengine_spark.operators.similarity import (
        deterministic_planes,
    )

    # backtick-escape the caller-supplied column name before SQL-string
    # interpolation (Spark quoted-identifier escaping: ` -> ``)
    vec_q = vec_col.replace("`", "``")

    def dots_arr(t: int) -> F.Column:
        # ONE parsed SQL expression per table instead of n_act·dim
        # F.lit() py4j calls: the same fold (zip_with → aggregate,
        # same operand order, double literals that round-trip exactly
        # — plane components are multiples of 2^-15), but expression
        # construction drops from ~4500 py4j round trips (measured
        # 15-31 s of driver-side build for 4 tables × 16 planes × 64
        # dims) to n_tables parses.  The dots land in an array column
        # first, so each fold runs once per (vector, table) and the
        # bucket bits (dot >= 0) and probe margins share its doubles.
        planes = deterministic_planes(seed + t, n_act, dim)

        def fold(p: int) -> str:
            arr = ",".join(f"{c!r}D" for c in planes[p])
            return (
                f"aggregate(zip_with(`{vec_q}`, array({arr}), "
                "(x, h) -> CAST(x AS DOUBLE) * h), 0.0D, "
                "(acc, x) -> acc + x)"
            )

        return F.expr(
            "array(" + ",".join(fold(p) for p in range(n_act)) + ")"
        )

    dotted = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
        *[dots_arr(t).alias(f"dots{t}") for t in range(n_tables)],
    )

    def home_bucket(t: int) -> F.Column:
        # same OR-of-sign-bits integer expression, one parse per table
        ors = " | ".join(
            f"(CASE WHEN element_at(`dots{t}`, {p + 1}) >= 0 "
            f"THEN CAST({1 << p} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for p in range(n_act)
        )
        return F.expr(f"({ors})")

    for t in range(n_tables):
        dotted = dotted.withColumn(f"bkt{t}", home_bucket(t))

    def probe_buckets(t: int) -> F.Column:
        # (|margin|, plane, mask) structs of the active planes, sorted
        # ascending — ties impossible past the plane index, so every
        # engine picks the identical flip set
        structs = ",".join(
            f"struct(abs(element_at(`dots{t}`, {p + 1})) AS d, "
            f"{p} AS p, CAST({1 << p} AS BIGINT) AS m)"
            for p in range(n_act)
        )
        return F.expr(
            f"transform(slice(array_sort(array({structs})), 1, "
            f"{n_probes}), x -> `bkt{t}` ^ x.m)"
        )

    tb_arrays = [
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    F.col(f"bkt{t}").alias("bucket"),
                    F.lit(True).alias("home"),
                )
                for t in range(n_tables)
            ]
        )
    ]
    if n_probes > 0:
        # closure factory, not `lambda b, t=t`: a two-parameter
        # lambda under F.transform receives (element, index) and the
        # array INDEX would silently replace the table id
        def probe_struct(tt: int):
            return lambda b: F.struct(
                F.lit(tt).alias("t"),
                b.alias("bucket"),
                F.lit(False).alias("home"),
            )

        tb_arrays += [
            F.transform(probe_buckets(t), probe_struct(t))
            for t in range(n_tables)
        ]
    return dotted.select(
        "vec_id",
        "vec",
        "nrm",
        F.explode(F.concat(*tb_arrays)).alias("tb"),
    ).select("vec_id", "vec", "nrm", "tb.t", "tb.bucket", "tb.home")


def _shard_of(bucket: F.Column, n_act: int, shard_bits: int) -> F.Column:
    shift = max(0, n_act - shard_bits)
    return F.shiftright(bucket, shift).cast("long")


def lsh_entry_table(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_tables: int = 4,
    n_act: int = 4,
    shard_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """The persistable index content: one HOME-bucket row per
    (vector, table) — (t, shard, bucket, nbr_id, nbr_vec, nbr_nrm).
    Works identically for the initial build and for appending a new
    shard (same frozen planes + n_act), so append == rebuild row-set
    exactly; per-row key assignment is independent of every other
    row."""
    keyed = lsh_keyed(
        vectors,
        id_col,
        vec_col,
        n_tables=n_tables,
        n_act=n_act,
        n_probes=0,
        seed=seed,
        dim=dim,
    )
    return keyed.select(
        "t",
        _shard_of(F.col("bucket"), n_act, shard_bits).alias("shard"),
        "bucket",
        F.col("vec_id").alias("nbr_id"),
        F.col("vec").alias("nbr_vec"),
        F.col("nrm").alias("nbr_nrm"),
    )


def lsh_query_index(
    queries: DataFrame,
    entries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_tables: int = 4,
    n_act: int = 4,
    n_probes: int = 2,
    k: int = 5,
    shard_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Top-k over a persisted LSH entry table: each query probes its
    home + ``n_probes`` buckets per table, candidates are the entries
    in those buckets (asymmetric — the serving form: the index stores
    home keys only), exact cosine rescore, rank.

    The query batch's probe set collapses to its distinct (t, shard,
    bucket) triples — a k-bounded collect,
    <= T·(1+n_probes)·|batch| rows — and pushes them as TWO static
    predicates: the (t, shard) disjunction prunes partition
    DIRECTORIES at planning time, and the per-table bucket IN-list is
    an ordinary data filter that reaches the parquet scan, so
    row-group stats skip within the kept files (the entry writer
    sorts each (t, shard) file by bucket — see ``_lsh_index_tables``
    — keeping those stats tight).  A dynamic equi-join alone
    guarantees neither.  Net: bytes touched per query batch is
    bounded by the probed buckets' occupancy, not by the directory
    (let alone table) size.  Correctness never depends on it: the
    bucket equi-join re-filters exactly."""
    qk = lsh_keyed(
        queries,
        id_col,
        vec_col,
        n_tables=n_tables,
        n_act=n_act,
        n_probes=n_probes,
        seed=seed,
        dim=dim,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("query_vec"),
        F.col("nrm").alias("query_nrm"),
        "t",
        _shard_of(F.col("bucket"), n_act, shard_bits).alias("shard"),
        "bucket",
    )
    probed: dict[int, set[int]] = {}
    all_buckets: set[int] = set()
    for r in qk.select("t", "shard", "bucket").distinct().collect():
        probed.setdefault(r["t"], set()).add(r["shard"])
        all_buckets.add(r["bucket"])
    # two SEPARATE predicates on purpose: a disjunct mixing
    # partition and data columns cannot be split by the planner
    # and would fall through to post-scan data filters, losing
    # the directory pruning.  Pure partition-column disjunction
    # -> PartitionFilters (dir pruning); pure single-column
    # bucket IN-list -> PushedFilters (parquet row-group stats;
    # union across tables is looser than per-table sets, but the
    # bucket equi-join re-filters exactly).
    pred = None
    for t, shards in sorted(probed.items()):
        clause = (F.col("t") == t) & F.col("shard").isin(
            *sorted(shards)
        )
        pred = clause if pred is None else (pred | clause)
    if pred is not None:
        entries = entries.filter(pred).filter(
            F.col("bucket").isin(*sorted(all_buckets))
        )
    scored = (
        qk.join(entries, ["t", "shard", "bucket"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            (
                _dot(F.col("query_vec"), F.col("nbr_vec"))
                / (F.col("query_nrm") * F.col("nbr_nrm"))
            ).alias("score"),
        )
        # a pair colliding in several tables/probes folds the SAME
        # doubles each time — distinct collapses it to one row
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "score")
    )
