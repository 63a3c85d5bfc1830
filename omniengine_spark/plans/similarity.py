"""Similarity-search plans over ``embeddings``
(operators in operators/similarity.py).

The brute-force plan is the exact baseline (bit-exact cosine: both
engines fold doubles left-to-right).  Every approximate path —
multi-table LSH, seeded IVF, PQ with re-rank, IVF-PQ — is ALSO
exactly oracle-checked: their quantizers are deterministic constants
or md5-seeded selections, so DuckDB rebuilds the identical index and
reproduces the identical approximate result.  Recall floors vs the
exact baseline are pinned in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.operators import ann_index as AI
from omniengine_spark.operators import similarity as S
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import fan_out, load_table
from omniengine_spark.sources.catalog import footers, session_memo

_N_QUERIES = 20  # first N vec_ids serve as the query set
_K = 5

# The PQ plans derive their re-rank shortlist depth, and the one-shot
# LSH plan its active bit count, from the corpus row count.  Read it
# from the parquet FOOTER (driver-side metadata, ~ms, no Spark job and
# no cross-call memo of a query result — the r11 review flagged the
# old per-sf_dir count() cache as skirting the "no result caching
# keyed on the testdata" line).  Falls back to a count() job for
# non-parquet/unreadable inputs; either way it is the COUNT(*) the
# oracle recomputes at query time.
def _emb_count(emb: DataFrame, sf_dir: str) -> int:
    try:
        return sum(
            md.num_rows for _, md in footers(f"{sf_dir}/embeddings.parquet")
        )
    except (OSError, ValueError):  # missing path, not parquet
        return emb.count()


@query(
    "sim_bruteforce_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
      SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_N_QUERIES}
    ), scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(e.v, e.v))) AS score
      FROM q JOIN e ON q.vec_id <> e.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {_K}
    """,
)
def sim_bruteforce_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: encode/gemm work runs before the first exchange — a
    # single-row-group input file would serialize it onto one core
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=_K)
    return out.withColumn("rank", F.col("rank").cast("int"))


# LSH planes are md5-derived constants (operators/similarity.py:
# deterministic_planes) — identical literals inlined into the Spark
# plan and the oracle, so the approximate result is still exactly
# checkable: same buckets, same candidates, same exact rescoring.
# Multi-table LSH: one table of p planes demands agreement on ALL p
# bits (recall@5 ≈ 0.17 on this near-isotropic data); with T
# independent tables a candidate needs a collision in ANY table
# (4×4 planes ≈ 0.41 recall at a ~22% scan fraction).  Each table's
# planes are md5-derived from seed 42+t, so the oracle rebuilds
# identical buckets and the approximate result stays exactly
# checkable.
# MULTI-PROBE (round 7): each vector additionally probes the
# _N_PROBES Hamming-adjacent buckets from flipping its
# lowest-|margin| active bits; candidates are the symmetric closure
# of probe∪home containment (operators/similarity.py:lsh_ann_topk).
# Measured at sf0.1: recall@5 0.26 → 0.60 for ~1.6× wall clock —
# probes reuse the table's dot folds, so recall-per-candidate beats
# adding tables.  NOTE: sim_ivf_ann_topk remains the named ANN scale
# default — it dominates LSH on BOTH recall and latency at every
# measured rung (tools/ann_recall.json); this plan is the
# data-independent-index alternative (no seed-vector dependence).
_N_TABLES = 4
_N_PROBES = 2
_DIM = 64
# occupancy-adaptive bits (ann_index.lsh_active_bits, twin of the
# oracle's operators.similarity.adaptive_planes_sql):
# n_act = max(4, ceil(log2(N/64))), capped at _MAX_PLANES because the
# oracle keys with that many planes — at the sf0.01 gate n_act is 4
# (bit-identical to the fixed-plane round-4 plan); at sf1 it is 9,
# pinning bucket occupancy ~64 and candidate volume ∝ N·T (the fixed
# constant measured e≈+1.34 at sf0.1→sf1).  16 planes cover
# N ≤ 64·2^16 ≈ 4.2M vectors.
_MAX_PLANES = 16
_OCCUPANCY = 64


def _plane_lit(p: list[float]) -> str:
    return "[" + ", ".join(repr(c) for c in p) + "]"


def _bucket_sql(seed: int) -> str:
    planes = S.deterministic_planes(
        seed=seed, n_planes=_MAX_PLANES, dim=_DIM
    )
    bits = " | ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_lit(planes[p])}) >= 0 "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {p})"
        for p in range(_MAX_PLANES)
    )
    return f"(({bits}) & (SELECT two_p - 1 FROM n))"


_TABLE_KEYS = ",\n             ".join(
    f"{_bucket_sql(42 + t)} AS k{t}" for t in range(_N_TABLES)
)


def _probe_sql(seed: int, t: int) -> str:
    """Multi-probe bucket list for table ``t``: (|margin|, plane,
    mask) structs over all _MAX_PLANES planes, filtered to the active
    bits, sorted ascending (ties break on the plane index — both
    engines compare struct fields left-to-right), first _N_PROBES
    flipped onto the home key.  Mirrors ann_index.lsh_keyed's
    probe_buckets exactly: same doubles, same sort, same xor."""
    planes = S.deterministic_planes(
        seed=seed, n_planes=_MAX_PLANES, dim=_DIM
    )
    structs = ", ".join(
        f"{{'d': abs(list_dot_product(v, {_plane_lit(planes[p])})),"
        f" 'p': {p}, 'm': CAST({1 << p} AS BIGINT)}}"
        for p in range(_MAX_PLANES)
    )
    return (
        f"list_transform(list_sort(list_filter([{structs}], "
        f"x -> x.p < n_act))[1:{_N_PROBES}], x -> xor(k{t}, x.m))"
    )


_TABLE_PROBES = ",\n             ".join(
    f"{_probe_sql(42 + t, t)} AS pr{t}" for t in range(_N_TABLES)
)
# symmetric closure: a and c collide if their home buckets match in
# any table OR either one's probe set contains the other's home
_TABLE_MATCH = " OR ".join(
    f"a.k{t} = c.k{t}"
    f" OR list_contains(a.pr{t}, c.k{t})"
    f" OR list_contains(c.pr{t}, a.k{t})"
    for t in range(_N_TABLES)
)
_N_CTE = (
    "SELECT two_p, CAST(length(bin(two_p - 1)) AS INT) AS n_act"
    " FROM (SELECT CAST(1 AS BIGINT) << CAST("
    + S.adaptive_planes_sql("COUNT(*)", _OCCUPANCY)
    + " AS INT) AS two_p FROM e)"
)


@query(
    "sim_lsh_ann_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      {_N_CTE}
    ), b AS (
      SELECT vec_id, v,
             {_TABLE_KEYS}
      FROM e
    ), b2 AS (
      SELECT vec_id, v, {", ".join(f"k{t}" for t in range(_N_TABLES))},
             {_TABLE_PROBES}
      FROM b CROSS JOIN n
    ), cand AS (
      SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS nbr_id
      FROM b2 a JOIN b2 c
        ON ({_TABLE_MATCH}) AND a.vec_id <> c.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.nbr_id,
             list_dot_product(qa.v, nb.v)
               / (sqrt(list_dot_product(qa.v, qa.v))
                  * sqrt(list_dot_product(nb.v, nb.v))) AS score
      FROM cand
      JOIN e qa ON qa.vec_id = cand.query_id
      JOIN e nb ON nb.vec_id = cand.nbr_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {_K}
    """,
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DEMOTED for scale — ``sim_ivf_ann_topk`` is the named ANN
    # default (COVERAGE.md §ANN).  Hyperplane LSH on CLUSTERED
    # embeddings is bucket-bound: random hyperplanes through
    # correlated data leave a constant FRACTION of each cluster in
    # one bucket, so candidate mass grows ~N² whatever the plane
    # count (round-6 recall 0.16/0.10 at sf1/sf5; round-7 multi-probe
    # lifts recall ~2.3× but the rv soak still measured e=+1.01
    # sf1→sf5 with the suite's worst absolute latency, and the
    # 500k-vector rung exceeds any reasonable budget).  Kept as the
    # LOW-LATENCY/small-N path and as the oracle-checked reference
    # implementation of multi-probe LSH.
    #
    # fan_out: the inline-scored bucket join computes its hyperplane
    # folds and pair scores BEFORE the first exchange, so the
    # single-row-group testdata file would serialize all of it onto
    # one core (a no-op on a real multi-split warehouse scan)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    out = S.lsh_ann_topk(
        emb,
        "vec_id",
        "embedding",
        k=_K,
        n_act=min(
            AI.lsh_active_bits(_emb_count(emb, sf_dir), _OCCUPANCY),
            _MAX_PLANES,
        ),
        dim=_DIM,
        n_tables=_N_TABLES,
        n_probes=_N_PROBES,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


_MD5_ID_HASH = """
      CAST(list_sum(
        [CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(vec_id AS VARCHAR)), i, 1)) - 1
              AS BIGINT) << (4 * (15 - i)) for i in range(1, 16)])
        AS BIGINT)
"""


def _ivf_oracle(seed_where: str = "", k_sql: str = "16") -> str:
    """The portable-IVF oracle, parameterized by an optional
    restriction on which vectors may SEED centroids (the append
    plan freezes centroids to the base corpus) and by the centroid
    count (a constant for the one-shot plan; the persisted-index
    plans pass the adaptive max(16, ceil(sqrt(N/2))) as a subquery
    over the seed-eligible set).  Assignment, probing, and rescoring
    are always over the full table."""
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), hh AS (
      SELECT vec_id, v, {_MD5_ID_HASH} AS h FROM e {seed_where}
    ), seeds AS (
      SELECT vec_id AS cluster, v AS cvec FROM hh ORDER BY h, cluster
      LIMIT ({k_sql})
    ), asg AS (
      SELECT e.vec_id AS nbr_id, e.v AS nbr_vec, s.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.v', 's.cvec')} DESC, s.cluster ASC)
               AS arank
      FROM e CROSS JOIN seeds s
    ), lists AS (
      SELECT nbr_id, nbr_vec, cluster FROM asg WHERE arank = 1
    ), q AS (
      SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_N_QUERIES}
    ), qasg AS (
      SELECT q.vec_id AS query_id, q.v AS query_vec, s.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.v', 's.cvec')} DESC, s.cluster ASC)
               AS arank
      FROM q CROSS JOIN seeds s
    ), probes AS (
      SELECT query_id, query_vec, cluster FROM qasg WHERE arank <= 4
    ), scored AS (
      SELECT p.query_id, l.nbr_id,
             {_cos_sql('p.query_vec', 'l.nbr_vec')} AS score
      FROM probes p JOIN lists l ON p.cluster = l.cluster
      WHERE p.query_id <> l.nbr_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {_K}
    """


@query(
    "sim_ivf_ann_topk",
    # Portable IVF (operators/similarity.py:ivf_ann_topk_portable):
    # md5-seeded centroids, no Lloyd averaging, so the oracle rebuilds
    # the identical index and the approximate result is exactly
    # checkable.  The kmeans gemm variant keeps its recall pin in
    # tests/test_similarity.py.
    oracle=_ivf_oracle(),
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: encode/gemm work runs before the first exchange — a
    # single-row-group input file would serialize it onto one core
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = S.ivf_ann_topk_portable(
        emb, queries, "vec_id", "embedding",
        k=_K, n_clusters=16, nprobe=4,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# PQ — the memory-bounded ANN scale path: vectors quantize to M small
# codes (operators/similarity.py pq_* for the design notes), search
# scans reconstructions instead of raw vectors, and a per-query ADC
# shortlist gets an exact cosine re-rank (the standard two-pass;
# measured recall@5 ≈ 0.75 at a 5% exact-scan fraction on this
# near-isotropic data).  Codebooks are DATA-SEEDED — the md5-smallest
# ids' normalized subvectors, the same deterministic seed trick the
# IVF plan uses — so the DuckDB oracle rebuilds the identical index
# and the whole encode → ADC → re-rank pipeline is exactly checkable.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_SUBDIM = 8, 16, 8
# ADC-shortlist floor; the effective depth is max(floor, N // 40) —
# ADC ranks through a 16-codeword/subspace quantizer whose cells get
# DENSER as the corpus grows, so a fixed-depth shortlist starves the
# exact re-rank (measured recall@5: 0.75 at N=500 → 0.17 at N=100k
# with depth pinned at 100; the ~2.5%-of-N rule keeps the exact-scan
# fraction of the original design point).  Integer floor-div on
# COUNT(*) in BOTH engines, so the oracle stays hash-exact; at the
# sf0.01 driver gate the adaptive form is the floor, bit-identical.
_PQ_SHORTLIST = 100
_PQ_SHORTLIST_DIV = 40

_MD5_ID_LONG = (
    "CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) "
    "AS UBIGINT) AS BIGINT)"
)

# Fixed-m-order ADC sum: one conditional sum per subspace (each sees
# exactly one row per (query, nbr) group), added left-to-right —
# mirrors the Spark side bit-for-bit.
_PQ_ADC_SUM = " + ".join(
    f"SUM(CASE WHEN l.m = {mi} THEN l.partial END)"
    for mi in range(_PQ_M)
)

# shared oracle CTE chain: normalize → seed codebooks → encode →
# ADC lookup table (parameterized only by the code-scan source)
_PQ_INDEX_CTES = f"""
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), nv AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
               AS nv
      FROM e
    ), hh AS (
      SELECT vec_id, nv, {_MD5_ID_LONG} AS h FROM nv
    ), seeds AS (
      SELECT vec_id AS c, nv AS cv FROM hh ORDER BY h, c
      LIMIT {_PQ_K}
    ), ss AS (
      SELECT s.c, r.m,
             list_slice(s.cv, r.m*{_PQ_SUBDIM}+1,
                        r.m*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS cent
      FROM seeds s CROSS JOIN range({_PQ_M}) AS r(m)
    ), vs AS (
      SELECT n.vec_id, r.m,
             list_slice(n.nv, r.m*{_PQ_SUBDIM}+1,
                        r.m*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS sv
      FROM nv n CROSS JOIN range({_PQ_M}) AS r(m)
    ), dist AS (
      SELECT vs.vec_id, vs.m, ss.c, ss.cent,
             list_dot_product(ss.cent, ss.cent)
               - 2 * list_dot_product(vs.sv, ss.cent) AS d
      FROM vs JOIN ss ON ss.m = vs.m
    ), codes AS (
      SELECT vec_id, m, c FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, m ORDER BY d, c) AS rn
        FROM dist
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id, nv FROM nv ORDER BY vec_id LIMIT {_N_QUERIES}
    ), lut AS (
      SELECT q.vec_id AS query_id, ss.m, ss.c,
             list_dot_product(
               list_slice(q.nv, ss.m*{_PQ_SUBDIM}+1,
                          ss.m*{_PQ_SUBDIM}+{_PQ_SUBDIM}),
               ss.cent) AS partial
      FROM q CROSS JOIN ss
    )"""

_PQ_RANK_SQL = f"""
    short AS (
      SELECT query_id, nbr_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc DESC, nbr_id) AS srank
        FROM adc
      ) WHERE srank <= (
        SELECT greatest({_PQ_SHORTLIST},
                        count(*) // {_PQ_SHORTLIST_DIV})
        FROM e)
    ), rr AS (
      SELECT s.query_id, s.nbr_id,
             list_dot_product(qn.nv, nn.nv) AS score
      FROM short s
      JOIN nv qn ON qn.vec_id = s.query_id
      JOIN nv nn ON nn.vec_id = s.nbr_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
      FROM rr
    )
    SELECT query_id, nbr_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {_K}"""


def _pq_artifact(
    spark: SparkSession, sf_dir: str, name: str, build
) -> DataFrame:
    """Frame ``name`` of the persisted PQ / IVF-PQ index state,
    committed once per process and input content
    (``versioned.commit_once``) and read back with the manifest's
    schema: a warm call fires no job and no frame holds cached
    storage."""
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import commit_once, read_version

    path = f"{artifact_root('pq-index', sf_dir, 'embeddings.parquet')}/{name}"
    commit_once(path, "pq-index", build)
    return read_version(spark, path)


def _pq_index(spark: SparkSession, sf_dir: str):
    """(nv, seeds_sub, codes) of the seeded PQ index
    (``S.pq_build_index``).  seeds_sub is tiny (K·M rows), but
    recomputing it re-runs the md5 seed selection over the corpus, so
    all three persist and serving touches only index frames."""
    import functools

    index = functools.cache(
        lambda: S.pq_build_index(
            fan_out(load_table(spark, sf_dir, "embeddings")),
            "vec_id", "embedding",
            n_codewords=_PQ_K, m=_PQ_M, dim=64,
        )
    )
    return tuple(
        _pq_artifact(spark, sf_dir, name, lambda i=i: index()[i])
        for i, name in enumerate(("nv", "seeds_sub", "codes"))
    )


def _ivfpq_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus coarse assignment for IVF-PQ — (vec_id, cluster,
    arank) with the PQ seed vectors doubling as IVF centroids (cosine
    on raw vectors — scale-invariant, same as the oracle) — persisted
    with the PQ index."""
    from pyspark.sql import Window

    def build() -> DataFrame:
        emb = fan_out(load_table(spark, sf_dir, "embeddings"))
        seeds = AI.seeded_centroids(emb, "vec_id", "embedding", _PQ_K)
        asg = emb.select("vec_id", "embedding").crossJoin(
            F.broadcast(seeds)
        ).select(
            "vec_id",
            "cluster",
            S.cosine(F.col("embedding"), F.col("cvec")).alias("csim"),
        )
        wa = Window.partitionBy("vec_id").orderBy(
            F.col("csim").desc(), F.col("cluster").asc()
        )
        return (
            asg.withColumn("arank", F.row_number().over(wa))
            .select("vec_id", "cluster", "arank")
        )

    return _pq_artifact(spark, sf_dir, "coarse", build)


@query(
    "sim_pq_ann_topk",
    oracle=f"""
    WITH {_PQ_INDEX_CTES}, adc AS (
      SELECT l.query_id, cd.vec_id AS nbr_id, {_PQ_ADC_SUM} AS adc
      FROM codes cd JOIN lut l ON l.m = cd.m AND l.c = cd.c
      WHERE l.query_id <> cd.vec_id
      GROUP BY l.query_id, cd.vec_id
    ), {_PQ_RANK_SQL}
    """,
    artifact=True,
)
def sim_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: encode/gemm work runs before the first exchange — a
    # single-row-group input file would serialize it onto one core
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    # COUNT(*)-derived shortlist depth (a parquet-footer read — see
    # _emb_count) — mirrors the oracle's greatest(floor, count(*) //
    # div) exactly
    shortlist = max(
        _PQ_SHORTLIST, _emb_count(emb, sf_dir) // _PQ_SHORTLIST_DIV
    )
    return S.pq_seeded_topk(
        _pq_index(spark, sf_dir),
        queries,
        "vec_id",
        "embedding",
        knn=_K,
        m=_PQ_M,
        dim=64,
        shortlist=shortlist,
    )


@query(
    "sim_ivfpq_ann_topk",
    # IVF-PQ composite: the ADC scan is restricted to nprobe=4 of 16
    # md5-seeded coarse lists (as sim_ivf_ann_topk), then the same
    # shortlist + exact re-rank.  Per-vector state after indexing is
    # (cluster id, M codes): a query touches ~nprobe/16 of the
    # compressed index and raw vectors only for its shortlist.
    oracle=f"""
    WITH {_PQ_INDEX_CTES}, casg AS (
      SELECT e.vec_id, s.c AS cluster,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.v', 'sv.v')} DESC, s.c ASC)
               AS arank
      FROM e CROSS JOIN seeds s JOIN e sv ON sv.vec_id = s.c
    ), lists AS (
      SELECT vec_id, cluster FROM casg WHERE arank = 1
    ), probes AS (
      SELECT vec_id AS query_id, cluster FROM casg
      WHERE arank <= 4 AND vec_id IN (SELECT vec_id FROM q)
    ), allowed AS (
      SELECT p.query_id, l.vec_id
      FROM probes p JOIN lists l ON l.cluster = p.cluster
      WHERE p.query_id <> l.vec_id
    ), adc AS (
      SELECT a.query_id, cd.vec_id AS nbr_id, {_PQ_ADC_SUM} AS adc
      FROM allowed a
      JOIN codes cd ON cd.vec_id = a.vec_id
      JOIN lut l ON l.query_id = a.query_id
              AND l.m = cd.m AND l.c = cd.c
      GROUP BY a.query_id, cd.vec_id
    ), {_PQ_RANK_SQL}
    """,
    artifact=True,
)
def sim_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: encode/gemm work runs before the first exchange — a
    # single-row-group input file would serialize it onto one core
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)

    # coarse assignment is INDEX state (built/persisted once per
    # corpus, like the PQ codes); only the probe selection below is
    # query-time work
    ranked = _ivfpq_coarse(spark, sf_dir)
    lists = ranked.filter(F.col("arank") == 1).select(
        "vec_id", "cluster"
    )
    probes = (
        ranked.filter(F.col("arank") <= 4)
        .join(
            queries.select(F.col("vec_id").alias("qid")),
            F.col("vec_id") == F.col("qid"),
        )
        .select(F.col("vec_id").alias("query_id"), "cluster")
    )
    # same adaptive depth as sim_pq (and the shared oracle CTE)
    shortlist = max(
        _PQ_SHORTLIST, _emb_count(emb, sf_dir) // _PQ_SHORTLIST_DIV
    )
    return S.pq_seeded_topk(
        _pq_index(spark, sf_dir),
        queries,
        "vec_id",
        "embedding",
        knn=_K,
        m=_PQ_M,
        dim=64,
        shortlist=shortlist,
        probes=probes,
        lists=lists,
    )


# ---------------------------------------------------------------------------
# Persistent IVF index lifecycle (operators/ann_index.py): build the
# index ONCE as versioned warehouse tables, serve many queries from
# the persisted tables, grow it by assign-only appends.  Every plan
# below reads its index state back from parquet — the oracle checks
# the full persist → scan round trip, not just the in-memory math.
# A real 100 TB deployment runs exactly this split: a query against
# the persisted index scans ~nprobe/k of the list table (partition-
# prunable: lists are partitioned BY cluster on disk) instead of
# re-assigning N vectors per query.
# ---------------------------------------------------------------------------
_IVF_IDX_K_FLOOR = 16
_IVF_IDX_NPROBE = 4
# the append plans (and dedup_semantic_incremental) freeze their
# quantizer to the BASE corpus (vec_id % 10 <> 7); the shard (% 10 = 7)
# is assigned to it afterwards
_IVF_APPEND_SHARD_MOD, _IVF_APPEND_SHARD_REM = 10, 7


def _base_shard(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    in_shard = F.col("vec_id") % _IVF_APPEND_SHARD_MOD == _IVF_APPEND_SHARD_REM
    return emb.filter(~in_shard), emb.filter(in_shard)


def _base_count(spark: SparkSession, sf_dir: str, base: DataFrame) -> int:
    """Row count of the base corpus ``base`` (``_base_shard``'s first
    frame) that sizes a frozen quantizer: one count job per
    embeddings file signature, shared by every plan that freezes to
    the base."""
    return session_memo(
        spark, "base-count", f"{sf_dir}/embeddings.parquet", base.count
    )


def _ivf_idx_k(n_seed: int) -> int:
    """Adaptive centroid count for the persisted index: the same
    max(16, ceil(sqrt(N/2))) the SemDeDup path uses
    (operators/similarity.py:adaptive_clusters_sql) — a fixed k makes
    inverted lists grow ∝ N and every probe rescans them; √N-scaled
    lists keep probe cost ∝ √N.  N is the SEED-eligible count (the
    append plan freezes centroids at base-corpus time)."""
    import math

    return max(_IVF_IDX_K_FLOOR, math.ceil(math.sqrt(n_seed / 2.0)))


def _ivf_idx_k_sql(seed_filter: str = "") -> str:
    """The identical k as a DuckDB subquery over the seed set."""
    from omniengine_spark.operators.similarity import (
        adaptive_clusters_sql,
    )

    return (
        f"SELECT {adaptive_clusters_sql('count(*)', _IVF_IDX_K_FLOOR)}"
        f" FROM embeddings {seed_filter}"
    )


def _ivf_index_tables(
    spark: SparkSession, sf_dir: str, base_only: bool
) -> tuple[DataFrame, DataFrame]:
    """Centroid + list tables of the persisted IVF index, committed
    once per process and input content (``versioned.commit_once``).
    ``base_only`` freezes centroids to the base corpus and appends the
    held-out shard assign-only, as a second table version: reading
    CURRENT yields the appended snapshot, version 1 remains the
    pre-append index (time travel over index history)."""
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import commit_once, read_version

    label = "ivf-append" if base_only else "ivf-index"
    root = artifact_root(label, sf_dir, "embeddings.parquet")
    cpath, lpath = f"{root}/centroids", f"{root}/lists"
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    seed, shard = _base_shard(emb) if base_only else (emb, None)

    def centroids() -> DataFrame:
        n_seed = (
            _base_count(spark, sf_dir, seed)
            if base_only
            else _emb_count(emb, sf_dir)
        )
        return AI.seeded_centroids(
            seed, "vec_id", "embedding", _ivf_idx_k(n_seed)
        )

    commit_once(cpath, label, centroids)
    commit_once(
        lpath, f"{label} base" if base_only else label,
        lambda: AI.assign_lists(seed, centroids(), "vec_id", "embedding"),
        partition_cols=["cluster"],
    )
    if base_only:
        # assign-only append against the PERSISTED centroids — the
        # shard lands as a DELTA version over the base lists: the write
        # is shard-sized, readers of CURRENT assemble base ∪ shard, and
        # version 1 stays readable as the pre-append index
        commit_once(
            lpath, label,
            lambda: AI.assign_lists(
                shard, read_version(spark, cpath), "vec_id", "embedding"
            ),
            delta=True,
            partition_cols=["cluster"],
        )
    cents = read_version(spark, cpath)
    # the partition column comes back as the directory-key int type;
    # restore the logical long so downstream joins/output match
    lists = read_version(spark, lpath).withColumn(
        "cluster", F.col("cluster").cast("long")
    )
    return cents, lists


@query(
    "sim_ivf_index_build",
    # the committed index itself, summarized: list membership per
    # cluster.  The oracle rebuilds the same md5-seeded assignment —
    # matching proves the persisted tables hold the index the design
    # states (the parquet round trip changes nothing: doubles and
    # longs are exact).
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), hh AS (
      SELECT vec_id, v, {_MD5_ID_HASH} AS h FROM e
    ), seeds AS (
      SELECT vec_id AS cluster, v AS cvec FROM hh ORDER BY h, cluster
      LIMIT ({_ivf_idx_k_sql()})
    ), asg AS (
      SELECT e.vec_id, s.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.v', 's.cvec')} DESC, s.cluster ASC)
               AS arank
      FROM e CROSS JOIN seeds s
    )
    SELECT cluster, COUNT(*) AS n_vectors
    FROM asg WHERE arank = 1 GROUP BY cluster
    """,
    artifact=True,
)
def sim_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family index-build: materialize the IVF index as versioned
    warehouse tables and report per-cluster list sizes read back
    FROM THE PERSISTED TABLE."""
    _, lists = _ivf_index_tables(spark, sf_dir, base_only=False)
    return lists.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


@query(
    "sim_ivf_index_query",
    # identical result contract to sim_ivf_ann_topk — same probe/
    # rescore oracle, adaptive k — but served from the persisted
    # index tables instead of a rebuild: the list scan reads nprobe
    # of k cluster partitions.
    oracle=_ivf_oracle(k_sql=_ivf_idx_k_sql()),
    artifact=True,
)
def sim_ivf_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query the PERSISTED IVF index (build-once, query-many): the
    centroid table broadcasts (k rows) and the probe join touches
    only nprobe/k of the cluster-partitioned list table."""
    cents, lists = _ivf_index_tables(spark, sf_dir, base_only=False)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = AI.query_index(
        queries, cents, lists, "vec_id", "embedding",
        k=_K, nprobe=_IVF_IDX_NPROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "sim_ivf_index_append",
    # centroids frozen at base-build time; the shard lands assign-
    # only.  The oracle seeds centroids from the base subset but
    # assigns/queries over the full corpus — exactly the appended
    # snapshot's content (append == full-assignment-with-frozen-
    # centroids because per-vector assignment is independent;
    # tests/test_similarity.py pins that equality directly).
    oracle=_ivf_oracle(
        seed_where=f"WHERE vec_id % {_IVF_APPEND_SHARD_MOD}"
        f" <> {_IVF_APPEND_SHARD_REM}",
        # k is frozen WITH the centroids: adaptive over the base
        # subset, not the appended total
        k_sql=_ivf_idx_k_sql(
            f"WHERE vec_id % {_IVF_APPEND_SHARD_MOD}"
            f" <> {_IVF_APPEND_SHARD_REM}"
        ),
    ),
    artifact=True,
)
def sim_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index growth: a new shard is assigned to the
    FROZEN persisted centroids (no re-seed, no rebuild of existing
    lists) and committed as the next table version; queries then
    serve from the appended snapshot.  This is the operating mode of
    a production vector store — per-shard cost is |shard|·k dots,
    not N·k."""
    cents, lists = _ivf_index_tables(spark, sf_dir, base_only=True)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = AI.query_index(
        queries, cents, lists, "vec_id", "embedding",
        k=_K, nprobe=_IVF_IDX_NPROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Persistent multi-probe LSH index (operators/ann_index.py lsh_*):
# the serving-shaped counterpart of sim_lsh_ann_topk.  The one-shot
# plan recomputes the whole corpus's bucket keys inside every query
# (that's WHY it is the suite's demoted tail — its index and its
# answer are the same self-join); here the entries persist as a
# versioned table partitioned by (t, shard = top _LSH_SHARD_BITS
# active bucket bits), so the directory count stays T·2^shard_bits
# (64) at ANY corpus size while a query batch prunes the scan to its
# probed shards with a static partition predicate.  Two parameters
# FREEZE with the index: the md5 planes (frozen by construction) and
# the adaptive active-bit count (frozen at build from the base
# corpus, carried in the commit tag — re-deriving it on append would
# re-key every persisted entry at the next power-of-two boundary).
# Candidates are ASYMMETRIC (query's home+probe buckets against the
# index's home keys — the serving form; the one-shot all-pairs plan
# uses the symmetric closure), so recall trails the one-shot plan by
# the reverse-probe candidates while per-batch cost drops from
# N·T·occupancy to |batch|·T·(1+n_probes)·occupancy.
# ---------------------------------------------------------------------------
_LSH_SHARD_BITS = 4


def _lsh_n_cte(where: str = "") -> str:
    return (
        "SELECT two_p, CAST(length(bin(two_p - 1)) AS INT) AS n_act"
        " FROM (SELECT CAST(1 AS BIGINT) << CAST("
        + S.adaptive_planes_sql("COUNT(*)", _OCCUPANCY)
        + f" AS INT) AS two_p FROM e {where})"
    )


# asymmetric probe containment: query q's home key matches entry c's,
# or c's home key is in q's probe set — per table, any table suffices
_LSH_IDX_MATCH = " OR ".join(
    f"q.k{t} = c.k{t} OR list_contains(q.pr{t}, c.k{t})"
    for t in range(_N_TABLES)
)


def _lsh_idx_query_oracle(n_where: str = "") -> str:
    k_cols = ", ".join(f"k{t}" for t in range(_N_TABLES))
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      {_lsh_n_cte(n_where)}
    ), b AS (
      SELECT vec_id, v,
             {_TABLE_KEYS}
      FROM e
    ), q AS (
      SELECT vec_id, v, {k_cols},
             {_TABLE_PROBES}
      FROM b CROSS JOIN n
      ORDER BY vec_id LIMIT {_N_QUERIES}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
      FROM q JOIN b c
        ON ({_LSH_IDX_MATCH}) AND q.vec_id <> c.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.nbr_id,
             list_dot_product(qa.v, nb.v)
               / (sqrt(list_dot_product(qa.v, qa.v))
                  * sqrt(list_dot_product(nb.v, nb.v))) AS score
      FROM cand
      JOIN e qa ON qa.vec_id = cand.query_id
      JOIN e nb ON nb.vec_id = cand.nbr_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {_K}
    """


def _lsh_index_tables(
    spark: SparkSession, sf_dir: str, base_only: bool
) -> tuple[DataFrame, int]:
    """Entry table of the persisted LSH index (+ its frozen active-bit
    count), committed once per process and input content (same
    contract as ``_ivf_index_tables``).  ``base_only`` freezes planes
    AND n_act to the base corpus and appends the held-out shard as a
    DELTA version: reading CURRENT yields the appended snapshot,
    version 1 remains the pre-append index."""
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import commit_once, read_version

    label = "lsh-append" if base_only else "lsh-index"
    epath = f"{artifact_root(label, sf_dir, 'embeddings.parquet')}/entries"
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    seed, shard = _base_shard(emb) if base_only else (emb, None)
    n_act = AI.lsh_active_bits(
        _base_count(spark, sf_dir, seed)
        if base_only
        else _emb_count(emb, sf_dir),
        _OCCUPANCY,
    )
    kw = dict(
        n_tables=_N_TABLES,
        n_act=n_act,
        shard_bits=_LSH_SHARD_BITS,
        dim=_DIM,
    )

    # one shuffle on the partition keys before the partitioned
    # write: without it every write task holding rows for a dir
    # emits a file there (measured 1293 files for 2000 rows at
    # smoke — the small-files anti-pattern); hashed on (t, shard)
    # each dir gets exactly one writer.  At warehouse scale the
    # same call takes (n, cols) to target ~128 MB files per dir.
    # The within-file sort orders row groups by bucket, so the
    # serve path's pushed bucket IN-list skips row groups off
    # tight footer stats (lsh_query_index prunes dirs AND row
    # groups; unsorted files would leave every row-group range
    # spanning the whole shard).
    def ent(df: DataFrame) -> DataFrame:
        return (
            AI.lsh_entry_table(df, "vec_id", "embedding", **kw)
            .repartition("t", "shard")
            .sortWithinPartitions("t", "shard", "bucket")
        )

    tag = f"{label} bits={n_act}"
    commit_once(
        epath, f"{label} base" if base_only else tag,
        lambda: ent(seed),
        partition_cols=["t", "shard"],
    )
    if base_only:
        # assign-only append against the FROZEN planes + n_act: the
        # shard lands as a delta version at |shard| cost
        commit_once(
            epath, tag, lambda: ent(shard),
            delta=True,
            partition_cols=["t", "shard"],
        )
    # partition columns come back as directory-key ints; restore the
    # logical types so joins/output match the build-side frames
    entries = (
        read_version(spark, epath)
        .withColumn("t", F.col("t").cast("int"))
        .withColumn("shard", F.col("shard").cast("long"))
    )
    return entries, n_act


@query(
    "sim_lsh_index_build",
    # the committed index itself, summarized: entry count per
    # (table, bucket).  The oracle rebuilds the same frozen-plane,
    # frozen-mask home keys — matching proves the persisted table
    # holds exactly the index the design states.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      {_lsh_n_cte()}
    ), b AS (
      SELECT vec_id,
             {_TABLE_KEYS}
      FROM e
    ), flat AS (
      {" UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, k{t} AS bucket FROM b"
        for t in range(_N_TABLES)
      )}
    )
    SELECT CAST(t AS INT) AS t, bucket, COUNT(*) AS n_vectors
    FROM flat GROUP BY t, bucket
    """,
    artifact=True,
)
def sim_lsh_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family index build: materialize the multi-table LSH entry
    table as a versioned warehouse table — (t, shard) partition dirs,
    bucket-ordered within — and report per-bucket entry counts read
    back FROM THE PERSISTED TABLE."""
    entries, _ = _lsh_index_tables(spark, sf_dir, base_only=False)
    return entries.groupBy("t", "bucket").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


@query(
    "sim_lsh_index_query",
    oracle=_lsh_idx_query_oracle(),
    artifact=True,
)
def sim_lsh_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query the PERSISTED LSH index (build-once, query-many): the
    batch's home+probe buckets collapse to a static (t, shard)
    partition predicate, the entry scan prunes to those directories,
    and candidates rescore exactly — per-batch cost is
    |batch|·T·(1+n_probes)·occupancy, independent of corpus size.
    This is the serving posture the one-shot ``sim_lsh_ann_topk``
    (deliberately) lacks."""
    entries, n_act = _lsh_index_tables(spark, sf_dir, base_only=False)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = AI.lsh_query_index(
        queries,
        entries,
        "vec_id",
        "embedding",
        n_tables=_N_TABLES,
        n_act=n_act,
        n_probes=_N_PROBES,
        k=_K,
        shard_bits=_LSH_SHARD_BITS,
        dim=_DIM,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "sim_lsh_index_append",
    # planes + n_act frozen at base-build time; the held-out shard
    # lands assign-only as a delta version.  The oracle derives n_act
    # from the BASE subset but keys/queries the full corpus — exactly
    # the appended snapshot's content (append == rebuild-with-frozen-
    # params because per-row key assignment is independent;
    # tests/test_similarity.py pins that equality engine-side).
    oracle=_lsh_idx_query_oracle(
        n_where=f"WHERE vec_id % {_IVF_APPEND_SHARD_MOD}"
        f" <> {_IVF_APPEND_SHARD_REM}"
    ),
    artifact=True,
)
def sim_lsh_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index growth: a new shard is keyed under the
    FROZEN planes and FROZEN active-bit count (never re-derived — a
    re-derived mask would re-key every existing entry) and committed
    as a delta version over the base entries; queries then serve from
    the appended snapshot.  Per-shard cost is |shard|·T·n_act dots,
    never N·anything."""
    entries, n_act = _lsh_index_tables(spark, sf_dir, base_only=True)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_N_QUERIES)
    out = AI.lsh_query_index(
        queries,
        entries,
        "vec_id",
        "embedding",
        n_tables=_N_TABLES,
        n_act=n_act,
        n_probes=_N_PROBES,
        k=_K,
        shard_bits=_LSH_SHARD_BITS,
        dim=_DIM,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))
