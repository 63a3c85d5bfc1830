"""Dedup plans over ``documents`` (operators in operators/dedup.py),
and the exact embedding-cosine near-dup join over ``embeddings``.

Oracles are the all-pairs exact formulations in DuckDB — the Spark
side must reproduce them exactly while using the scalable algorithm
(prefix filter / LSH + exact verify), which is the whole point: same
answer, cluster-sized plan.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.operators import dedup as D
from omniengine_spark.operators.similarity import cosine_pair_join
from omniengine_spark.plans.registry import query
from omniengine_spark.sources import fan_out, load_table

# Shared oracle fragment: distinct 3-shingle sets per doc.
_SHINGLE_CTE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks
      WHERE len(t) >= 3
    )
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
           MIN(doc_id) OVER (
             PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
           ) AS canonical_id,
           COUNT(*) OVER (
             PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
           ) > 1 AS has_duplicates
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_duplicates(docs, "doc_id", "text")


@query(
    "dedup_ngram_jaccard",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.jaccard_similarity_join(
        docs, "doc_id", "text", n=3, threshold=Fraction(4, 5)
    )


@query(
    "dedup_minhash_lsh",
    # Same oracle as the exact join: LSH at 32×4 bands + exact verify
    # equals the exact result with P(miss) ≈ 5e-8 at the threshold
    # (planted dups sit at J≈0.95+, miss ≈ 1e-12).  Round 7 moved
    # 32×2 → 32×4: 2-row bands collide ∝ E[J²] over RANDOM pairs,
    # which on any corpus with correlated content (Zipf vocabularies
    # share common words) makes candidate mass quadratic — measured
    # e=+1.87 in candidates sf5→sf25 on the realistic-vocab corpus vs
    # e=+1.00 at 4-row bands (tools/scale_soak_rv.json, diagnostics
    # in COVERAGE.md).  The 2× signature cost buys a ~47× candidate
    # cut at sf25.
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_hashes=128,
        band_rows=4,
        threshold=Fraction(4, 5),
    )


# SimHash with the portable md5-derived 60-bit token hash, so the
# oracle can rebuild the identical fingerprints and check the banded
# Spark plan against an independent ALL-PAIRS hamming scan.
_SH_BITS = 60
_SH_VOTES = ",\n             ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(_SH_BITS)
)
_SH_FP = " | ".join(
    f"(CASE WHEN v{j} >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    f" << {j})"
    for j in range(_SH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH posting AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
               AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(list_sum(
               [CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1
                     AS BIGINT) << (4 * (15 - i)) for i in range(1, 16)])
               AS BIGINT) AS h
      FROM posting
    ), votes AS (
      SELECT doc_id, {_SH_VOTES}
      FROM hashed GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, {_SH_FP} AS sh FROM votes
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = D.simhash_near_pairs(
        docs, "doc_id", "text",
        max_hamming=3, bits=_SH_BITS, hasher=D.md5_token_hash,
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))


# Bounded-output simhash: candidates from lead(1..W) over each band
# bucket sorted by (fingerprint, doc_id).  W and k must match the
# Spark operator defaults; every step is deterministic so the oracle
# rebuilds the identical pair set.
_SH_W = 8
_SH_K = 5
_SH_CHUNKS = 4
_SH_WIDTH = _SH_BITS // _SH_CHUNKS
_SH_LEADS = ", ".join(
    f"{{'nid': lead(doc_id, {i}) OVER w, 'nfp': lead(sh, {i}) OVER w}}"
    for i in range(1, _SH_W + 1)
)


@query(
    "dedup_simhash_topk",
    oracle=f"""
    WITH posting AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
               AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(list_sum(
               [CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1
                     AS BIGINT) << (4 * (15 - i)) for i in range(1, 16)])
               AS BIGINT) AS h
      FROM posting
    ), votes AS (
      SELECT doc_id, {_SH_VOTES}
      FROM hashed GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, {_SH_FP} AS sh FROM votes
    ), bands AS (
      SELECT doc_id, sh, t.ci AS chunk,
             (sh >> (CAST(t.ci AS INTEGER) * {_SH_WIDTH}))
               & {(1 << _SH_WIDTH) - 1} AS val
      FROM fp, range({_SH_CHUNKS}) t(ci)
    ), led AS (
      SELECT doc_id, sh, [{_SH_LEADS}] AS nbrs
      FROM bands
      WINDOW w AS (PARTITION BY chunk, val ORDER BY sh, doc_id)
    ), expl AS (
      SELECT doc_id, sh, unnest(nbrs) AS nb FROM led
    ), cand AS (
      SELECT least(doc_id, nb.nid) AS doc_a,
             greatest(doc_id, nb.nid) AS doc_b,
             CAST(bit_count(xor(sh, nb.nfp)) AS BIGINT) AS hamming
      FROM expl WHERE nb.nid IS NOT NULL
    ), pairs AS (
      SELECT DISTINCT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
    ), mirrored AS (
      SELECT doc_a AS doc_id, doc_b AS nbr_id, hamming FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr_id, hamming FROM pairs
    )
    SELECT doc_id, nbr_id, hamming, rn FROM (
      SELECT doc_id, nbr_id, hamming,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY hamming, nbr_id
             ) AS BIGINT) AS rn
      FROM mirrored
    ) WHERE rn <= {_SH_K}
    """,
)
def dedup_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output near-dup: per-doc top-k by Hamming distance over
    sliding-window band candidates — output AND work are O(N·k) even
    on repetitive corpora where the full pair set is quadratic (the
    documented scale wall of ``dedup_simhash``)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.simhash_near_topk(
        docs, "doc_id", "text",
        k=_SH_K, max_hamming=3, bits=_SH_BITS,
        hasher=D.md5_token_hash, window=_SH_W,
    )


@query(
    "dedup_clusters",
    # transitive closure of the near-dup pair graph; each doc labeled
    # with its component's minimum id — pairs alone don't dedupe, the
    # cluster picks the keeper
    oracle=_SHINGLE_CTE.replace("WITH", "WITH RECURSIVE", 1)
    + """
    , pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(n, m) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    )
    SELECT dd.doc_id,
           LEAST(dd.doc_id, COALESCE(r.mn, dd.doc_id)) AS cluster_id
    FROM documents dd
    LEFT JOIN (SELECT n, MIN(m) AS mn FROM reach GROUP BY n) r
      ON dd.doc_id = r.n
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs → connected components → canonical doc per
    cluster.  The full corpus-dedup pipeline end to end."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3,
        num_hashes=128, band_rows=4, threshold=Fraction(4, 5),
    )
    return D.connected_components(docs, pairs, "doc_id")


_SEM_K = 32  # floor; k scales as max(32, ceil(sqrt(N/2))) — a FIXED
# centroid count makes within-cluster pairs quadratic in N (measured
# e≈+1.31 at sf0.1→sf1); the √N rule balances assignment vs pairs.
# At the sf0.01 gate (N=500) and at sf0.1 (N=2000) k is 32 either
# way, so the adaptive form is bit-identical where the driver checks.
_SEM_TAU = 0.4
_SEM_MD5_LONG = (
    "CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) "
    "AS UBIGINT) AS BIGINT)"
)


def _sem_k_sql() -> str:
    from omniengine_spark.operators.similarity import (
        adaptive_clusters_sql,
    )

    return adaptive_clusters_sql("COUNT(*)", floor_k=_SEM_K)


def _sem_kc_sql() -> str:
    from omniengine_spark.operators.similarity import coarse_cells_sql

    return coarse_cells_sql(_sem_k_sql(), floor_kc=4)


_SEM_K_SQL = _sem_k_sql()
_SEM_KC_SQL = _sem_kc_sql()
# Constant sub-bucket cap for the in-cluster pair scan: pair mass is
# ≤ cap·N by construction (linear in N).  1024 never binds at the
# sf0.01/sf0.1 gates (max observed cluster ≪ 1024), so the capped
# operator is bit-identical to the uncapped one there.
_SEM_CAP = 1024


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), nm AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), hh AS (
      SELECT vec_id, v, {_SEM_MD5_LONG} AS h FROM e
    ), rseeds AS (
      SELECT vec_id AS cluster, v AS cv,
             sqrt(list_dot_product(v, v)) AS cnrm,
             ROW_NUMBER() OVER (ORDER BY h, vec_id) AS srn
      FROM hh
    ), seeds AS (
      SELECT cluster, cv, cnrm FROM rseeds
      WHERE srn <= (SELECT {_SEM_K_SQL} FROM e)
    ), cseeds AS (
      -- two-level quantizer: the kc = max(4, ceil(sqrt(k))) coarse
      -- cells are a PREFIX of the same md5 seed ranking
      SELECT cluster AS ccell, cv AS ccv, cnrm AS ccnrm FROM rseeds
      WHERE srn <= (SELECT {_SEM_KC_SQL} FROM e)
    ), fcell AS (
      -- each FINE centroid's coarse cell (k*kc dots)
      SELECT cluster, ccell FROM (
        SELECT f.cluster, c.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY f.cluster
                 ORDER BY list_dot_product(f.cv, c.ccv)
                            / (f.cnrm * c.ccnrm) DESC,
                          c.ccell ASC) AS r
        FROM seeds f CROSS JOIN cseeds c
      ) WHERE r = 1
    ), cells AS (
      -- only cells holding at least one fine centroid may win rows
      SELECT DISTINCT c.ccell, c.ccv, c.ccnrm
      FROM cseeds c JOIN fcell f ON f.ccell = c.ccell
    ), vcell AS (
      -- vector -> coarse cell (N*kc dots)
      SELECT vec_id, v, nrm, ccell FROM (
        SELECT n.vec_id, n.v, n.nrm, c.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, c.ccv)
                            / (n.nrm * c.ccnrm) DESC,
                          c.ccell ASC) AS r
        FROM nm n CROSS JOIN cells c
      ) WHERE r = 1
    ), asg AS (
      -- refine within the cell's fine centroids (N*~sqrt(k) dots)
      SELECT vec_id, v, nrm, cluster FROM (
        SELECT vc.vec_id, vc.v, vc.nrm, s.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY vc.vec_id
                 ORDER BY list_dot_product(vc.v, s.cv)
                            / (vc.nrm * s.cnrm) DESC,
                          s.cluster ASC) AS arank
        FROM vcell vc
        JOIN fcell f ON f.ccell = vc.ccell
        JOIN seeds s ON s.cluster = f.cluster
      ) WHERE arank = 1
    ), asg2 AS (
      -- cluster-mass cap: members ordered by the RAW stored first
      -- coordinate (no arithmetic — both engines compare identical
      -- parquet bytes), chunked into cap-sized sub-buckets; pairs
      -- compare within (cluster, sub) only.  The cap is a CONSTANT
      -- ({_SEM_CAP}): a cap ∝ N/k = √N bounds pair mass only to
      -- cap·N = N^1.5 — the measured e=+1.58 decade — while a
      -- constant cap makes it ≤ {_SEM_CAP}·N, linear by
      -- construction
      SELECT vec_id, v, nrm, cluster,
             CAST(floor((ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY v[1] ASC, vec_id ASC
             ) - 1) / {_SEM_CAP}) AS BIGINT) AS sub
      FROM asg
    )
    SELECT a.vec_id,
           a.cluster,
           NOT EXISTS (
             SELECT 1 FROM asg2 b
             WHERE b.cluster = a.cluster
               AND b.sub = a.sub
               AND b.vec_id < a.vec_id
               AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                     >= {_SEM_TAU}
           ) AS is_kept
    FROM asg2 a
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup: md5-seeded centroid buckets,
    in-cluster cosine pairs only, drop the higher id of any pair above
    the threshold.  The scale answer to ``dedup_embedding_cosine``'s
    all-pairs gemm — Σ|cluster|² work instead of N²/B — with the same
    exact-oracle discipline as the ANN ladder (the quantizer is
    deterministic, so DuckDB reproduces the identical keep/drop set).
    """
    from omniengine_spark.operators import similarity as S

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return S.semantic_prune(
        emb, "vec_id", "embedding",
        n_clusters=None, threshold=_SEM_TAU, min_clusters=_SEM_K,
        max_cluster=_SEM_CAP,
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup — the operating mode of a production
# training-data pipeline: each new crawl shard dedups AGAINST the
# existing corpus without rescanning it, then commits itself back so
# the NEXT shard sees it.  The full index state — band entries,
# verified pairs, hashed shingle sets — persists as three versioned
# warehouse tables (operators/minhash_index.py); a shard ingest costs
# |shard| signatures + a band-join against stored entries + an exact
# verify pruned to candidate-touched ids + shard-sized delta commits.
# Because signatures are a pure function of document content,
# stored-entry ∪ shard-entry banding finds EXACTLY the pairs a
# one-shot run over the union finds — the oracle below is the same
# exact all-pairs Jaccard as dedup_minhash_lsh, so that equality IS
# the gate.  Reference analogue: the seen-tx skip (sql.py:382-384)
# generalized from tx identity to content identity.
# ---------------------------------------------------------------------------
_INC_SHARD_MOD, _INC_SHARD_REM = 10, 7
_INC_HASHES, _INC_BAND_ROWS = 128, 4


@query(
    "dedup_incremental_shard",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
    artifact=True,
)
def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new shard (doc_id % 10 = 7) against the persisted
    corpus index (doc_id % 10 ≠ 7), COMMIT the shard back as delta
    versions of all three index tables (so the next shard ingests
    against corpus∪shard without any rewrite), and return the
    complete post-ingest pair set read from the committed snapshot.
    Equals the one-shot dedup_minhash_lsh over the union by
    construction; the exact all-pairs oracle checks it.

    Scale shape per ingest: the ONLY document scan is the shard
    filter; corpus shingle sets come from the persisted ``shingles``
    table semi-joined down to candidate-touched ids (round 8
    re-shingled the entire corpus here), and the three commits write
    shard-sized deltas via ``versioned.commit(base_version=...)``.
    The corpus build (one full scan, ever) runs once per dataset
    content fingerprint."""
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources.sinks import artifact_root

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    corpus = docs.filter(
        F.col("doc_id") % _INC_SHARD_MOD != _INC_SHARD_REM
    )
    shard = docs.filter(
        F.col("doc_id") % _INC_SHARD_MOD == _INC_SHARD_REM
    )
    thresh = Fraction(4, 5)
    params = dict(
        n=3, num_hashes=_INC_HASHES, band_rows=_INC_BAND_ROWS,
        threshold=thresh,
    )

    root = artifact_root("minhash-corpus", sf_dir, "documents.parquet")
    base_tag = f"minhash {_INC_HASHES}x{_INC_BAND_ROWS} corpus"
    shard_tag = f"{base_tag} +shard{_INC_SHARD_REM}"
    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag=base_tag, **params
    )
    return MI.ingest_shard(
        spark, root, shard, "doc_id", "text", tag=shard_tag, **params
    )


from omniengine_spark.plans.similarity import (  # noqa: E402
    _MD5_ID_HASH as _SIM_MD5_ID_HASH,
)
from omniengine_spark.plans.similarity import (  # noqa: E402
    _base_count,
    _base_shard,
)
from omniengine_spark.plans.similarity import (  # noqa: E402
    _cos_sql as _sim_cos_sql,
)

_SIM_COS_SQL = _sim_cos_sql("e.v", "s.cvec")


def _cos_ab_sql() -> str:
    return _sim_cos_sql("a.v", "b.v")


# ---------------------------------------------------------------------------
# Incremental SemDeDup — the embedding-side twin of
# dedup_incremental_shard: a production vector pipeline ingests each
# embedding shard against a FROZEN quantizer (re-seeding would
# reshuffle every list) and pays |shard|·k assignment dots plus
# in-cluster pairs against touched lists only — never re-pruning the
# corpus.  Three versioned tables: centroids (frozen, seeded from the
# base corpus), lists (assign-only shard deltas — the same shape the
# persisted IVF index uses), and DROPS.  Drops are monotone (a new
# vector adds pairs, never removes them; a vector once dropped stays
# dropped), so the drop set is append-only and delta commits are
# exact — the reason the decisions table stores drops, not keep
# flags.  The oracle rebuilds the same frozen-quantizer construction:
# seeds from the base subset, flat argmax assignment over ALL
# vectors, greater-id drop per in-cluster pair ≥ τ.
# ---------------------------------------------------------------------------
_SEMI_TAU = 0.4  # same corpus-calibrated τ as dedup_semantic_prune
_SEMI_K_FLOOR = 32


@query(
    "dedup_semantic_incremental",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), hh AS (
      SELECT vec_id, v, {_SIM_MD5_ID_HASH} AS h FROM e
      WHERE vec_id % {_INC_SHARD_MOD} <> {_INC_SHARD_REM}
    ), seeds AS (
      SELECT vec_id AS cluster, v AS cvec FROM hh ORDER BY h, cluster
      LIMIT (SELECT greatest({_SEMI_K_FLOOR},
                    CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT))
             FROM hh)
    ), asg AS (
      SELECT e.vec_id, e.v, s.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_SIM_COS_SQL} DESC, s.cluster ASC) AS arank
      FROM e CROSS JOIN seeds s
    ), m AS (
      SELECT vec_id, v, cluster FROM asg WHERE arank = 1
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM m a JOIN m b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cos_ab_sql()} >= {_SEMI_TAU}
    )
    SELECT m.vec_id, m.cluster, (d.vec_id IS NULL) AS is_kept
    FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id
    """,
    artifact=True,
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a growing corpus: the base (vec_id % 10 ≠ 7)
    seeds frozen centroids, self-prunes once, and persists centroids
    + lists + drops; the shard (% 10 = 7) then ingests assign-only —
    |shard|·k dots plus pairs against its touched clusters — and its
    new drops land as an append-only delta (drops are monotone, so a
    delta IS the exact update).  Output: every vector's cluster and
    keep/drop decision, read from the committed snapshot."""
    import math

    from omniengine_spark.operators import ann_index as AI
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import (
        commit_once,
        read_commit,
        read_version,
    )

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    base, shard = _base_shard(emb)
    root = artifact_root("sem-inc", sf_dir, "embeddings.parquet")
    cpath, lpath, dpath = (
        f"{root}/centroids", f"{root}/lists", f"{root}/drops",
    )
    shard_tag = "base +shard"

    # corpus day: seed, assign, self-prune — the one full pass
    commit_once(
        cpath, "base",
        lambda: AI.seeded_centroids(
            base, "vec_id", "embedding",
            max(
                _SEMI_K_FLOOR,
                math.ceil(math.sqrt(_base_count(spark, sf_dir, base) / 2.0)),
            ),
        ),
    )
    commit_once(
        lpath, "base",
        lambda: AI.assign_lists(
            base, read_version(spark, cpath), "vec_id", "embedding"
        ),
    )
    commit_once(
        dpath, "base",
        lambda: AI.in_cluster_drops(
            read_version(spark, lpath), read_version(spark, lpath), _SEMI_TAU
        ),
    )
    # shard ingest: assign to FROZEN centroids, commit the lists
    # delta, derive new drops from shard-touched pairs only
    shard_lists = commit_once(
        lpath, shard_tag,
        lambda: AI.assign_lists(
            shard, read_version(spark, cpath), "vec_id", "embedding"
        ),
        delta=True,
    )
    commit_once(
        dpath, shard_tag,
        lambda: AI.in_cluster_drops(
            F.broadcast(read_commit(spark, lpath, shard_lists)),
            read_version(spark, lpath),
            _SEMI_TAU,
        ).join(read_version(spark, dpath), "vec_id", "left_anti"),
        delta=True,
    )
    lists = read_version(spark, lpath)
    drops = read_version(spark, dpath).withColumn("_d", F.lit(True))
    return (
        lists.select(F.col("nbr_id").alias("vec_id"), "cluster")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id", "cluster", F.col("_d").isNull().alias("is_kept")
        )
    )


# ---------------------------------------------------------------------------
# The crawl-pipeline operating loop as ONE gated artifact: documents
# arrive as a STREAM, every micro-batch ingests into the persisted
# MinHash index (shard-proportional work + delta commits, so batch
# N+1 dedups against corpus + batches 1..N), then maintenance
# squashes the per-batch delta chains and retires them, and the
# result is served from the compacted snapshot.  The streaming-side
# idempotency is the real production story: the file-source
# checkpoint replays only unprocessed batches after a crash, and
# ``ingest_shard``'s per-tag / per-table commit idempotency makes the
# replayed batch exactly-once — together they give end-to-end
# exactly-once ingest with NO coordinator (reference analogue: the
# seen-tx skip ``sql.py:382-384`` + the cron poll loop
# ``omniEngine.py:109-232``, fused and made restartable).
# ---------------------------------------------------------------------------
_STREAM_MOD, _STREAM_REM = 4, 3
_STREAM_BATCHES = 3


@query(
    "dedup_stream_ingest",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
    artifact=True,
)
def dedup_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed multi-batch index ingest + maintenance, gate-checked
    end to end: corpus (doc_id % 4 ≠ 3) builds the persisted index
    once; the remaining docs land as parquet files in an ``incoming``
    feed dir and a Structured Streaming file source drains them one
    file per micro-batch through ``foreachBatch`` →
    ``minhash_index.ingest_shard`` (each batch a delta commit, so
    later batches dedup against earlier ones); then
    ``compact_index`` squashes each table's chain into one snapshot
    and ``vacuum`` retires the per-batch versions.  The returned
    pair set — read from the compacted, vacuumed snapshot — must
    hash-match the one-shot all-pairs oracle over corpus∪stream,
    which is exactly the invariant that makes the loop trustworthy:
    no batch split, replay, or squash may change the answer.

    Scale shape: each micro-batch pays shard-proportional work (the
    only document scan is its own file; corpus shingles come from
    the persisted table semi-joined to candidates), and compaction
    is the periodic O(table) squash that bounds read fan-in — the
    LSM rhythm a 100 TB ingest pipeline runs daily."""
    import os

    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources.sinks import artifact_root
    from omniengine_spark.sources.versioned import (
        read_version,
        vacuum,
        version_history,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    params = dict(
        n=3, num_hashes=_INC_HASHES, band_rows=_INC_BAND_ROWS,
        threshold=Fraction(4, 5),
    )
    root = artifact_root("minhash-stream", sf_dir, "documents.parquet")
    base_tag = f"minhash {_INC_HASHES}x{_INC_BAND_ROWS} stream-corpus"
    MI.build_index(
        spark, root,
        docs.filter(F.col("doc_id") % _STREAM_MOD != _STREAM_REM),
        "doc_id", "text", tag=base_tag, **params,
    )

    # the feed: stream docs written once as N files = N micro-batches
    # (hash-split on doc_id, so batch composition is deterministic;
    # the ANSWER is split-independent either way — a pair lands when
    # its later member ingests, wherever the split put it)
    incoming = f"{root}/incoming"
    feed = docs.filter(F.col("doc_id") % _STREAM_MOD == _STREAM_REM)
    if not os.path.isdir(incoming):
        (
            feed.repartition(_STREAM_BATCHES, "doc_id")
            .write.mode("overwrite")
            .parquet(incoming)
        )

    def _ingest(bdf: DataFrame, batch_id: int) -> None:
        # a micro-batch arrives as ONE file = one input partition,
        # which would serialize the 128-hash MinHash onto one core
        # (measured 9-11 s/batch vs ~3 s fanned out at sf0.1); the
        # signature work is order-free, so spread it first
        spread = bdf.repartition(
            bdf.sparkSession.sparkContext.defaultParallelism
        )
        MI.ingest_shard(
            bdf.sparkSession, root, spread, "doc_id", "text",
            tag=f"{base_tag} +batch{batch_id}", **params,
        )

    (
        # the schema of the frame that wrote the feed: re-reading the
        # feed's footers would fire a job on every call
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", f"{root}/_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    # maintenance: squash the per-batch chains, retire old versions.
    # Skipped on replay (a compacted table's history is one snapshot),
    # so a re-run serves straight from the stored index.
    ppath = MI.index_paths(root)[1]
    if len(version_history(ppath)) > 1:
        MI.compact_index(spark, root)
        for path in MI.index_paths(root):
            vacuum(path, keep_last=1)
    return read_version(spark, ppath)


# --------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr
# operation, at token-window granularity): a token position is
# DUPLICATED iff it lies inside some W-token window whose exact text
# also appears in ANOTHER document.  Window granularity makes the
# suffix-array construction distributable: any cross-doc duplicated
# run of >= W tokens contains a duplicated W-window, and the union of
# duplicated W-windows covers exactly the tokens lying in such runs —
# so merged window intervals ARE the Lee-et-al cut list, computed
# with one groupBy(gram) and two per-doc windows instead of a global
# suffix array.  Complements the existing suite: MinHash/SimHash
# flag whole near-dup DOCUMENTS, text_repetition scores WITHIN-doc
# repeats; this finds the partially-copied SPANS (boilerplate,
# licence blocks, quoted passages) that survive both.
#
# Scale shape: span rows ~ total corpus tokens (linear), one
# hash-shuffle on the 8-gram, duplicated-position rows only (a small
# fraction) reach the per-doc interval-merge windows.  No UDFs —
# slice/concat_ws/sequence higher-order functions stay in codegen.
# Reference analogue: none (the reference has no corpus tooling);
# brief-mandated LLM-pipeline extension.
# --------------------------------------------------------------------
_SPAN_W = 8


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id, i,
             array_to_string(t[i:i+{_SPAN_W - 1}], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_W - 1}))
             AS u(i)
      WHERE len(t) >= {_SPAN_W}
    ), dup AS (
      SELECT gram FROM spans
      GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT s.doc_id, s.i FROM spans s JOIN dup d USING (gram)
    ), brks AS (
      SELECT doc_id, i,
             CASE WHEN i > COALESCE(MAX(i + {_SPAN_W - 1}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), isl AS (
      SELECT doc_id, i,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM brks
    ), runs AS (
      SELECT doc_id, island, MIN(i) AS s, MAX(i + {_SPAN_W - 1}) AS e
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, SUM(e - s + 1) AS dup_tokens,
             COUNT(*) AS n_dup_runs
      FROM runs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
             AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
             / len(regexp_split_to_array(trim(d.text), '\\s+'))
             AS dup_ratio,
           CAST(COALESCE(p.n_dup_runs, 0) AS BIGINT) AS n_dup_runs
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_substring_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document duplicated-span coverage: positions of W-token
    windows whose text recurs in another document, merged into
    maximal runs (gaps-and-islands over a running max of interval
    ends — overlap OR adjacency merges, so ``dup_tokens`` counts
    each covered token once).  The run list is exactly the ExactSubstr
    cut list; this plan reports the per-doc audit a pipeline acts on
    (cut, or drop docs past a dup_ratio threshold)."""
    from pyspark.sql import Window

    # fan_out: the W-token window explode multiplies each doc into
    # ~n_tokens gram rows BEFORE the first exchange — serial on the
    # single-row-group testdata scan (no-op on a multi-split scan)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = _SPAN_W
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).withColumn("n", F.size("t"))
    spans = toks.filter(F.col("n") >= w).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (w - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i, F.lit(w))
                ),
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("i"), "gram"
    )
    dup = (
        spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = spans.join(dup, "gram").select("doc_id", "i")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brks = hits.withColumn(
        "brk",
        (
            F.col("i")
            > F.coalesce(
                F.max(F.col("i") + (w - 1)).over(w_prev), F.lit(-1)
            )
            + 1
        ).cast("int"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = brks.withColumn("island", F.sum("brk").over(w_run))
    runs = isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"),
        F.max(F.col("i") + (w - 1)).alias("e"),
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("dt"),
        F.count(F.lit(1)).alias("nr"),
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_tokens.cast("long").alias("n_tokens"),
            F.coalesce("dt", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce("dt", F.lit(0)).cast("double") / n_tokens
            ).alias("dup_ratio"),
            F.coalesce("nr", F.lit(0)).cast("long").alias("n_dup_runs"),
        )
    )


@query(
    "dedup_substring_cut",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id, i,
             array_to_string(t[i:i+{_SPAN_W - 1}], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_W - 1}))
             AS u(i)
      WHERE len(t) >= {_SPAN_W}
    ), firstdoc AS (
      SELECT gram, MIN(doc_id) AS keeper FROM spans GROUP BY gram
    ), hits AS (
      SELECT s.doc_id, s.i
      FROM spans s JOIN firstdoc f USING (gram)
      WHERE s.doc_id > f.keeper
    ), brks AS (
      SELECT doc_id, i,
             CASE WHEN i > COALESCE(MAX(i + {_SPAN_W - 1}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), isl AS (
      SELECT doc_id, i,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM brks
    ), runs AS (
      SELECT doc_id, island, MIN(i) AS s, MAX(i + {_SPAN_W - 1}) AS e
      FROM isl GROUP BY doc_id, island
    ), pos AS (
      SELECT doc_id, t[i] AS tok, i
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
    ), kept AS (
      SELECT p.doc_id, p.tok, p.i
      FROM pos p LEFT JOIN runs r
        ON p.doc_id = r.doc_id AND p.i BETWEEN r.s AND r.e
      WHERE r.s IS NULL
    ), rebuilt AS (
      SELECT doc_id,
             COUNT(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
             AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           COALESCE(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_substring_cut(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPLY the ExactSubstr cut list (Lee et al. remove all-but-one
    occurrence): a window is cut-marked in doc d iff its exact text
    also occurs in some doc with a SMALLER id — the minimum-id
    occurrence is the canonical keeper, so exactly one copy of every
    duplicated run survives the corpus-wide pass, deterministically.
    Cut-marked windows merge into runs (same gaps-and-islands kernel
    as ``dedup_substring_spans``) and the covered tokens are removed
    positionally; ``clean_text`` is the surviving tokens re-joined.
    Whitespace is normalized by construction (split + single-space
    join) on BOTH engines, so the output text is hash-comparable.

    Scale shape: unchanged from the spans plan plus one per-doc
    array rebuild — the runs ride as a collected (s, e) array per doc
    (bounded: runs <= n_tokens / W), and the token filter is a
    higher-order array expression, no explode of kept tokens."""
    from pyspark.sql import Window

    # fan_out: the W-token window explode multiplies each doc into
    # ~n_tokens gram rows BEFORE the first exchange — serial on the
    # single-row-group testdata scan (no-op on a multi-split scan)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = _SPAN_W
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).withColumn("n", F.size("t"))
    spans = toks.filter(F.col("n") >= w).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (w - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i, F.lit(w))
                ),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gram")
    firstdoc = spans.groupBy("gram").agg(
        F.min("doc_id").alias("keeper")
    )
    hits = (
        spans.join(firstdoc, "gram")
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id", "i")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brks = hits.withColumn(
        "brk",
        (
            F.col("i")
            > F.coalesce(
                F.max(F.col("i") + (w - 1)).over(w_prev), F.lit(-1)
            )
            + 1
        ).cast("int"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = (
        brks.withColumn("island", F.sum("brk").over(w_run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("i").alias("s"),
            F.max(F.col("i") + (w - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("s", "e")).alias("cut_runs")
        )
    )
    # positional filter as pure array expressions: pair each token
    # with its 1-based position, drop positions covered by any run,
    # re-join — no explode of the kept tokens
    indexed = F.zip_with(
        F.split(F.trim(F.col("text")), r"\s+"),
        F.sequence(F.lit(1), F.size(F.split(F.trim(F.col("text")), r"\s+"))),
        lambda tok, i: F.struct(tok.alias("tok"), i.alias("i")),
    )
    no_runs = F.array().cast("array<struct<s:int,e:int>>")
    covered = lambda x: F.exists(  # noqa: E731
        F.coalesce(F.col("cut_runs"), no_runs),
        lambda r: (x["i"] >= r["s"]) & (x["i"] <= r["e"]),
    )
    kept = F.filter(indexed, lambda x: ~covered(x))
    return (
        docs.join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
            F.size(kept).cast("long").alias("kept_tokens"),
            F.concat_ws(
                " ", F.transform(kept, lambda x: x["tok"])
            ).alias("clean_text"),
        )
    )


# --------------------------------------------------------------------
# North star — embedding-cosine similar pairs (τ=0.4 on this random-vector corpus; the same operator IS the near-dup dedup at τ≈0.95 on real embeddings), exact: BLAS
# blocked-matmul candidate generation (broadcast normalized reference
# matrix, Arrow-batched probe stream) + exact sequential-fold verify,
# so the result is bit-identical to the oracle's O(N²) loop at gemm
# speed.  The LSH-bucketed variant for beyond-memory scale is
# sim_lsh_ann_topk.
# --------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pair_join(
        emb, "vec_id", "embedding", threshold=0.4
    )
