"""End-to-end training-corpus pipeline: the individual text operators
(quality scoring, fingerprint dedup, token accounting — each its own
oracle-checked plan in ``textstats.py``) composed into ONE DataFrame
DAG, the way a real 100 TB data-curation job chains them.

Catalyst fuses the whole chain: metrics + filter evaluate inside one
codegen stage over the parquet scan, so the only shuffles are the
dedup hash partition and the final per-(source, lang) rollup — adding
pipeline stages costs no extra passes over the corpus, unlike the
reference's one-statement-per-step style (``sql.py:1602-1624``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniengine_spark.operators.dedup import md5_token_hash
from omniengine_spark.plans.registry import query
from omniengine_spark.plans.textstats import _STOPWORDS, _tokens
from omniengine_spark.sources import load_table


@query(
    "docpipe_clean_corpus",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, source, lang,
             md5(lower(trim(text))) AS content_md5,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x IN {tuple(_STOPWORDS)!r})) AS n_stop,
             len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
               AS n_distinct
      FROM documents
    ), scored AS (
      SELECT *,
             (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
              + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
                     THEN 1 ELSE 0 END
              + CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens >= 0.1
                     THEN 1 ELSE 0 END) AS quality_score
      FROM m
    ), kept AS (
      SELECT * FROM scored WHERE quality_score >= 2 AND n_tokens >= 5
    ), deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY content_md5 ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT content_md5) AS n_unique
    FROM deduped
    GROUP BY source, lang
    """,
)
def docpipe_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    metrics = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_md5"),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    score = (
        F.when(F.col("n_tokens").between(20, 1000), 1).otherwise(0)
        + F.when(
            F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.05, 1
        ).otherwise(0)
        + F.when(
            F.col("n_distinct").cast("double") / F.col("n_tokens") >= 0.1, 1
        ).otherwise(0)
    )
    kept = metrics.withColumn("quality_score", score).filter(
        (F.col("quality_score") >= 2) & (F.col("n_tokens") >= 5)
    )
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return deduped.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("content_md5").alias("n_unique"),
    )


# --------------------------------------------------------------------
# Deterministic stratified sampling — the "data mixing" step of a
# training pipeline: keep a fixed fraction per stratum, chosen by
# content hash so the sample is stable across runs, engines, and
# partitionings (no RNG, no seed plumbing).  1/4 of each source here;
# at 100 TB this is a pure map-side filter, no shuffle at all until
# the audit rollup.
# --------------------------------------------------------------------
@query(
    "docpipe_stratified_sample",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, source, n_chars,
             (instr('0123456789abcdef',
                    substr(md5(lower(trim(text))), 1, 1)) - 1) % 4 AS shard
      FROM documents
    )
    SELECT source,
           COUNT(*) FILTER (shard = 0) AS n_sampled,
           COUNT(*) AS n_total,
           CAST(SUM(n_chars) FILTER (shard = 0) AS BIGINT) AS sampled_chars
    FROM tagged
    GROUP BY source
    """,
)
def docpipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # first hex digit of the content hash → shard 0..15 → % 4; instr
    # keeps the expression identical in both engines (no strtol/conv)
    shard = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 1),
        )
        - 1
    ) % 4
    tagged = docs.select("doc_id", "source", "n_chars", shard.alias("shard"))
    return tagged.groupBy("source").agg(
        F.count(F.when(F.col("shard") == 0, 1)).alias("n_sampled"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("shard") == 0, F.col("n_chars"))).alias(
            "sampled_chars"
        ),
    )


# --------------------------------------------------------------------
# Sequence packing — grouping documents into fixed-token-budget bins
# for LLM pre-training batches.  Greedy sequential packing is
# inherently serial; the scalable relaxation is offset packing:
# bin = floor(running_token_total / budget) within each stratum — one
# partitioned window, deterministic, and within 1 doc of greedy fill.
# --------------------------------------------------------------------
@query(
    "docpipe_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / 2048.0) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed
    GROUP BY source, bin_id
    """,
)
def docpipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(_tokens(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # bin by the running total *before* this doc, so a doc lands in
    # the bin it starts in and no bin overruns by more than one doc.
    packed = toks.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0
        ).cast("bigint"),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


_MIX_BASE = 0.5  # keep fraction for the largest group


@query(
    "docpipe_temperature_mix",
    oracle=f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
    ), m AS (
      SELECT MAX(n_l) AS n_max FROM c
    ), r AS (
      SELECT lang,
             LEAST(1.0, {_MIX_BASE} * sqrt(CAST(n_max AS DOUBLE))
                          / sqrt(CAST(n_l AS DOUBLE))) AS keep_rate
      FROM c CROSS JOIN m
    )
    SELECT d.doc_id, d.lang, d.source, r.keep_rate
    FROM documents d JOIN r USING (lang)
    WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
               AS UBIGINT) AS BIGINT) / 4503599627370496.0 < r.keep_rate
    """,
)
def docpipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted data mixing (the α=0.5 rule every
    multilingual-corpus recipe uses): each language keeps docs at a
    rate ∝ n^(-1/2) relative to the largest language, capped at 1 —
    low-resource languages are upsampled relative to the head.

    The keep decision is a deterministic per-doc md5 coin (first 13
    hex chars / 2^52), so the sample is reproducible, shard-stable
    under repartitioning, and exactly reproduced by the oracle.  The
    rate formula is sqrt/division/multiply on exact integers — three
    correctly-rounded IEEE ops, bit-identical across engines, with no
    float SUM whose accumulation order could drift.

    Scale: one tiny groupBy for the rates (broadcast back), then a
    map-side filter — the corpus is scanned once and never shuffled.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    n_max = counts.agg(F.max("n_l").alias("n_max"))
    rates = counts.crossJoin(F.broadcast(n_max)).select(
        "lang",
        F.least(
            F.lit(1.0),
            F.lit(_MIX_BASE)
            * F.sqrt(F.col("n_max").cast("double"))
            / F.sqrt(F.col("n_l").cast("double")),
        ).alias("keep_rate"),
    )
    frac = md5_token_hash(F.col("doc_id").cast("string"), 52) / F.lit(
        float(2**52)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(frac < F.col("keep_rate"))
        .select("doc_id", "lang", "source", "keep_rate")
    )


_CHUNK, _OVERLAP = 50, 10  # tokens per chunk / overlap between chunks
_STRIDE = _CHUNK - _OVERLAP


@query(
    "docpipe_chunk_sliding",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t, len(t) AS n,
             unnest(range(1, greatest(1, len(t) - {_OVERLAP}) + 1,
                          {_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(least({_CHUNK}, n - s + 1) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(t, s, s + {_CHUNK} - 1), ' ')
             AS chunk_text
    FROM starts
    """,
)
def docpipe_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the pretraining / RAG prep
    step): fixed 50-token windows advancing by 40 so consecutive
    chunks share 10 tokens of context; the final
    window is clipped to the document tail, and short docs yield one
    chunk.  Start positions come from ``sequence()`` + ``explode`` —
    one generator inside codegen, no UDF — so a 100 TB corpus chunks
    in a single map-side pass with zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).withColumn("n", F.size("t"))
    starts = toks.select(
        "doc_id",
        "t",
        "n",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.col("n") - F.lit(_OVERLAP)),
                F.lit(_STRIDE),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / F.lit(_STRIDE))
        .cast("long")
        .alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("s") + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("t"), F.col("s"), F.lit(_CHUNK)), " "
        ).alias("chunk_text"),
    )


_N_SHARDS = 8


@query(
    "docpipe_shard_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 15)) AS UBIGINT) AS BIGINT)
               AS hv
      FROM documents
    )
    SELECT doc_id,
           hv % {_N_SHARDS} AS shard,
           ROW_NUMBER() OVER (
             PARTITION BY hv % {_N_SHARDS} ORDER BY hv, doc_id
           ) AS pos
    FROM h
    """,
)
def docpipe_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into dataloader shards: every doc
    lands in shard md5(id) mod S at position rank-of-hash — a
    reproducible random permutation with no RNG state, stable under
    repartitioning and re-runs (the property a resumable training job
    needs).  One hash-partition shuffle + per-shard sort; shards stay
    balanced because md5 is uniform."""
    docs = load_table(spark, sf_dir, "documents")
    hv = md5_token_hash(F.col("doc_id").cast("string"))
    h = docs.select("doc_id", hv.alias("hv"))
    w = Window.partitionBy(F.col("hv") % _N_SHARDS).orderBy(
        "hv", "doc_id"
    )
    return h.select(
        "doc_id",
        (F.col("hv") % _N_SHARDS).alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )
