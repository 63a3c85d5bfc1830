"""Persistent MinHash-LSH dedup index: build once, ingest shards
forever — the operating loop of a production training-data pipeline.

The one-shot ``minhash_lsh_pairs`` rescans and re-shingles the whole
corpus per run; a 100 TB pipeline instead ingests each new crawl
shard against a PERSISTED index and pays only shard-proportional
work.  Three versioned warehouse tables (``sources.versioned``) hold
the full index state:

    <root>/band_entries   (doc_id, n_sh, band, bucket)  — the
                          joinable LSH index (signatures are a pure
                          function of content, so entries computed
                          today band-join exactly against entries
                          stored last month)
    <root>/pairs          (doc_a, doc_b, jaccard)       — verified
                          near-duplicate pairs over everything
                          ingested so far
    <root>/shingles       (doc_id, hs)                  — hashed
                          shingle sets, so the exact-verify stage
                          never returns to the raw documents

``ingest_shard`` per shard costs:
  - |shard| signatures + shingle sets (the only document scan, and
    it reads ONLY the shard);
  - a band-join of shard entries against stored entries (shuffle
    ∝ |shard| + matching buckets, not corpus size);
  - an exact verify whose shingle inputs are SEMI-JOINED down to
    candidate-touched doc ids — round 8 shipped this stage reading
    the full corpus∪shard, a complete re-scan + re-shingle per
    ingest that contradicted the operator's purpose; now corpus
    shingle sets come from the persisted table pruned to candidates
    (tests/test_operators.py pins the pruning);
  - three DELTA commits (``versioned.commit_once(delta=True)``)
    writing only shard-sized parquet, so shard N+1 sees shard N
    without any table ever being rewritten.

Equality with the one-shot run over the union is exact, not
probabilistic-modulo-banding: banding stored∪shard entries finds
EXACTLY the candidate pairs a one-shot band-join over the union
finds, and the verify math is the same ``_verify_jaccard`` fold —
``tests/test_operators.py`` pins two sequential shard ingests
against one ``minhash_lsh_pairs`` over the whole corpus.

Reference analogue: the seen-tx skip (``sql.py:382-384``)
generalized from transaction identity to content identity.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniengine_spark.operators.dedup import (
    _verify_jaccard,
    band_candidates,
    band_candidates_cross,
    hashed_shingle_docs,
    minhash_band_entries,
)
from omniengine_spark.sources.versioned import (
    DeltaConflictError,
    commit_once,
    read_commit,
    read_version,
    version_history,
)

# a shard delta smaller than this on disk gets an explicit broadcast
# hint into the band join / verify semi-join (parquet-backed sizes
# make the hint safe to gate on); bigger shards fall back to the
# shuffle join — still shard-proportional, just not map-side
_BROADCAST_BYTES = 64 << 20
# conflict-retries per ingest: each retry means another writer landed
# a commit between our tip read and publish — bounded only to turn a
# livelock (pathological contention) into an error instead of a hang
_MAX_CONFLICT_RETRIES = 16

ENTRIES, PAIRS, SHINGLES = "band_entries", "pairs", "shingles"


def index_paths(root: str) -> tuple[str, str, str]:
    return f"{root}/{ENTRIES}", f"{root}/{PAIRS}", f"{root}/{SHINGLES}"


def build_index(
    spark: SparkSession,
    root: str,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    band_rows: int = 4,
    threshold: Fraction = Fraction(4, 5),
    tag: str,
) -> None:
    """Corpus-ingest day: shingle + sign the corpus ONCE, self-dedup
    it, and persist all three index tables as version 1.  The one
    full-corpus scan the lifecycle ever performs; a table that already
    holds ``tag`` is not rebuilt (``versioned.commit_once``).

    Shingles commit BEFORE entries — the visibility invariant every
    writer keeps (see ``ingest_shard``): a doc whose band entries are
    visible always has its shingle set visible, so a concurrent
    ingester's verify stage (which reads the shingles TIP) can never
    meet a candidate it cannot verify."""
    epath, ppath, spath = index_paths(root)
    commit_once(
        spath, tag, lambda: hashed_shingle_docs(corpus, id_col, text_col, n)
    )
    commit_once(
        epath, tag,
        lambda: minhash_band_entries(
            corpus, id_col, text_col, n, num_hashes, band_rows
        ),
    )
    commit_once(
        ppath, tag,
        lambda: _verify_jaccard(
            band_candidates(
                read_version(spark, epath),
                read_version(spark, epath),
                threshold,
            ),
            read_version(spark, spath),
            threshold,
        ),
    )


def _dir_bytes(path: str) -> int:
    from pathlib import Path
    from urllib.parse import unquote, urlparse

    if "://" in path or path.startswith("file:"):
        path = unquote(urlparse(path).path)
    return sum(
        f.stat().st_size for f in Path(path).rglob("*") if f.is_file()
    )


def _maybe_broadcast(df: DataFrame, delta_dir: str) -> DataFrame:
    return (
        F.broadcast(df)
        if _dir_bytes(delta_dir) < _BROADCAST_BYTES
        else df
    )


def _commit_shard_frames(
    spark: SparkSession,
    root: str,
    shard: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int,
    num_hashes: int,
    band_rows: int,
    tag: str,
) -> tuple[DataFrame, int]:
    """Compute the shard's shingle sets + band entries ONCE, commit
    them as delta versions (shingles FIRST — the visibility invariant
    concurrent ingest relies on), and hand back (entries,
    base_entries_version) with the entries frame re-read from its
    just-written delta dir: parquet-backed frames carry accurate size
    stats, so the band join and verify semi-join can broadcast a
    small shard instead of shuffling the corpus index.  A delta that
    already landed (crash-retry, conflict-retry) is reused, never
    duplicated."""
    epath, _, spath = index_paths(root)
    commit_once(
        spath, tag,
        lambda: hashed_shingle_docs(shard, id_col, text_col, n),
        delta=True,
    )
    mine = commit_once(
        epath, tag,
        lambda: minhash_band_entries(
            shard, id_col, text_col, n, num_hashes, band_rows
        ),
        delta=True,
    )
    return read_commit(spark, epath, mine), mine["base"]


def _ingest_plan(
    spark: SparkSession,
    root: str,
    shard_entries: DataFrame,
    base_entries: int,
    threshold: Fraction,
) -> tuple[DataFrame, DataFrame]:
    """The lazy shard-vs-corpus pipeline over ALREADY-COMMITTED shard
    deltas: (verify_docs, new_pairs).  Exposed separately so tests
    can assert the exact production plan shape — in particular that
    ``verify_docs`` is the persisted shingle table semi-joined to
    candidate ids, never a corpus re-shingle.

    The band join reads entries at THIS shard's delta base (everything
    committed before us — candidates against later concurrent shards
    are those writers' responsibility, so no pair is emitted twice);
    the verify reads the shingles TIP, which by the shingles-before-
    entries commit order is a superset of every doc visible in any
    entries chain — including this shard's own sets, so no union with
    the shard frame is needed (doc ids are committed once, keeping
    the verify input duplicate-free)."""
    epath, _, spath = index_paths(root)
    stored_entries = read_version(spark, epath, base_entries)
    all_shingles = read_version(spark, spath)
    e_files = shard_entries.inputFiles()
    small_e = (
        _maybe_broadcast(shard_entries, e_files[0].rsplit("/", 1)[0])
        if e_files
        else F.broadcast(shard_entries)  # empty shard: trivially small
    )

    # one normalized cross join (single scan of the corpus index,
    # shard side broadcast when small) plus the within-shard
    # self-join; both emit (least, greatest) pairs so distinct dedups
    cand = (
        band_candidates_cross(small_e, stored_entries, threshold)
        .unionByName(
            band_candidates(shard_entries, shard_entries, threshold)
        )
        .distinct()
    )
    # exact-verify reads shingle sets ONLY for candidate-touched docs:
    # the persisted index semi-joined to the (tiny, broadcast)
    # candidate id set — the raw corpus documents are never touched
    cand_ids = F.broadcast(
        cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
    )
    verify_docs = all_shingles.join(cand_ids, "doc_id", "left_semi")
    new_pairs = _verify_jaccard(cand, verify_docs, threshold)
    return verify_docs, new_pairs


def ingest_shard(
    spark: SparkSession,
    root: str,
    shard: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    band_rows: int = 4,
    threshold: Fraction = Fraction(4, 5),
    tag: str,
) -> DataFrame:
    """Dedup ``shard`` against the persisted index, COMMIT the shard
    back (delta versions of all three tables — shard-sized writes,
    no table rewrite), and return the complete post-ingest pair set
    read from the committed snapshot.  Idempotent per ``tag``: a
    replay whose tag is already committed returns the stored pairs
    without recomputing or re-committing, and a crash-retry reuses
    whichever per-table deltas already landed.

    CONCURRENT-WRITER SAFE: delta commits are optimistic
    (``versioned.DeltaConflictError`` when another ingest moved a
    table's tip); on conflict the loop re-reads the new tip and
    re-ingests against it, so racing shards serialize per table and
    the later committer on the entries chain finds the cross-shard
    pairs.  Correctness under any interleaving rests on two
    invariants kept here and in ``build_index``: (1) a shard's
    shingles commit before its entries, so every entries-visible doc
    is verifiable; (2) the band join targets everything before THIS
    shard on the entries chain, so each cross pair is found exactly
    once — by whichever shard committed entries later."""
    ppath = index_paths(root)[1]

    def new_pairs() -> DataFrame:
        entries_pq, base_e = _commit_shard_frames(
            spark, root, shard, id_col, text_col,
            n=n, num_hashes=num_hashes, band_rows=band_rows, tag=tag,
        )
        return _ingest_plan(spark, root, entries_pq, base_e, threshold)[1]

    last_err: Exception | None = None
    for _ in range(_MAX_CONFLICT_RETRIES):
        try:
            commit_once(ppath, tag, new_pairs, delta=True)
            return read_version(spark, ppath)
        except DeltaConflictError as err:
            last_err = err
    raise last_err


def compact_index(spark: SparkSession, root: str) -> None:
    """Squash each index table's delta chain into one snapshot
    (``versioned.compact``) so a later ``vacuum`` can retire the
    per-shard versions — the periodic O(corpus) maintenance that
    bounds read fan-in after many shard ingests.  The snapshot
    carries the CURRENT tag as its description, so ``ingest_shard``'s
    tag-based idempotency is unaffected by when compaction runs."""
    from omniengine_spark.sources.versioned import compact

    tag = version_history(index_paths(root)[1])[-1]["description"]
    for path in index_paths(root):
        compact(spark, path, description=tag)
