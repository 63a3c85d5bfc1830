"""Deduplication operators for large corpora.

Generalizes the reference's only dedup surface — the triple-LIKE
duplicate-property scan (reference ``sql.py:1602-1624``, a quadratic
per-row LIKE) — into the standard scale-out toolkit:

* exact duplicates   — hash-group on normalized content, one shuffle
* n-gram Jaccard     — *prefix-filtered* exact similarity join: only
  the first shingles of each document under a fixed global order are
  indexed, which provably cannot miss a pair above the threshold, so
  candidate generation shuffles a small fraction of the shingle
  postings (the PPJoin prefix principle, hash-ordered)
* MinHash + LSH      — per-row signatures (no shuffle), banded
  bucketing join for candidates, exact verification of survivors
* SimHash            — 64-bit per-row sketch + pigeonhole banding for
  Hamming-distance pairs

Everything is built-in column expressions — signatures are computed
with ``transform``/``aggregate`` over arrays inside codegen, never a
Python UDF; joins are plain shuffles Catalyst can plan.

Scale notes: at 100 TB the shingle-posting self-join dominates; the
prefix filter bounds postings per doc at ``(1-t)·|doc|+1`` of the
*rarest* shingles, so bucket sizes stay small and skew-free (AQE
skew-join handles pathological shingles).  MinHash signatures are
computed in a single map pass over documents and are 64×8 bytes per
doc regardless of doc size.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniengine_spark.sources.catalog import checkpoint, persist


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: trimmed, lowercased,
    whitespace-collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _shingle_expr(toks: Column, n: int) -> Column:
    """Distinct word n-grams from an already-tokenized array column.

    ``toks`` MUST be a materialized attribute, not an inline
    ``split(...)`` expression: HOF lambdas are interpreted, and an
    inlined split would be re-evaluated for every element (measured
    13× slower on the documents table).  ``shingle_docs`` below sets
    up the required two-projection shape.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(gram)


def shingle_docs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc_id, sh) with sh = distinct n-gram shingle array; documents
    with fewer than n tokens are dropped (no shingles)."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    ).filter(F.size("toks") >= n)
    # Filtering on toks (not on size(sh)) matters: a filter above the
    # shingle projection is pushed below it and re-evaluates the whole
    # shingle expression per row (measured 6×).  ≥n tokens ⟺ ≥1 shingle.
    return toked.select(
        "doc_id", _shingle_expr(F.col("toks"), n).alias("sh")
    )


def hashed_shingle_docs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc_id, hs) with hs = sorted xxhash64 array of the shingle set.

    Downstream set arithmetic (prefix slicing, intersection counts)
    runs on 8-byte longs instead of ~25-byte strings: shuffle rows
    shrink ~3× and comparisons are integer.  A 64-bit collision could
    in principle merge two shingles; at corpus scale the probability
    is ~n²/2⁶⁴ per document — ignored, and the exact-string oracle in
    tests confirms parity on the test corpus.
    """
    docs = shingle_docs(df, id_col, text_col, n)
    return docs.select(
        "doc_id",
        F.array_sort(F.transform("sh", lambda s: F.xxhash64(s))).alias("hs"),
    )


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Map every row to its canonical (minimum-id) exact duplicate.

    One hash-shuffle on the normalized content (in practice on its
    md5, keeping shuffle rows narrow at 100 TB).
    """
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(F.col(text_col))).alias("content_key"),
    )
    w = Window.partitionBy("content_key")
    return d.select(
        "doc_id",
        "content_key",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.count(F.lit(1)).over(w) > 1).alias("has_duplicates"),
    )


def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: Fraction = Fraction(4, 5),
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold over n-gram shingle sets,
    via prefix filtering.

    Guarantee: order shingles by global document frequency (rarest
    first).  If J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and the
    smallest common shingle must sit within the first
    |X| − ⌈t·|X|⌉ + 1 shingles of *both* documents — so joining only
    on those prefixes cannot miss a qualifying pair.  Survivors are
    verified with the exact intersection size.

    Construction note: the posting/prefix frames are cut out of the
    plan with localCheckpoints at BUILD time (the API call plans the
    subtree immediately — Catalyst can never re-inline the
    interpreted shingle HOF into the join branches, the documented 7×
    trap), but materialization is LAZY: the checkpoint jobs fold into
    the caller's first action instead of running when this function
    is called, so explain-only callers pay planning, not execution.
    """
    t_num, t_den = threshold.numerator, threshold.denominator

    docs = hashed_shingle_docs(df, id_col, text_col, n)

    # Prefix filtering is correct under ANY fixed global shingle
    # order.  Rounds 1-6 used hash order (computable per row: sort +
    # slice, no extra shuffle); round 7's realistic-vocabulary soak
    # measured it BUCKET-BOUND on Zipfian corpora (e≈+1.5 at the
    # 250k→1.25M-doc decade): a hot shingle lands in a doc's prefix
    # with probability prefix_len/|doc| regardless of its corpus
    # frequency, so a shingle shared by m docs seeds Θ((m·L/|d|)²)
    # candidate pairs and the head of the Zipf curve dominates the
    # join.  The classic AllPairs/PPJoin remedy — order the universe
    # by GLOBAL DOCUMENT FREQUENCY ascending (ties by hash) — makes
    # each doc's prefix its RAREST shingles: a shingle with df=m can
    # only bucket m docs if it survives to all their prefixes, which
    # frequency-ascending order makes rare by construction.  Cost:
    # one linear df-aggregate over the posting rows plus re-collecting
    # each doc's ordered array (both shuffles linear in corpus size,
    # ~N·|d| skinny rows) — bought back many times over at scale.
    # (df, h) is a consistent global total order because df is a
    # global property of the shingle; both engines sort the identical
    # (BIGINT, BIGINT) pairs, so the prefix sets — and therefore the
    # candidate superset — stay deterministic.  Hash collisions only
    # ever ADD candidates, never drop pairs.
    #
    # q=2 PAIR-prefix: the single-hash scheme is bucket-bound — when
    # the shingle space saturates (low-entropy corpora: S possible
    # shingles ≪ N·prefix postings) candidates grow Θ(P²/S) for P
    # postings, i.e. quadratic in N (measured 9.2M candidates for
    # 1,983 true pairs at 50k docs; e≈+1.76 at sf1→sf5).  The
    # multi-prefix generalization: if |A∩B| ≥ o ≥ q then the q
    # smallest common hashes ALL sit within the first
    # |X| − o + q hashes of each doc (the i-th smallest common hash
    # has ≥ o−i intersection elements after it, so its position is
    # ≤ |X| − o + i).  With q=2 the join key becomes an ORDERED PAIR
    # of prefix hashes — the key space squares to ~S²/2, so the same
    # candidate formula Θ(P²/S²) collapses by a factor of S.  Because
    # ``hs_ord`` is a consistent global total order, both docs emit
    # the shared pair in the same (df, h)-ascending order — no
    # canonicalization join needed (the pair is ordered by position
    # in the global df-ascending ranking, not by raw hash value).
    # Per-doc
    # o ≥ ⌈t·|X|⌉ bounds the pair-level o = ⌈t·max(|A|,|B|)⌉ from
    # below, so per-doc prefix lengths stay valid.
    # ``pre`` carries the q=2 prefix (n − ⌈t·n⌉ + 2); the q=1 layer
    # filters it down to its own length, so one frame serves both.
    # localCheckpoint: ``pre`` feeds every join branch below.  Left
    # lazy, Catalyst re-inlines the interpreted shingle HOF into
    # every branch — and worse, pushes derived filters beneath the
    # generate with the whole shingle expression substituted in,
    # re-evaluating it per corpus row (the documented shingle_docs
    # trap; measured 7× on the end-to-end plan).  The frame is
    # bounded: N·prefix_len skinny rows.
    # localCheckpoint: ``inst`` feeds BOTH the dfreq aggregate and the
    # join side of ``ranked`` — left lazy, the interpreted shingle HOF
    # is re-evaluated in two extra full passes before ``pre``'s own
    # checkpoint (the documented HOF re-evaluation trap, measured 7×
    # on this family).  The frame is N·|d| skinny (long, long) rows.
    # Trade-off accepted at this site: local checkpoint blocks are
    # non-replicated — an executor loss during the downstream joins
    # fails the job instead of recomputing lineage.  On a long-lived
    # 100 TB cluster prefer reliable ``checkpoint()`` to an HDFS dir;
    # locally the job-restart cost is trivial and the 7× win stands.
    inst = checkpoint(
        docs.select("doc_id", F.explode_outer("hs").alias("h"))
    )
    dfreq = inst.groupBy("h").agg(F.count(F.lit(1)).alias("dfr"))
    ranked = (
        inst.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("dfr", "h")).alias("rh"))
        .select(
            "doc_id",
            F.size("rh").alias("n_sh"),
            # array_sort on (dfr, h) structs = the global
            # frequency-ascending order, decided per doc on a tiny
            # in-memory array (no window sort over the corpus)
            F.transform(F.array_sort("rh"), lambda s: s["h"]).alias(
                "hs_ord"
            ),
        )
    )
    prefix_len2 = (
        F.size("hs_ord")
        - F.expr(f"({t_num} * size(hs_ord) + {t_den} - 1) div {t_den}")
        + 2
    )
    pre = checkpoint(
        ranked.select(
            "doc_id",
            "n_sh",
            F.posexplode_outer(F.slice("hs_ord", F.lit(1), prefix_len2)),
        ).select("doc_id", "n_sh", "pos", F.col("col").alias("h"))
    )

    # A TRIPLE key (q=3) was measured 2-4.5× slower than q=2 at sf5
    # and sf25 (COVERAGE.md), so the pair key is the one arity.
    # C(L,2) ordered hash pairs per doc via a doc-local self-join:
    # codegen'd SMJ on doc_id (an interpreted HOF nested-transform
    # emitting the same pairs measured ~7 µs per element — the join
    # keeps pair emission JVM-side and shuffle-bounded).
    pairs = (
        pre.alias("x")
        .join(
            pre.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.pos") < F.col("y.pos")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id"),
            F.col("x.n_sh").alias("n_sh"),
            F.col("x.h").alias("h1"),
            F.col("y.h").alias("h2"),
        )
    )
    # length filter (PPJoin): J(A,B) ≥ t ⟹ t·|B| ≤ |A| — pairs whose
    # set sizes differ by more than 1/t can never qualify, so the
    # residual prunes them at the join instead of at exact-verify.
    cand2 = (
        pairs.alias("a")
        .join(
            pairs.alias("b"),
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_num <= F.col("b.n_sh") * t_den)
            & (F.col("b.n_sh") * t_num <= F.col("a.n_sh") * t_den),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    # q=2 needs pair overlap o = ⌈t·max⌉ ≥ 2.  o = 1 forces BOTH set
    # sizes ≤ ⌊1/t⌋ (and the length filter already confines such pairs
    # to each other), so the classic q=1 single-hash join over just
    # the ≤⌊1/t⌋-shingle docs is the complete fallback — an empty
    # frame at t > 1/2 n-gram settings on any real corpus, but it
    # keeps the operator exact for every threshold.
    # Derived from the checkpointed ``pre``, NOT by re-filtering
    # ``docs`` — a size(hs) filter there would push beneath the scan
    # with the shingle HOF inlined (see above).  The q=1 prefix is a
    # strict prefix of the q=2 prefix (one element shorter), so the
    # tiny postings are exactly pre's rows at pos < len1.
    prefix_len1 = (
        F.col("n_sh")
        - F.expr(f"({t_num} * n_sh + {t_den} - 1) div {t_den}")
        + 1
    )
    tprefix = pre.filter(
        (F.col("n_sh") * t_num <= t_den) & (F.col("pos") < prefix_len1)
    ).select("doc_id", "n_sh", F.col("h").alias("shash"))
    cand1 = (
        tprefix.alias("a")
        .join(
            tprefix.alias("b"),
            (F.col("a.shash") == F.col("b.shash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_num <= F.col("b.n_sh") * t_den)
            & (F.col("b.n_sh") * t_num <= F.col("a.n_sh") * t_den),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    cand = cand2.unionByName(cand1).distinct()

    return _verify_jaccard(cand, docs, threshold)


def _verify_jaccard(
    cand: DataFrame, docs: DataFrame, threshold: Fraction
) -> DataFrame:
    """Exact-verify candidate pairs: join the hashed shingle sets back
    on and compute |A∩B| / |A∪B| with integer sizes (bit-stable
    double).  ``docs`` must be ``hashed_shingle_docs`` output."""
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    j = inter.cast("double") / union.cast("double")
    thresh = threshold.numerator / threshold.denominator
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= thresh)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures via explode → k codegen'd min-aggregates.

    The k seeded xxhash64 values per shingle are plain JVM expressions
    inside whole-stage codegen (HOF lambdas would be interpreted and,
    worse, re-inlined by projection collapse into every downstream
    band expression).  Map-side combine reduces each partition to one
    k-long row per doc before the shuffle, so the exchange carries
    |docs| × k longs regardless of document size.  The agg is also a
    materialization barrier: downstream banding reads sig[i] as cheap
    array indexing instead of recomputing the signature.
    """
    posting = shingle_docs(df, id_col, text_col, n).select(
        # explode_outer: see jaccard_similarity_join — avoids the
        # inferred size()>0 filter re-evaluating the shingle HOF.
        # The shingle STRING is hashed to a long ONCE; the k minwise
        # functions then hash (i, long) — fixed 12-byte inputs instead
        # of k full passes over ~25-byte UTF8 shingles.  At 128 hashes
        # over a 72M-shingle corpus that string re-scan was the single
        # hottest aggregate in the suite (measured ~200 s/task on the
        # 1.25M-doc rung).  Collisions of the outer hash only MERGE
        # two shingles (~n²/2⁶⁴ per doc, same bound as
        # hashed_shingle_docs, which the exact verify already rides
        # on); the minwise property per function is unchanged.
        "doc_id", F.explode_outer("sh").alias("shingle")
    ).select("doc_id", F.xxhash64("shingle").alias("shash"))
    # n_sh rides in the same agg for free (posting rows are the doc's
    # distinct shingles): downstream banding uses it as the PPJoin
    # length filter
    return (
        posting.groupBy("doc_id")
        .agg(*_sig_agg_exprs(num_hashes))
        .select("doc_id", "n_sh", "sig")
    )


def _sig_agg_exprs(num_hashes: int):
    """The signature aggregate as TWO parsed expressions total.

    Even parsed per-element form (k × ``F.expr("min(...)")``) costs
    ~6 ms of py4j round trip per call — 0.75 s of pure driver time per
    plan build at k=128 (measured).  One ``array(min(…), …)`` string
    keeps the identical aggregate set (Spark extracts each ``min`` into
    the agg and builds the array in the result projection) at ONE round
    trip.  Values bit-equal: int literal seeds type the same way."""
    mins = ", ".join(
        f"min(xxhash64({i}, shash))" for i in range(num_hashes)
    )
    return (
        F.expr(f"array({mins}) AS sig"),
        F.expr("count(1) AS n_sh"),
    )


def _band_explode_expr(num_hashes: int, band_rows: int):
    """Banded-bucket explode as ONE parsed expression (same py4j
    rationale as ``_sig_agg_exprs``; the former per-band struct DSL
    cost ~1.3 s per plan build at 32 bands)."""
    structs = ", ".join(
        "struct({} AS band, xxhash64({}) AS bucket)".format(
            bi,
            ", ".join(
                f"sig[{bi * band_rows + r}]" for r in range(band_rows)
            ),
        )
        for bi in range(num_hashes // band_rows)
    )
    return F.expr(f"explode(array({structs})) AS bb")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    threshold: Fraction = Fraction(4, 5),
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact verify.

    With 32 bands of 2 rows, a pair at Jaccard 0.8 is missed with
    probability (1−0.8²)³² ≈ 6·10⁻¹⁵ — candidates are then verified
    exactly, so the output equals the exact similarity join with
    overwhelming probability while only ever shuffling signatures.
    """
    # ONE shingle+hash scan, cached: signatures (via the exploded hs
    # multiset — the same xxhash64-of-shingle values minhash posting
    # hashed, order-free under min/count) and BOTH sides of the exact
    # verify join read the cached frame.  Unpersisted, the full
    # tokenize → shingle → hash subtree executed 3× per pairs build
    # (once for the signature posting, once per verify side).
    docs = persist(hashed_shingle_docs(df, id_col, text_col, n))
    posting = docs.select(
        "doc_id", F.explode_outer("hs").alias("shash")
    )
    sigs = (
        posting.groupBy("doc_id")
        .agg(*_sig_agg_exprs(num_hashes))
        .select("doc_id", "n_sh", "sig")
    )
    band_entries = sigs.select(  # sig[i] is post-agg array indexing
        "doc_id", "n_sh", _band_explode_expr(num_hashes, band_rows)
    ).select("doc_id", "n_sh", "bb.band", "bb.bucket")
    cand = band_candidates(band_entries, band_entries, threshold)
    return _verify_jaccard(cand, docs, threshold)


def minhash_band_entries(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
) -> DataFrame:
    """Banded signature rows (doc_id, n_sh, band, bucket) — the
    JOINABLE form of the MinHash index, and the thing an incremental
    pipeline PERSISTS: signatures are a pure function of document
    content, so entries computed today band-join exactly against
    entries stored last month (``plans.dedup.dedup_incremental_shard``
    rides on this)."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    return sigs.select(  # sig[i] is post-agg array indexing
        "doc_id", "n_sh", _band_explode_expr(num_hashes, band_rows)
    ).select("doc_id", "n_sh", "bb.band", "bb.bucket")


def band_candidates(
    a: DataFrame, b: DataFrame, threshold: Fraction
) -> DataFrame:
    """Distinct candidate pairs from a band-bucket join of two
    band-entry frames (same frame = the classic self-join; disjoint
    frames = shard-vs-corpus, where the caller unions BOTH
    orientations since the a<b residual keeps only pairs whose lower
    id sits in ``a``).  Pairs always emit in (least, greatest) doc-id
    order, so candidates from different frame pairings union cleanly.

    Band candidates are inherently ∝ N²·P(random band collision) —
    the LSH scale lever is band_rows (collision P ≈ E[J^r]) traded
    against the miss bound (1−t^r)^b.  What IS free: the PPJoin
    length filter as a join residual — J ≥ t ⟹ t·|B| ≤ |A| — which
    discards size-mismatched random collisions before their shingle
    arrays are ever shuffled into the exact verify (sizes on this
    corpus are ~uniform 8–108 shingles, so ~4 of 5 random band
    collisions die here)."""
    t_num, t_den = threshold.numerator, threshold.denominator
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_num <= F.col("b.n_sh") * t_den)
            & (F.col("b.n_sh") * t_num <= F.col("a.n_sh") * t_den),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def band_candidates_cross(
    small: DataFrame, big: DataFrame, threshold: Fraction
) -> DataFrame:
    """Cross-frame band candidates in ONE join: both orientations of
    ``band_candidates(a, b) ∪ band_candidates(b, a)`` collapse into a
    single (band, bucket) join with ids normalized to (least,
    greatest) — one scan of the big frame instead of two, which
    matters when ``big`` is a persisted corpus index and ``small`` a
    freshly-ingested shard.  The caller broadcasts ``small`` when its
    size is known; the PPJoin length residual is symmetric, so it
    filters identically to the two-orientation form."""
    t_num, t_den = threshold.numerator, threshold.denominator
    return (
        small.alias("a")
        .join(
            big.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_num <= F.col("b.n_sh") * t_den)
            & (F.col("b.n_sh") * t_num <= F.col("a.n_sh") * t_den),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
    jump_from: int = 3,
) -> DataFrame:
    """Cluster assignment from a near-duplicate pair list: each node
    gets the minimum id reachable through the pair graph (its
    connected component's canonical representative).

    Iterative min-label propagation: every round each node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are shallow).
    The loop is driver-side but each round is one distributed join +
    aggregate; ``localCheckpoint`` truncates the growing lineage.
    This is the missing last step of every dedup pipeline — pairs
    alone don't dedupe; clusters pick the keeper.

    Convergence is detected with a ``sum(label)`` fingerprint: every
    update is a ``least()``, so the label sum is strictly decreasing
    until the fixpoint — an unchanged sum IS convergence (no join
    needed; falls back to a join-based diff for non-numeric ids).
    The first ``jump_from`` rounds are plain propagation (enough for
    the shallow components near-dup graphs actually have, and one
    join cheaper per round); from then on — the long-chain regime —
    pointer jumping (adopt your label's label) kicks in, making
    remaining progress O(log diameter) per round instead of O(1)
    hops.  Callers that KNOW their graph is deep (wallet change
    chains, linked-list-shaped fixtures) pass ``jump_from=0`` to
    jump from the first round.

    Only nodes that appear in the pair graph iterate: an isolated node
    can never receive a neighbor label, so its cluster is itself by
    construction and it joins back in one final left join.  Near-dup
    graphs are sparse — touched nodes ≈ 2·|pairs| ≪ |corpus| — so
    every propagation round works on the small frame (which Spark then
    broadcasts into the edge join) instead of re-shuffling the whole
    corpus per round.
    """
    # materialize once: the pair-generation pipeline (LSH etc.) must
    # not re-execute on every propagation round; round 1's fingerprint
    # job saves the checkpoint
    edges = checkpoint(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    # both edge directions are present, so src alone covers every
    # endpoint of the graph
    labels = checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    numeric_ids = isinstance(
        labels.schema["label"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.DecimalType),
    )
    # A clean corpus produces ZERO pairs — labels is empty and every
    # propagation round is a no-op.  For numeric ids round 1's sum
    # fingerprint detects that for free (NULL ⟺ zero label rows, see
    # below — node ids are non-null by construction); only the
    # non-numeric fallback still needs a driver-side emptiness probe,
    # because its join-based diff cannot distinguish "no changes"
    # from "no rows".
    if not numeric_ids and labels.isEmpty():
        return nodes.select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
        )
    prev_fp = None
    for it in range(max_iters):
        nbr_min = (
            edges.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if it >= jump_from:
            # TWO pointer jumps per round: one hop+jump doubles the
            # covered distance per round (log₂ rounds); a second jump
            # in the same round quadruples it (log₄) — on the ~30-deep
            # wallet chains that is 3 rounds instead of 5, and each
            # saved round is a whole job barrier while the extra jump
            # is one more join inside the same job (A/B: 5→3 rounds,
            # ~1 s, output checksum identical — the fixpoint label is
            # min-reachable either way).  Lazy checkpoints between
            # jumps keep the self-join from doubling the lineage and
            # are materialized by the SAME job that computes the
            # round's fingerprint below (an eager checkpoint here cost
            # one extra job barrier per jump round).
            for _ in range(2):
                stepped = checkpoint(stepped)
                via = stepped.select(
                    F.col("node").alias("label"),
                    F.col("label").alias("label2"),
                )
                stepped = stepped.join(via, "label", "left").select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce("label2", F.col("label")),
                    ).alias("label"),
                )
        # lazy checkpoint + fingerprint in ONE job: eager=True spent
        # a materialization job, then a second job re-read the
        # checkpoint for the sum — per round.  The lineage cut is
        # identical (the RDD is checkpointed at the first action —
        # the agg below for numeric ids, the diff probe otherwise).
        new_labels = checkpoint(stepped)
        if numeric_ids:
            fp = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).collect()[0][0]
            if fp is None:
                # zero label rows — the pair graph is empty; the
                # final left join below labels every node with itself
                labels = new_labels
                break
            converged = fp == prev_fp
            prev_fp = fp
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            break
    # isolated nodes (no pair) are their own cluster; the converged
    # labels frame is usually tiny (AQE broadcasts it), but a very
    # dirty corpus can have touched ≈ corpus, so no forced hint
    return nodes.select(F.col(id_col).alias("node")).join(
        labels, "node", "left"
    ).select(
        F.col("node").alias(id_col),
        F.coalesce("label", "node").alias("cluster_id"),
    )


def md5_token_hash(col, bits: int = 60):
    """Portable 60-bit token hash: the first 15 hex chars of md5.

    md5 is the one hash both Spark and DuckDB ship bit-identically, so
    a signature built on it is reproducible by the SQL oracle (xxhash64
    is Spark-only).  15 hex chars = 60 bits keeps the value positive in
    a signed BIGINT on both engines."""
    assert bits % 4 == 0 and bits <= 60
    return F.conv(F.substring(F.md5(col), 1, bits // 4), 16, 10).cast(
        "long"
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hasher=None,
) -> DataFrame:
    """``bits``-wide SimHash per document: sign of per-bit vote sums
    over distinct-token hash values (xxhash64 by default; pass
    ``hasher=md5_token_hash`` with bits=60 for the oracle-reproducible
    variant).

    Explode → ``bits`` codegen'd conditional sums (one per bit) → sign
    fold.  Same rationale as ``minhash_signatures``: stay out of
    interpreted HOF lambdas, let map-side combine shrink the shuffle
    to one int row per doc.
    """
    posting = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    ).select(
        # the (possibly caller-supplied) token hash lands in a named
        # column once, so the per-bit vote expressions below can be
        # PARSED strings over it — the former per-bit Column-DSL
        # construction (~bits·6 py4j calls + a bits-step OR chain)
        # cost ~1 s of pure driver time per plan build; the parsed
        # tree is value-identical (integer ops throughout)
        "doc_id", (hasher or F.xxhash64)(F.col("tok")).alias("hv")
    )
    # the whole per-bit vote + sign fold is ONE parsed expression:
    # even `bits` separate F.expr calls cost ~6 ms of py4j round trip
    # each (~0.4 s/plan build at 64 bits).  Each CASE wraps its own
    # sum aggregate — Spark extracts the `bits` sums into the agg and
    # evaluates the OR chain in the result projection, the identical
    # compute the former two-step (_v{j} columns then OR select) ran.
    ors = " | ".join(
        f"(CASE WHEN sum(CAST((shiftright(hv, {j}) & 1) AS INT)"
        " * 2 - 1) >= 0 THEN CAST("
        # signed-long high bit only exists in the 64-wide layout
        f"{1 << j if j < 63 else -(1 << 63)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return posting.groupBy("doc_id").agg(
        F.expr(f"({ors}) AS simhash64")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    hasher=None,
) -> DataFrame:
    """Pairs within Hamming distance k of each other's SimHash.

    Pigeonhole banding: split the 64 bits into k+1 chunks — any pair
    at distance ≤ k matches exactly on at least one chunk, so the join
    key is (chunk_idx, chunk_value), never an all-pairs scan.

    Scale note: on low-entropy corpora the OUTPUT itself is quadratic
    — SimHash fingerprints concentrate when documents draw from a
    small vocabulary, so a constant FRACTION of all N²/2 pairs lands
    within the Hamming radius (measured on the synthetic 31-word
    corpus: 1,726 pairs at N=500; 21.0M pairs at N=50k — ~1.5% of all
    pairs at both sizes).  Any exact algorithm is Ω(output), so a
    super-linear wall-clock exponent there measures the answer, not
    the plan; the banded candidate set stays within ~10× of the true
    output (213.9M band pairs for 21.0M emitted at N=50k).  On real
    web-scale text, fingerprints spread over 2^bits and the same plan
    is output-sparse.
    """
    chunks = max_hamming + 1
    width = bits // chunks
    fps = simhash(df, id_col, text_col, bits=bits, hasher=hasher)
    bands = _simhash_bands(fps, chunks, width)
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["chunk", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def _simhash_bands(fps: DataFrame, chunks: int, width: int) -> DataFrame:
    """Explode fingerprints into (chunk, val) pigeonhole band keys."""
    return fps.select(
        "doc_id",
        "simhash64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftrightunsigned(
                            F.col("simhash64"), ci * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
                    )
                    for ci in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash64", "cc.chunk", "cc.val")


def simhash_near_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_hamming: int = 3,
    bits: int = 64,
    hasher=None,
    window: int = 8,
) -> DataFrame:
    """Bounded-output SimHash near-dup: per-doc k nearest by Hamming
    distance, candidates drawn from a sorted-fingerprint sliding
    window inside each pigeonhole band bucket (Manku et al., WWW'07
    §4: near-identical fingerprints sort adjacent once a matching
    chunk pins the high-entropy bits).

    Why not rank over the full band join: on a low-entropy corpus the
    band buckets themselves are quadratic — `simhash_near_pairs`
    enumerates ~10× the (already quadratic) true-pair count before
    any rank could cap it, so wall clock stays Ω(N²) even if the
    OUTPUT is capped.  Here candidate generation is ``lead(i)`` for
    i=1..window over each bucket sorted by (fingerprint, doc_id):
    exactly N·chunks·window candidates — one window shuffle, zero
    joins — so both output AND work are linear in N by construction.

    The trade is recall: a true pair whose bucket-mates crowd it more
    than ``window`` positions apart in fingerprint order is missed
    (exact duplicates are never missed — equal fingerprints are
    always adjacent).  Every step (band split, sort order, lead
    offsets, tie-break rank) is deterministic, so the DuckDB oracle
    reproduces the identical pair set — this is a defined procedure,
    not a best-effort heuristic.

    Returns (doc_id, nbr_id, hamming, rn) with rn = 1..k ranked by
    (hamming, nbr_id).
    """
    chunks = max_hamming + 1
    width = bits // chunks
    fps = simhash(df, id_col, text_col, bits=bits, hasher=hasher)
    bands = _simhash_bands(fps, chunks, width)
    w = Window.partitionBy("chunk", "val").orderBy("simhash64", "doc_id")
    # two projections: window functions can't live under a generator
    led = bands.select(
        "doc_id",
        "simhash64",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(w).alias("nid"),
                    F.lead("simhash64", i).over(w).alias("nfp"),
                )
                for i in range(1, window + 1)
            ]
        ).alias("nbrs"),
    ).select(
        "doc_id", "simhash64", F.explode("nbrs").alias("nb")
    ).filter(F.col("nb.nid").isNotNull())
    # orientation is globally consistent (sort key is chunk-blind), so
    # least/greatest only canonicalizes — it never splits a pair
    cand = led.select(
        F.least("doc_id", "nb.nid").alias("doc_a"),
        F.greatest("doc_id", "nb.nid").alias("doc_b"),
        F.bit_count(
            F.col("simhash64").bitwiseXOR(F.col("nb.nfp"))
        ).cast("long").alias("hamming"),
    )
    pairs = cand.filter(F.col("hamming") <= max_hamming).distinct()
    mirrored = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("nbr_id"),
        "hamming",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("nbr_id"),
            "hamming",
        )
    )
    rw = Window.partitionBy("doc_id").orderBy("hamming", "nbr_id")
    return (
        mirrored.withColumn(
            "rn", F.row_number().over(rw).cast("long")
        ).filter(F.col("rn") <= k)
    )
