"""Unit tests for operator edge cases the oracle-parity suite can't
see: stub dispatch, empty/degenerate inputs, exact-arithmetic rules.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from omniengine_spark.operators import multimodal as M
from omniengine_spark.operators.dedup import shingle_docs
from omniengine_spark.operators.replay import floor_balance_replay


def test_real_media_header_raises():
    # PNG header must hit the real-codec path, which is stubbed
    with pytest.raises(NotImplementedError):
        M._decode_backend(b"\x89PNG\r\n" + b"\x00" * 64, "image")


def test_fake_decode_deterministic():
    meta = M._decode_backend(b"hello world", "image")
    assert meta == {"n_bytes": 11, "width": 12, "height": 78}


def test_shingle_docs_drops_short_texts(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "too short"), (3, "")],
        ["doc_id", "text"],
    )
    out = shingle_docs(df, "doc_id", "text", n=3)
    rows = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert set(rows) == {1}
    assert rows[1] == ["a b c", "b c d"]


def test_floor_balance_replay_clips_first_row(spark):
    df = spark.createDataFrame(
        [(1, 10, "2020-01-01 00:00:00", -5),
         (2, 10, "2020-01-01 00:01:00", 3),
         (3, 10, "2020-01-01 00:02:00", -1)],
        ["event_id", "user_id", "ts", "delta_cents"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: r["balance_cents"]
        for r in floor_balance_replay(df).collect()
    }
    # b1 = max(0,-5) = 0; b2 = 3; b3 = 2
    assert out == {1: 0, 2: 3, 3: 2}


def test_frame_sampler_covers_all_bytes(spark):
    df = spark.createDataFrame(
        [(2, "x" * 2500)], ["doc_id", "text"]
    )  # doc_id % 3 == 2 → video
    media = M.attach_binary_payload(df)
    frames = M.sample_frames(media).collect()
    assert [f["frame_idx"] for f in frames] == [0, 1, 2]
    assert [f["frame_offset"] for f in frames] == [0, 1024, 2048]


def test_floor_balance_replay_keeps_null_key_group(spark):
    # null entity keys are reachable (expand_deltas emits null address
    # when reference_address is null) — pandas groupby would silently
    # drop them without dropna=False, and the batch-boundary carry mask
    # must treat NaN == NaN as same-group.
    rows = [(1, None, "2020-01-01 00:00:00", 7),
            (2, None, "2020-01-01 00:01:00", -3),
            (3, 10, "2020-01-01 00:02:00", 5)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, delta_cents long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: r["balance_cents"]
        for r in floor_balance_replay(df).collect()
    }
    assert out == {1: 7, 2: 4, 3: 5}


def test_png_wav_roundtrip_real_bytes():
    """Spec-valid containers: PNG magic + CRC'd IHDR, RIFF/WAVE via
    the stdlib reader; corruption is detected, not ignored."""
    png = M.make_png(17, 9)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert M.parse_png(png) == (17, 9)
    corrupted = png[:20] + bytes([png[20] ^ 0xFF]) + png[21:]
    try:
        M.parse_png(corrupted)
        raised = False
    except ValueError:
        raised = True
    assert raised

    wav = M.make_wav(16000, 2, 120)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    assert M.parse_wav(wav) == (16000, 2, 120)


def test_probe_media_decodes_real_containers(spark):
    docs = spark.range(8).withColumnRenamed("id", "doc_id")
    out = {
        r["doc_id"]: r
        for r in M.probe_media(M.attach_real_payload(docs)).collect()
    }
    assert out[0]["container"] == "png"
    assert (out[0]["width"], out[0]["height"]) == (1, 1)
    assert out[1]["container"] == "wav"
    assert out[1]["sample_rate"] == 12000
    assert out[1]["n_frames"] == 53
    # variant arithmetic matches _variant_params for every row
    for d, r in out.items():
        p = M._variant_params(d % 40)
        if p["container"] == "png":
            assert (r["width"], r["height"]) == (p["width"], p["height"])
        else:
            assert r["n_frames"] == p["n_frames"]


def test_content_addressed_duplicates(spark):
    """doc_id and doc_id+40 produce byte-identical payloads; distinct
    variants produce distinct digests."""
    import pyspark.sql.functions as F

    docs = spark.range(80).withColumnRenamed("id", "doc_id")
    digests = (
        M.attach_real_payload(docs)
        .select("doc_id", F.md5("payload").alias("d"))
        .collect()
    )
    by_doc = {r["doc_id"]: r["d"] for r in digests}
    assert all(by_doc[i] == by_doc[i + 40] for i in range(40))
    assert len({by_doc[i] for i in range(40)}) == 40


def test_merge_upsert_delete(spark):
    from omniengine_spark.operators.merge import merge_upsert
    from pyspark.sql import functions as F

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k int, name string, bal int",
    )
    source = spark.createDataFrame(
        [(2, "ZZ", 200), (4, "d", 40)],
        "k int, name string, bal int",
    )
    # full-row merge with delete: row 2 deleted (bal >= 100), 4 inserted
    out = {
        r["k"]: r["bal"]
        for r in merge_upsert(
            target, source, ["k"], delete_condition=F.col("bal") >= 100
        ).collect()
    }
    assert out == {1: 10, 3: 30, 4: 40}


def test_connected_components_empty_pairs_short_circuits(spark):
    """A clean corpus (zero near-dup pairs) must label every node as
    its own cluster WITHOUT running max_iters rounds of empty-frame
    propagation jobs."""
    import time

    from omniengine_spark.operators.dedup import connected_components

    nodes = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    t = time.time()
    out = connected_components(nodes, pairs, "doc_id", max_iters=50)
    rows = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    elapsed = time.time() - t
    assert rows == {i: i for i in range(50)}
    # 50 propagation rounds of checkpoint+collect would take far
    # longer than the single isEmpty probe
    assert elapsed < 10, elapsed


def test_kmv_profile_estimate_within_bound(spark):
    """The KMV distinct sketch must land within ~3*rsd of exact for
    estimated columns and be EXACT when a column has < K distinct
    values (the sketch saw everything)."""
    from omniengine_spark.plans.quality import (
        _KMV_K,
        _PROFILE_COLS,
        quality_column_profile_approx,
    )
    from omniengine_spark.sources import load_table

    sf = "/root/testdata/sf0.01"
    est = {
        r["column_name"]: r["n_distinct_est"]
        for r in quality_column_profile_approx(spark, sf).collect()
    }
    orders = load_table(spark, sf, "orders")
    exact = orders.agg(
        *[F.count_distinct(c).alias(c) for c in _PROFILE_COLS]
    ).collect()[0]
    rsd = (_KMV_K - 2) ** -0.5
    for c in _PROFILE_COLS:
        if exact[c] < _KMV_K:
            assert est[c] == exact[c], c
        else:
            assert abs(est[c] - exact[c]) <= 3 * rsd * exact[c], (
                c, est[c], exact[c],
            )


def test_apng_mux_demux_roundtrip_pixels():
    """Every variant's APNG demuxes to the declared frame count and
    each reassembled frame pixel-decodes to the generator pattern."""
    for v in (0, 7, 13, 39):
        p = M._apng_params(v)
        frames = M.extract_frames(M.make_apng(**p))
        assert len(frames) == p["n_frames"]
        for i, w, h, png in frames:
            px = M.decode_gray_png(png)
            assert px.shape == (p["height"], p["width"])
            assert int(px.sum()) == sum(
                (x * 7 + y * 13 + i * 29) % 256
                for y in range(h)
                for x in range(w)
            )


def test_apng_demux_rejects_corruption():
    b = bytearray(M.make_apng(4, 3, 2))
    b[60] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError):
        M.extract_frames(bytes(b))


def test_sample_frames_real_pil_crosscheck(spark, monkeypatch):
    """With a (fake) PIL importable, the sampler cross-checks its
    demuxed frame count against PIL's APNG reader — a disagreeing
    reader must fail loudly, an agreeing one must pass."""
    import io as _io

    class _FakeIm:
        def __init__(self, n):
            self.n_frames = n

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    apng = M.make_apng(3, 2, 4)
    monkeypatch.setattr(M, "_HAS_PIL", True)

    class _GoodPIL:
        @staticmethod
        def open(buf):
            return _FakeIm(4)

    monkeypatch.setattr(M, "_PILImage", _GoodPIL, raising=False)
    media = spark.createDataFrame(
        [(1, bytearray(apng))], "doc_id long, payload binary"
    )
    # kernel runs on executors with the monkeypatched module captured
    # in the closure — collect() succeeding IS the agreement check
    rows = M.sample_frames_real(media, stride=2).collect()
    assert [r["frame_idx"] for r in rows] == [0, 2]

    class _BadPIL:
        @staticmethod
        def open(buf):
            return _FakeIm(7)

    monkeypatch.setattr(M, "_PILImage", _BadPIL, raising=False)
    with pytest.raises(Exception, match="frames"):
        M.sample_frames_real(media, stride=2).collect()


def test_jaccard_join_matches_naive_across_thresholds(spark):
    """The q=2 pair-prefix candidate scheme must equal the brute-force
    all-pairs join at EVERY threshold — including ones where the pair
    overlap bound o = ceil(t*max) can be 1, which routes tiny shingle
    sets through the q=1 fallback branch (dead on the main corpus,
    where every doc has >= 8 shingles)."""
    from fractions import Fraction

    from omniengine_spark.operators.dedup import (
        hashed_shingle_docs,
        jaccard_similarity_join,
    )

    rows = [
        # identical single-shingle docs (3 tokens -> 1 shingle):
        # only a q=1 fallback can pair these at low thresholds
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),
        # single-shingle doc vs its 2-shingle extension (J = 1/2)
        (3, "alpha beta gamma delta"),
        # medium docs, near-dup pair (high J)
        (4, "one two three four five six seven eight nine ten"),
        (5, "one two three four five six seven eight nine ten extra"),
        # medium doc sharing a suffix with 4/5 (moderate J)
        (6, "five six seven eight nine ten eleven twelve"),
        # unrelated docs
        (7, "red green blue cyan magenta yellow black white"),
        (8, "do re mi fa sol la si do re mi"),
    ] + [
        # filler so prefixes are real strict subsets of the sets
        (100 + i, " ".join(f"w{i}k{j}" for j in range(12)))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    hd = hashed_shingle_docs(docs, "doc_id", "text", 3)
    a = hd.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    b = hd.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size("ha") + F.size("hb") - inter
    naive_all = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )

    # every threshold: prefix lemma completeness for the q=2 pair
    # layer AND its q=1 small-doc fallback
    for t in (Fraction(4, 5), Fraction(1, 2), Fraction(1, 3)):
        want = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in naive_all.filter(
                F.col("jaccard") >= float(t)
            ).collect()
        )
        assert want, f"threshold {t} matched nothing — fixture too weak"
        got = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in jaccard_similarity_join(
                docs, "doc_id", "text", n=3, threshold=t
            ).collect()
        )
        assert got == want, f"t={t}: {got} != {want}"


def test_simhash_topk_caps_output_and_keeps_exact_dups(spark):
    """Bounded-output simhash: (1) per-doc rows are capped at k with
    rn dense from 1; (2) exact duplicates are NEVER missed — equal
    fingerprints are adjacent in every bucket's sort order; (3) every
    emitted pair is a TRUE near pair (hamming verified against the
    unbounded operator's exact pair set)."""
    from omniengine_spark.operators.dedup import (
        md5_token_hash,
        simhash_near_pairs,
        simhash_near_topk,
    )

    base = [
        "spark shuffles the hash join build side",
        "spark shuffles the hash join probe side",
        "a completely different document about ducks",
        "ducks ducks ducks quack quack quack loudly",
        "the quick brown fox jumps over the lazy dog",
    ]
    rows = []
    did = 0
    for rep in range(6):  # 6 exact copies of each base text
        for t in base:
            rows.append((did, t))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    k = 3
    got = simhash_near_topk(
        docs, "doc_id", "text", k=k, max_hamming=3, bits=60,
        hasher=md5_token_hash, window=4,
    ).collect()

    per_doc: dict[int, list] = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append(r)
    for d, rs in per_doc.items():
        assert len(rs) <= k
        assert sorted(x.rn for x in rs) == list(range(1, len(rs) + 1))

    # exact copies: every doc has 5 hamming-0 twins; with k=3 each doc
    # must report exactly k neighbours, all at hamming 0
    for d in range(len(rows)):
        rs = per_doc.get(d, [])
        assert len(rs) == k, f"doc {d} found {len(rs)} nbrs"
        assert all(x.hamming == 0 for x in rs)

    # soundness: emitted pairs are a subset of the exact pair set
    exact = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(
            docs, "doc_id", "text", max_hamming=3, bits=60,
            hasher=md5_token_hash,
        ).collect()
    }
    for r in got:
        a, b = min(r.doc_id, r.nbr_id), max(r.doc_id, r.nbr_id)
        assert exact[(a, b)] == r.hamming


def test_fan_out_detects_single_row_group_files(spark):
    """fan_out must repartition a BIG single-row-group parquet file
    even when Spark's byte-range split count looks sufficient: a split
    only produces rows if a row group STARTS inside it, so a 1-group
    file feeds exactly one task no matter how many splits cover it
    (round-7 root cause of the 12-minute minhash straggler)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from omniengine_spark.sources.catalog import (
        _effective_parquet_splits,
        fan_out,
    )
    from omniengine_spark.sources.sinks import scratch_dir

    d = scratch_dir("fanout-rg")
    Path(d).mkdir(parents=True, exist_ok=True)
    path = f"{d}/one_group.parquet"
    n = 200_000
    # ~40 MB of incompressible data in ONE row group: many byte-range
    # splits at the session's maxPartitionBytes, one effective split
    tbl = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "pad": pa.array([f"x{i:09d}" * 20 for i in range(n)]),
    })
    pq.write_table(tbl, path, compression="none",
                   row_group_size=n)
    df = spark.read.parquet(path)
    assert _effective_parquet_splits(df) == 1
    target = spark.sparkContext.defaultParallelism
    out = fan_out(df)
    assert out.rdd.getNumPartitions() >= min(target, 2)
    # the repartitioned frame still carries every row exactly once
    assert out.count() == n
    shutil.rmtree(d, ignore_errors=True)


def test_crash_between_table_commits_converges(spark, tmp_path, monkeypatch):
    """Fault injection for the multi-table commit interleaving the
    threaded stress test can't reach: writer A DIES after its
    shingles delta lands but before its entries delta (the
    shingles-before-entries window), a different-tag writer B then
    ingests cleanly, and finally A retries.  Must hold: (1) the index
    stays readable with A's shingle delta dangling (the visibility
    invariant says a shingles superset is always safe — A has no
    entries yet, so no candidate can touch its docs); (2) B's ingest
    is correct — exactly the one-shot pair set over corpus∪B;
    (3) A's retry converges — it REUSES the orphaned shingles delta
    (tag idempotency), commits entries+pairs, and the final set
    equals the one-shot over corpus∪A∪B."""
    from fractions import Fraction

    import pytest

    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources import versioned as V

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(~(F.col("doc_id") % 10).isin(7, 8))
    shard_a = docs.filter(F.col("doc_id") % 10 == 7)
    shard_b = docs.filter(F.col("doc_id") % 10 == 8)
    root = str(tmp_path / "idx")
    params = dict(
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5)
    )
    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag="base", **params
    )
    epath, ppath, spath = MI.index_paths(root)

    real_commit = V.commit
    armed = {"on": True}

    def die_after_shingles(df, path, description, **kw):
        ver = real_commit(df, path, description, **kw)
        if armed["on"] and f"/{MI.SHINGLES}" in path:
            armed["on"] = False
            raise RuntimeError("injected death after shingles commit")
        return ver

    monkeypatch.setattr(V, "commit", die_after_shingles)
    with pytest.raises(RuntimeError, match="injected death"):
        MI.ingest_shard(
            spark, root, shard_a, "doc_id", "text",
            tag="base +A", **params,
        )
    monkeypatch.setattr(V, "commit", real_commit)

    # (1) the index is readable mid-crash: A's shingle delta is the
    # shingles tip, entries/pairs still end at base
    assert [e["description"] for e in V.version_history(spath)] == [
        "base", "base +A",
    ]
    for path in (epath, ppath):
        assert [
            e["description"] for e in V.version_history(path)
        ] == ["base"]
    V.read_version(spark, spath).count()

    # (2) the interloper ingests correctly over the dangling state
    after_b = MI.ingest_shard(
        spark, root, shard_b, "doc_id", "text", tag="base +B", **params
    )
    one_shot_b = D.minhash_lsh_pairs(
        corpus.unionByName(shard_b), "doc_id", "text", **params
    )
    assert _pair_set(after_b) == _pair_set(one_shot_b)

    # (3) A's retry reuses its orphaned shingles delta and converges
    final = MI.ingest_shard(
        spark, root, shard_a, "doc_id", "text", tag="base +A", **params
    )
    one_shot = D.minhash_lsh_pairs(docs, "doc_id", "text", **params)
    assert _pair_set(final) == _pair_set(one_shot)
    # shingles chain holds exactly ONE "+A" delta (reused, not
    # re-committed); entries/pairs record B before A's retry
    assert [e["description"] for e in V.version_history(spath)] == [
        "base", "base +A", "base +B",
    ]
    for path in (epath, ppath):
        assert [
            e["description"] for e in V.version_history(path)
        ] == ["base", "base +B", "base +A"]


def test_incremental_shard_dedup_equals_one_shot(spark):
    """dedup_incremental_shard (stored corpus index + shard band
    joins) returns EXACTLY the one-shot dedup_minhash_lsh pair set
    over the unioned corpus: signatures are a pure function of
    content, so persisted band entries collide identically to
    freshly-computed ones.  This equality is the plan's oracle
    contract; pinning it engine-side too keeps the invariant visible
    when oracles change."""
    from omniengine_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    inc = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in QUERIES["dedup_incremental_shard"](spark, sf).collect()
    }
    one = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in QUERIES["dedup_minhash_lsh"](spark, sf).collect()
    }
    assert inc == one and inc
    # the split actually exercises the cross path: at least one pair
    # must straddle the shard boundary OR lie within the shard for
    # the test to mean anything; tolerate a corpus where it doesn't,
    # but record it
    cross_or_shard = [
        p for p in inc if p[0] % 10 == 7 or p[1] % 10 == 7
    ]
    assert cross_or_shard, "fixture has no shard-side pairs (vacuous)"


def _pair_set(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in df.collect()
    }


def test_minhash_index_two_shard_loop(spark, tmp_path):
    """The incremental loop, not just one ingest: shard B is deduped
    against corpus∪A because ingesting A committed it back into the
    persisted index.  Final pairs == one-shot minhash_lsh_pairs over
    corpus∪A∪B; every ingest lands as a DELTA version (manifest entry
    records its base, the version dir holds only shard-sized data)."""
    from fractions import Fraction

    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources import versioned as V

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(~(F.col("doc_id") % 10).isin(7, 8))
    shard_a = docs.filter(F.col("doc_id") % 10 == 7)
    shard_b = docs.filter(F.col("doc_id") % 10 == 8)
    root = str(tmp_path / "idx")
    params = dict(
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5)
    )

    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag="base", **params
    )
    MI.ingest_shard(
        spark, root, shard_a, "doc_id", "text", tag="base +A", **params
    )
    after_b = MI.ingest_shard(
        spark, root, shard_b, "doc_id", "text", tag="base +B", **params
    )
    one_shot = D.minhash_lsh_pairs(docs, "doc_id", "text", **params)
    assert _pair_set(after_b) == _pair_set(one_shot)
    # non-vacuous: at least one surviving pair touches each shard
    # (shard B's pairs exist only because A was committed back)
    pairs = _pair_set(after_b)
    assert any(a % 10 == 7 or b % 10 == 7 for a, b, _ in pairs)
    assert any(a % 10 == 8 or b % 10 == 8 for a, b, _ in pairs)

    # each table carries base → +A → +B, the ingests as deltas
    epath, ppath, spath = MI.index_paths(root)
    for path in (epath, ppath, spath):
        hist = V.version_history(path)
        assert [e["description"] for e in hist] == [
            "base", "base +A", "base +B",
        ]
        assert "base" not in hist[0]
        assert hist[1]["base"] == hist[0]["version"]
        assert hist[2]["base"] == hist[1]["version"]

    # idempotent replay: same tag returns stored pairs, no new version
    replay = MI.ingest_shard(
        spark, root, shard_b, "doc_id", "text", tag="base +B", **params
    )
    assert _pair_set(replay) == pairs
    assert len(V.version_history(ppath)) == 3

    # a delta version's dir holds ONLY its shard's entries
    import os
    n_shard_a = shard_a.count()
    delta_dir = os.path.join(
        epath, f"v={V.version_history(epath)[1]['version']}"
    )
    delta_rows = spark.read.parquet(delta_dir)
    assert delta_rows.select("doc_id").distinct().count() == n_shard_a

    # vacuum pins the delta chain: keep_last=1 may not retire the
    # bases the current version still reads through
    retired = V.vacuum(epath, keep_last=1, orphan_ttl_s=0.0)
    assert retired == []
    assert V.read_version(spark, epath).count() > 0

    # periodic maintenance: compaction squashes each chain into one
    # snapshot (same tag, so replay idempotency holds), after which
    # vacuum retires the per-shard versions; content is unchanged
    MI.compact_index(spark, root)
    assert V.version_history(ppath)[-1]["description"] == "base +B"
    assert _pair_set(
        MI.ingest_shard(
            spark, root, shard_b, "doc_id", "text",
            tag="base +B", **params,
        )
    ) == pairs
    for path in (epath, ppath, spath):
        assert V.vacuum(path, keep_last=1, orphan_ttl_s=0.0)
        assert len(V.version_history(path)) == 1
    assert _pair_set(V.read_version(spark, ppath)) == pairs


def test_ingest_verify_prunes_to_candidates(spark, tmp_path):
    """The exact-verify stage of a shard ingest must read shingle
    sets ONLY for candidate-touched docs — from the persisted index
    via a semi-join, never by re-shingling the corpus (the round-8
    form re-scanned the entire corpus per ingest)."""
    from fractions import Fraction

    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    shard = docs.filter(F.col("doc_id") % 10 == 7)
    root = str(tmp_path / "idx")
    params = dict(
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5)
    )
    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag="base", **params
    )
    entries_pq, base_e = MI._commit_shard_frames(
        spark, root, shard, "doc_id", "text",
        n=3, num_hashes=128, band_rows=4, tag="base +shard",
    )
    verify_docs, new_pairs = MI._ingest_plan(
        spark, root, entries_pq, base_e, params["threshold"],
    )
    # the verify input is candidate-pruned: a handful of docs, not
    # the corpus (band collisions at threshold 0.8 are rare)
    n_verify, n_docs = verify_docs.count(), docs.count()
    assert n_verify < 0.5 * n_docs
    # the pruning is a semi-join against the PERSISTED shingle table
    qe = new_pairs._jdf.queryExecution()
    assert "LeftSemi" in qe.optimizedPlan().toString()
    files = new_pairs.inputFiles()
    assert any(f"/{MI.SHINGLES}/" in f for f in files)


def test_dedup_stream_ingest_plan(spark):
    """The gated streaming lifecycle plan: micro-batch ingests equal
    the one-shot dedup over corpus∪stream, maintenance really ran
    (the per-batch delta versions are retired, the served table is
    one compacted snapshot), and a replay serves straight from the
    stored index without committing anything new."""
    from fractions import Fraction

    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.plans.registry import QUERIES
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources import versioned as V
    from omniengine_spark.sources.sinks import artifact_root

    sf = "/root/testdata/sf0.001"
    result = QUERIES["dedup_stream_ingest"](spark, sf)
    docs = load_table(spark, sf, "documents")
    one_shot = D.minhash_lsh_pairs(
        docs, "doc_id", "text",
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5),
    )
    pairs = _pair_set(result)
    assert pairs == _pair_set(one_shot)
    # non-vacuous: some surviving pair touches the streamed docs
    assert any(a % 4 == 3 or b % 4 == 3 for a, b, _ in pairs)

    # maintenance ran: one compacted snapshot serves; the retired
    # audit trail shows the corpus build plus >=2 stream batches
    root = artifact_root("minhash-stream", sf, "documents.parquet")
    ppath = MI.index_paths(root)[1]
    assert len(V.version_history(ppath)) == 1
    retired = [
        e["description"]
        for e in V._load_manifest(ppath).get("retired", [])
    ]
    assert sum("+batch" in d for d in retired) >= 2, retired

    # replay: checkpoint finds no new files, compaction is skipped,
    # the stored snapshot is served unchanged
    replay = QUERIES["dedup_stream_ingest"](spark, sf)
    assert _pair_set(replay) == pairs
    assert len(V.version_history(ppath)) == 1


def test_delta_conflict_retry_in_ingest(spark, tmp_path, monkeypatch):
    """A concurrent writer moving a table's tip between an ingest's
    base read and its publish must NOT fork the chain: the commit
    raises DeltaConflictError and ingest_shard retries against the
    new tip.  Simulated deterministically by handing the first
    entries-delta commit a stale base."""
    from fractions import Fraction

    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources import versioned as V

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(~(F.col("doc_id") % 10).isin(7, 8))
    shard_a = docs.filter(F.col("doc_id") % 10 == 7)
    shard_b = docs.filter(F.col("doc_id") % 10 == 8)
    root = str(tmp_path / "idx")
    params = dict(
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5)
    )
    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag="base", **params
    )
    MI.ingest_shard(
        spark, root, shard_a, "doc_id", "text", tag="base +A", **params
    )

    # B's first entries commit reads the pre-A tip (as if it raced A)
    real = V.current_version
    stale = {"armed": True}

    def stale_once(path):
        v = real(path)
        if stale["armed"] and f"/{MI.ENTRIES}" in path:
            stale["armed"] = False
            return v - 1
        return v

    monkeypatch.setattr(V, "current_version", stale_once)
    after_b = MI.ingest_shard(
        spark, root, shard_b, "doc_id", "text", tag="base +B", **params
    )
    assert not stale["armed"], "stale base was never consumed"
    one_shot = D.minhash_lsh_pairs(docs, "doc_id", "text", **params)
    assert _pair_set(after_b) == _pair_set(one_shot)
    # the chain stayed linear: B's delta re-based onto A's tip
    for path in MI.index_paths(root):
        hist = V.version_history(path)
        assert [e["description"] for e in hist] == [
            "base", "base +A", "base +B",
        ]
        assert hist[2]["base"] == hist[1]["version"]


def test_concurrent_shard_ingest_threads(spark, tmp_path):
    """Two ingests racing for real (threads, same index root): the
    optimistic delta commits serialize each table's chain, whichever
    shard lands later on the entries chain finds the cross pairs, and
    the final pair set equals the one-shot over corpus∪A∪B."""
    from concurrent.futures import ThreadPoolExecutor
    from fractions import Fraction

    from omniengine_spark.operators import dedup as D
    from omniengine_spark.operators import minhash_index as MI
    from omniengine_spark.sources import load_table
    from omniengine_spark.sources import versioned as V

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(~(F.col("doc_id") % 10).isin(7, 8))
    shards = {
        "base +A": docs.filter(F.col("doc_id") % 10 == 7),
        "base +B": docs.filter(F.col("doc_id") % 10 == 8),
    }
    root = str(tmp_path / "idx")
    params = dict(
        n=3, num_hashes=128, band_rows=4, threshold=Fraction(4, 5)
    )
    MI.build_index(
        spark, root, corpus, "doc_id", "text", tag="base", **params
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                MI.ingest_shard, spark, root, shard, "doc_id",
                "text", tag=tag, **params,
            )
            for tag, shard in shards.items()
        ]
        for f in futs:
            f.result()

    final = V.read_version(spark, MI.index_paths(root)[1])
    one_shot = D.minhash_lsh_pairs(docs, "doc_id", "text", **params)
    assert _pair_set(final) == _pair_set(one_shot)
    # every table's chain is LINEAR (each delta based on the previous
    # version) and contains both shards, in whatever order they won
    for path in MI.index_paths(root):
        hist = V.version_history(path)
        assert {e["description"] for e in hist} == {
            "base", "base +A", "base +B",
        }
        assert hist[1]["base"] == hist[0]["version"]
        assert hist[2]["base"] == hist[1]["version"]
