#!/usr/bin/env python
"""Deterministic synthetic-testdata generator for scale-factor soaks.

The driver ships read-only parquet at sf0.001/0.01/0.1
(``TESTDATA.md``); proving the 100 TB scale story needs at least one
decade more data than the bench sf.  This generator reproduces the
same schema, key relationships, and value distributions (measured
from the driver's sf0.01/sf0.1 files) at ANY scale factor, seeded, so
``tools/sweep.py --compare exponent`` can compare e.g. sf0.1 -> sf1
apples-to-apples within one generator family.  Tables are written in
65,536-row groups (the driver's files hold one row group per table),
so a small ``spark.sql.files.maxPartitionBytes`` splits their scans:
lineitem has 10 row groups at sf0.1.  ``--zipf`` skews
``events.user_id`` for ``--compare straggler``; a Z-ordered layout is
the sweep's ``zorder=N`` variant key.

Row-count rules (inferred by diffing the three driver sfs):
  lineitem 6M*sf   orders 1.5M*sf   events 1M*sf (15k*sf users)
  customer 150k*sf part 200k*sf     supplier 10k*sf
  documents max(500, 50k*sf)        embeddings max(500, 20k*sf)
  nation 25, region 5 (fixed)

Everything is vectorized numpy -> pyarrow; lineitem/events stream in
row-group chunks so sf10 (60M lineitem rows) fits comfortably in RAM.

Usage: python tools/gen_testdata.py SF OUTDIR [--seed 42]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
PCOLORS = ["red", "blue", "green", "small", "large", "shiny", "dull"]
PNOUNS = ["ring", "widget", "bolt", "gear", "cog", "nut", "plate"]

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-01", "D")


# Bounded row groups: pyarrow's default writes ~1Mi-row groups, so a
# 250k-row documents table lands in ONE row group — and a Spark split
# only yields rows if a row group STARTS inside it, so every
# CPU-heavy scan (shingling, minhash, embedding folds) serialized
# onto 1-2 tasks while 30 cores idled (measured: a 12-minute
# straggler on the 1.25M-doc minhash soak).  64k rows ≈ 10-30 MB
# groups across these schemas — real-warehouse-shaped.
ROW_GROUP = 65_536


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet", compression="snappy",
                   row_group_size=ROW_GROUP)
    print(f"  {name}: {table.num_rows} rows", flush=True)


def _ts_us(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"))


def _realistic_vocab(n_tokens: int, seed: int) -> np.ndarray:
    """A ~n_tokens-word vocabulary of pronounceable pseudo-words.

    The driver corpus uses a 31-word vocabulary, so its 3-gram shingle
    space (31^3 = 29,791) SATURATES by sf5 — every possible shingle
    exists, band keys stop growing with N, and posting lists grow
    linearly in N, which makes any signature-join look super-linear.
    Real corpora have ~> 50k word types (shingle space ~2^40), so band
    keys keep fragmenting as the corpus grows.  This builds that
    regime: deterministic syllable-composed tokens, unique by rank.
    """
    r = np.random.default_rng(seed)
    cons = np.array(list("bcdfghjklmnprstvwz"))
    vows = np.array(list("aeiou"))
    n_syl = 600
    syl = np.char.add(
        np.char.add(cons[r.integers(0, len(cons), n_syl)],
                    vows[r.integers(0, len(vows), n_syl)]),
        np.where(r.random(n_syl) < 0.4,
                 cons[r.integers(0, len(cons), n_syl)], ""),
    )
    # 2-3 syllables per word; rank index appended base-36 style via
    # syllable choice alone can collide, so disambiguate with the rank
    parts = syl[r.integers(0, n_syl, (n_tokens, 3))]
    two = r.random(n_tokens) < 0.55
    words = np.char.add(parts[:, 0], parts[:, 1])
    words = np.where(two, words, np.char.add(words, parts[:, 2]))
    # guarantee uniqueness (word types, not surface forms, drive the
    # shingle space) by suffixing the rank where a collision exists
    _, first = np.unique(words, return_index=True)
    dup_mask = np.ones(n_tokens, bool)
    dup_mask[first] = False
    if dup_mask.any():
        idx = np.nonzero(dup_mask)[0]
        words[idx] = np.char.add(
            words[idx], np.char.mod("%d", idx))
    return words


def _zipf_word_probs(n_tokens: int, s: float = 1.07) -> np.ndarray:
    """Zipf-Mandelbrot-ish word frequencies: P(rank j) ∝ 1/(j+1)^s —
    the classic natural-language law (s≈1 for English)."""
    w = 1.0 / np.arange(1, n_tokens + 1, dtype=np.float64) ** s
    return w / w.sum()


def _doc_texts(
    r: np.random.Generator,
    n_doc: int,
    vocab: np.ndarray,
    probs: np.ndarray | None = None,
) -> list[str]:
    """Doc bodies: 10-110 words drawn from ``vocab`` (uniform, or by
    ``probs``), with ~4% planted near-duplicates — identical length
    distribution and dup rate to the driver corpus so only the
    vocabulary size varies between the legacy and realistic regimes."""
    n_words = r.integers(10, 111, n_doc)
    total = int(n_words.sum())
    if probs is None:
        words = vocab[r.integers(0, len(vocab), total)]
    else:
        words = vocab[r.choice(len(vocab), total, p=probs)]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [
        " ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)
    ]
    n_dup = n_doc // 25
    dup_src = r.integers(0, n_doc, n_dup)
    dup_dst = r.integers(0, n_doc, n_dup)
    for s, d in zip(dup_src, dup_dst):
        if s != d:
            texts[d] = texts[s] + " dup"
    return texts


def _zipf_choice(
    r: np.random.Generator, n_keys: int, n: int, s: float
) -> np.ndarray:
    """Bounded Zipf(s) over 0..n_keys-1 by inverse-CDF on ranks:
    P(rank j) ∝ 1/(j+1)^s.  Rank 0 is the hot key — at s=1.2 over 15k
    users it draws ~19% of ALL rows, the classic hot-entity shape
    (one celebrity account / one exchange address) that funnels a
    whole shuffle partition through one reducer."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    return np.searchsorted(cdf, r.random(n)).astype(np.int64)


def gen(
    sf: float, out: Path, seed: int = 42, zipf_s: float | None = None
) -> None:
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(150, round(150_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_li = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(50, round(15_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    # --- fixed dims -------------------------------------------------
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    # --- customer / supplier / part --------------------------------
    r = np.random.default_rng(seed + 1)
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(
            r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(r.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
    }))

    r = np.random.default_rng(seed + 2)
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(
            r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(r.uniform(-1000, 10000, n_supp), 2),
    }))

    r = np.random.default_rng(seed + 3)
    colors = np.array(PCOLORS)[r.integers(0, len(PCOLORS), n_part)]
    nouns = np.array(PNOUNS)[r.integers(0, len(PNOUNS), n_part)]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{c} {n}" for c, n in zip(colors, nouns)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PTYPES)[r.integers(0, 5, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(r.uniform(900, 2100, n_part), 2),
    }))

    # --- orders ------------------------------------------------------
    r = np.random.default_rng(seed + 4)
    o_days = r.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(
            (EPOCH_1995 + o_days.astype("timedelta64[D]"))
            .astype("datetime64[us]")),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[r.integers(0, 5, n_ord)]),
    })
    _write(out, "orders", orders)

    # --- lineitem (chunked) ------------------------------------------
    r = np.random.default_rng(seed + 5)
    li_schema = pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ])
    writer = pq.ParquetWriter(
        out / "lineitem.parquet", li_schema, compression="snappy")
    chunk = 2_000_000
    written = 0
    while written < n_li:
        n = min(chunk, n_li - written)
        okey = r.integers(0, n_ord, n)
        ship_off = r.integers(1, 96, n)  # ship 1..95 days after order
        li = pa.table({
            "l_orderkey": okey,
            "l_partkey": r.integers(0, n_part, n),
            "l_suppkey": r.integers(0, n_supp, n),
            "l_linenumber": (r.integers(1, 8, n)).astype(np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105_000, n), 2),
            "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": pa.array(
                np.array(["R", "A", "N"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(
                np.array(["O", "F"])[r.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                (EPOCH_1995 + (o_days[okey] + ship_off)
                 .astype("timedelta64[D]")).astype("datetime64[us]")),
        }, schema=li_schema)
        writer.write_table(li, row_group_size=ROW_GROUP)
        written += n
    writer.close()
    print(f"  lineitem: {written} rows", flush=True)

    # --- events (chunked; 30 days of Jan 2024) -----------------------
    r = np.random.default_rng(seed + 6)
    ev_schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    writer = pq.ParquetWriter(
        out / "events.parquet", ev_schema, compression="snappy")
    span_us = 30 * 86_400 * 1_000_000
    written = 0
    while written < n_ev:
        n = min(chunk, n_ev - written)
        # ids ascend with time: stride the window like the driver data
        lo = span_us * written // n_ev
        hi = span_us * (written + n) // n_ev
        offs = np.sort(r.integers(lo, hi, n))
        ks = r.integers(0, 100, n)
        uid = (
            _zipf_choice(r, n_users, n, zipf_s)
            if zipf_s
            else r.integers(0, n_users, n)
        )
        ev = pa.table({
            "event_id": np.arange(written, written + n, dtype=np.int64),
            "ts": _ts_us(EPOCH_2024, offs),
            "user_id": uid,
            "event_type": pa.array(
                np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": np.round(
                np.maximum(0.01, r.exponential(50.0, n)), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in ks]),
        }, schema=ev_schema)
        writer.write_table(ev, row_group_size=ROW_GROUP)
        written += n
    writer.close()
    print(f"  events: {written} rows", flush=True)

    # --- documents ----------------------------------------------------
    r = np.random.default_rng(seed + 7)
    texts = _doc_texts(r, n_doc, np.array(VOCAB))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[
            r.choice(len(LANGS), n_doc, p=LANG_P)]),
        "source": pa.array(
            [f"src{i}" for i in r.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # --- embeddings (clustered gaussians, 64-dim) ---------------------
    _gen_embeddings(out, n_emb, seed)

    (out / "MANIFEST.json").write_text(json.dumps(
        {"sf": sf, "seed": seed, "zipf_s": zipf_s,
         "generator": "tools/gen_testdata.py"}))


def _gen_embeddings(out: Path, n_emb: int, seed: int) -> None:
    """Clustered-gaussian 64-dim embeddings, identical at any entry
    point (same seed offset as the full gen())."""
    r = np.random.default_rng(seed + 8)
    labels = r.integers(0, 10, n_emb).astype(np.int32)
    centers = r.normal(0.0, 0.05, (10, 64))
    vecs = (centers[labels] + r.normal(0.0, 0.08, (n_emb, 64))).astype(
        np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(range(0, (n_emb + 1) * 64, 64), pa.int32()), flat),
        "label": pa.array(labels),
    }))


def gen_embeddings_only(sf: float, out: Path, seed: int = 42) -> None:
    """Write ONLY embeddings.parquet at ``sf`` — lets the sf25 ANN /
    SemDeDup soak rungs exist without regenerating 150M lineitem rows."""
    out.mkdir(parents=True, exist_ok=True)
    _gen_embeddings(out, max(500, round(20_000 * sf)), seed)


def gen_documents_realistic(
    sf: float, out: Path, seed: int = 42, vocab_size: int = 50_000
) -> None:
    """Write ONLY documents.parquet with the realistic-vocabulary
    corpus (same schema / length distribution / dup rate as gen(),
    Zipf(1.07) word frequencies over ``vocab_size`` unique tokens).
    Symlink the remaining tables from a matching legacy dir to form a
    complete sf_dir for the signature-dedup soaks."""
    out.mkdir(parents=True, exist_ok=True)
    n_doc = max(500, round(50_000 * sf))
    vocab = _realistic_vocab(vocab_size, seed + 70)
    probs = _zipf_word_probs(len(vocab))
    r = np.random.default_rng(seed + 7)
    texts = _doc_texts(r, n_doc, vocab, probs)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[
            r.choice(len(LANGS), n_doc, p=LANG_P)]),
        "source": pa.array(
            [f"src{i}" for i in r.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    (out / "MANIFEST.json").write_text(json.dumps(
        {"sf": sf, "seed": seed, "vocab_size": int(vocab_size),
         "tables": ["documents"],
         "generator": "tools/gen_testdata.py gen_documents_realistic"}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf", type=float)
    ap.add_argument("outdir", type=Path)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--zipf", type=float, default=None, metavar="S",
        help="skew events.user_id as bounded Zipf(S) instead of uniform",
    )
    ap.add_argument(
        "--realistic-docs", action="store_true",
        help="write ONLY documents.parquet with a ~50k-token Zipf "
             "vocabulary (non-saturating shingle space)",
    )
    ap.add_argument("--vocab-size", type=int, default=50_000)
    ap.add_argument(
        "--embeddings-only", action="store_true",
        help="write ONLY embeddings.parquet (sf25 ANN/SemDeDup rungs "
             "without the 150M-row lineitem regen)",
    )
    a = ap.parse_args()
    if a.embeddings_only:
        print(
            f"generating embeddings-only sf={a.sf} -> {a.outdir}",
            flush=True)
        gen_embeddings_only(a.sf, a.outdir, a.seed)
        return
    if a.realistic_docs:
        print(
            f"generating realistic-vocab documents sf={a.sf} -> "
            f"{a.outdir} vocab={a.vocab_size}", flush=True)
        gen_documents_realistic(a.sf, a.outdir, a.seed, a.vocab_size)
        return
    print(f"generating sf={a.sf} -> {a.outdir} zipf={a.zipf}", flush=True)
    gen(a.sf, a.outdir, a.seed, zipf_s=a.zipf)


if __name__ == "__main__":
    sys.exit(main())
