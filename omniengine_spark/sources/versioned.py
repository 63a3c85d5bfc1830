"""Versioned warehouse: snapshot-isolated, time-travelable parquet.

The reference keeps ONE mutable state and answers "what did the book
say at block H" only by re-deriving it (``sql.py:85-218`` reorg undo
walks state backwards row by row).  Here every commit is an immutable
version directory under the table root plus a linearizable manifest
log — the Delta/Iceberg snapshot pattern reduced to its parquet
essentials:

    table/
      _manifest.1.json    {"current": 1, "versions": [...]}
      _manifest.2.json    ... (highest sequence number is the truth)
      v=1/ ... parquet ...
      v=2/ ...

Properties:
- readers pin a snapshot: ``read_version(path)`` resolves the manifest
  once; a concurrent commit cannot change the files under an already-
  resolved version dir (immutability is by construction — commits
  only ever create NEW dirs);
- commits are crash-safe AND writer-safe WITHOUT a lock: each commit
  first claims its version number with an exclusive ``os.mkdir(v=N)``
  (atomic on POSIX — two racing writers get DIFFERENT numbers;
  nothing ever deletes a directory another writer may own), writes
  data into the claimed dir, then publishes by compare-and-swap: the
  manifest is an append-only LOG of ``_manifest.<seq>.json`` files
  and a publisher may only create sequence ``seq+1`` of the manifest
  it read.  The create is atomic-with-content (write a private tmp,
  ``os.link`` it into place — link fails with EEXIST if someone else
  won the sequence), so losers re-read the winner's manifest and
  retry with THEIR update re-applied on top.  Because GC vacates old
  sequence slots, a winning link alone is not the commit point: the
  publisher re-lists the log and retracts its link if any HIGHER
  sequence already exists (the GC-slot ABA a stalled writer could
  otherwise exploit to publish an invisible manifest) — with that
  guard, lost updates are impossible by construction.  Rounds 6-7 hardened a timeout-broken
  lock file for this (stale-mtime gauge, O_EXCL re-acquire) but any
  break-a-stale-lock protocol retains a stat→unlink TOCTOU window in
  which a freshly-acquired lock can be unlinked; the CAS log has no
  lock to break.  A crash after the claim but before the manifest
  CAS leaves an orphan ``v=N`` dir readers never see (they resolve
  only manifest-listed versions); later commits skip past it and
  ``vacuum`` retires it;
- migration history travels in the manifest: ``commit`` records a
  description per version, and ``sources.migrate`` commits each schema
  patch as a version tagged ``migration <n>: …``, so schema patches
  and reorg rewrites are the same audit trail and ``commit`` is the
  one publish of a rewritten table;
- the manifest entry also carries the version's DATA schema (the
  committed frame's columns minus ``partition_cols``, all nullable),
  so ``read_version`` hands Spark the schema instead of inferring it
  from a parquet footer, which would fire a job while the plan is
  built.  Partition columns are not stored: Spark still infers them
  from the ``col=value`` paths, types included.  Entries without a
  schema (legacy manifests) keep the inferred read.

At 100 TB you retire old versions with ``vacuum`` (keep-last-K) —
storage cost is per-version deltas only when commits rewrite
partitions; this minimal form rewrites whole tables, which is the
honest cost of snapshotting without a file-level manifest format.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import itertools
import json
import os
import re
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from omniengine_spark.sources.catalog import footer_minmax

_SEQ_RE = re.compile(r"^_manifest\.(\d+)\.json$")
# manifest-log files older than the newest KEEP are GC'd after each
# successful publish; readers that lose the (list → read-max) race
# fall back one sequence, so KEEP ≫ 1 makes that fallback bounded-
# stale rather than empty
_KEEP_MANIFESTS = 8
_TMP_COUNTER = itertools.count()


class DeltaConflictError(RuntimeError):
    """A delta commit's base is no longer the table tip.

    Two writers that both read tip V and commit deltas on it would
    otherwise FORK the chain: versions V+1 (base V) and V+2 (base V)
    both publish, readers resolve the highest, and V+1's rows silently
    vanish from the current content — data loss without an error.
    Snapshot commits are last-writer-wins by design (each carries its
    full content); delta commits are NOT, so they get the lakehouse
    optimistic-concurrency rule: publish succeeds only if the base is
    still the tip, else this error.  Recovery is re-read the tip,
    recompute the delta against it, commit again."""


def _manifest_log(path: str) -> list[tuple[int, Path]]:
    """(seq, file) pairs of the manifest log, ascending by seq."""
    out = []
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    for name in names:
        m = _SEQ_RE.match(name)
        if m:
            out.append((int(m.group(1)), Path(path) / name))
    out.sort()
    return out


def _load_manifest_seq(path: str) -> tuple[dict, int]:
    """Current manifest + its log sequence number (0 = no log yet).

    Reads the HIGHEST sequence; if that file vanished between the
    listing and the read (GC keeps only the newest _KEEP_MANIFESTS),
    falls back to the next-highest — a bounded-stale snapshot, which
    is correct for readers (snapshot semantics) and harmless for
    writers (their CAS on a stale sequence fails and they re-read)."""
    for seq, p in reversed(_manifest_log(path)):
        try:
            return json.loads(p.read_text()), seq
        except (OSError, json.JSONDecodeError):
            continue
    return {"current": 0, "versions": []}, 0


def _load_manifest(path: str) -> dict:
    return _load_manifest_seq(path)[0]


def _publish_manifest(path: str, manifest: dict, expect_seq: int) -> bool:
    """Compare-and-swap publish: create ``_manifest.<expect_seq+1>``
    atomically WITH its content (private tmp + ``os.link`` — link is
    the POSIX atomic fail-if-exists primitive that, unlike O_EXCL
    create + write, can never expose a half-written file as the
    newest manifest).  Returns False when another publisher won the
    sequence; the caller re-reads and retries on top of the winner.

    ABA guard: GC vacates sequence slots older than the newest
    _KEEP_MANIFESTS, so a writer that read sequence S and then stalled
    past the GC horizon can ``os.link`` into the long-vacated S+1 slot
    and believe it won — while readers (who resolve the HIGHEST
    sequence) never see its manifest: a silent lost update.  The link
    therefore isn't the commit point on its own — after a winning
    link we re-list the log, and if ANY higher sequence already
    exists the link landed on a dead branch: unlink it and report the
    CAS as lost (the caller re-reads and retries; ``_publish_version``
    is idempotent, so a retry whose entry already rode a concurrent
    winner's manifest returns without duplicating it).  The re-list
    can also demote a LEGITIMATE win that a faster successor already
    built upon — that successor read our manifest before extending
    it, so our update is embedded in the surviving chain and the
    spurious retry is a no-op."""
    seq = expect_seq + 1
    target = Path(path) / f"_manifest.{seq}.json"
    tmp = Path(path) / (
        f"_manifest.tmp.{os.getpid()}.{next(_TMP_COUNTER)}"
    )
    tmp.write_text(json.dumps(manifest))
    try:
        os.link(tmp, target)
        won = True
    except FileExistsError:
        won = False
    finally:
        tmp.unlink(missing_ok=True)
    if won:
        newest = max(
            (s for s, _ in _manifest_log(path)), default=seq
        )
        if newest > seq:
            # dead-branch link (GC'd slot, or a successor landed
            # between our link and this re-list): retract and lose
            target.unlink(missing_ok=True)
            return False
        for old_seq, p in _manifest_log(path):
            if old_seq <= seq - _KEEP_MANIFESTS:
                p.unlink(missing_ok=True)
    return won


# ---------------------------------------------------------------------------
# File-skipping stats (the Delta/Iceberg data-skipping layer).
#
# Z-order layout (operators.layout) clusters correlated columns into
# few files, but vanilla Spark still OPENS every file and prunes only
# row groups from footers at execution time.  At 100 TB the win is
# planning-time FILE skipping: the commit records per-file min/max
# from the parquet footers it just wrote into ``_stats.json`` INSIDE
# the immutable version dir (so stats travel with the version, need
# no CAS, and delta chains compose file-by-file), and a pruned read
# intersects a column interval against the manifested ranges before
# Spark ever lists or opens a file.  Footer scraping here is driver-
# side (metadata-only reads, O(footer) per file — the Delta retrofit
# path); on a cluster the same stats would ride the write tasks.
# Pruning is strictly an optimization: files or dirs without stats
# are always KEPT, so a pruned read can never drop data.
# ---------------------------------------------------------------------------
_STATS = "_stats.json"


def _norm_stat(v):
    """Normalize a footer statistic (or a prune bound) into a JSON-
    safe, order-preserving ``(value, domain)`` pair: ints stay ints
    (amounts are int64 — float would mis-prune at 9.2e18), floats
    stay floats, Decimal → float (callers widen at the boundary) —
    all domain ``'num'``; date → ordinal day (domain ``'date'``),
    datetime → INTEGER epoch microseconds (domain ``'tsu'`` — float
    epoch seconds would lose sub-µs exactness past year ~2260, so an
    anchor read back from the manifest could sit 1 µs off the true
    max and flip a boundary row; integer micros are exact forever and
    need no float widening), str → str (domain ``'str'``).  Values
    only ever compare WITHIN a domain — a date ordinal (~739000) and
    an epoch-micros timestamp (~1.7e15) are both plain numbers, and
    ordering them against each other would deterministically skip
    every file (dropping all data) instead of failing safe.
    Returns ``(None, None)`` for types we refuse to order (bytes,
    nested, bool) — the file is kept / the bound side is unbounded."""
    if isinstance(v, bool) or v is None:
        return None, None
    if isinstance(v, (int, float)):
        return v, "num"
    if isinstance(v, _decimal.Decimal):
        return float(v), "num"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return (
            v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        ) // _dt.timedelta(microseconds=1), "tsu"
    if isinstance(v, _dt.date):
        return v.toordinal(), "date"
    if isinstance(v, str):
        return v, "str"
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8"), "str"
        except UnicodeDecodeError:
            return None, None
    return None, None


def _norm_bound(v, *, col: str, side: str):
    """Normalize a USER-SUPPLIED prune bound.  Unlike footer stats
    (where an un-orderable value silently keeps the file — the safe
    direction), a bound the caller typed that normalizes to None
    would silently disable pruning on that side with no signal, so
    here it's a loud TypeError.  Naive datetimes additionally widen
    OUTWARD by a full day: Spark interprets naive timestamp literals
    in the session timezone while footer stats are UTC-normalized
    epoch micros, so a naive bound can be off by up to ±14 h — a
    day's slack keeps boundary files un-skippable at the cost of at
    most two extra files per chain (tz-aware datetimes stay exact)."""
    if v is None:
        return None, None
    naive = isinstance(v, _dt.datetime) and v.tzinfo is None
    nv, dom = _norm_stat(v)
    if nv is None:
        raise TypeError(
            f"prune bound {side} for column {col!r} has un-orderable"
            f" type {type(v).__name__}: pruning would be silently"
            " disabled on that side — pass int/float/Decimal/str/"
            "date/datetime or None"
        )
    if naive:  # domain is tsu: integer epoch micros
        day_us = 86_400_000_000
        nv = nv - day_us if side == "lo" else nv + day_us
    return nv, dom


def _scrape_stats(version_dir: Path, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` from the parquet footers under
    ``version_dir`` (recursive — partitionBy layouts nest), through
    ``catalog.footer_minmax``: one footer read per file, no data page
    touched.

    The manifest records EVERY parquet file in the dir — files
    without usable stats carry an empty column map — so a pruned read
    can enumerate the dir's files from this one JSON instead of
    re-walking the filesystem:
    at 100 TB the O(files) listing is itself the planning cost worth
    skipping.  Each stat is ``[lo, hi, domain]`` (see ``_norm_stat``)
    so prune bounds only ever compare within their value domain."""
    files: dict[str, dict] = {}
    for p in sorted(version_dir.rglob("*.parquet")):
        per_col: dict[str, list] = {}
        # a partition col or an absent one has no footer stats
        for col, rng in footer_minmax(str(p), cols).items():
            (lo, dom), (hi, _) = _norm_stat(rng[0]), _norm_stat(rng[1])
            if lo is not None and hi is not None:
                per_col[col] = [lo, hi, dom]
        files[str(p.relative_to(version_dir))] = per_col
    return {"cols": cols, "files": files}


def _widen(lo, hi):
    """Decimal stats pass through float: widen the file interval by a
    relative epsilon so a boundary row can never be wrongly skipped
    (ints — including tsu epoch-micros and date ordinals — and
    strings pass through exact)."""
    if isinstance(lo, float):
        eps = abs(lo) * 1e-9 + 1e-9
        lo = lo - eps
    if isinstance(hi, float):
        eps = abs(hi) * 1e-9 + 1e-9
        hi = hi + eps
    return lo, hi


def pruned_files(
    path: str,
    prune: dict[str, tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Planning-time file skipping: (kept parquet file paths, total
    file count) for a version's content under interval predicates
    ``{col: (lo, hi)}`` (closed; ``None`` = unbounded side).  A file
    is kept unless SOME predicate column has stats proving the file's
    range misses the query interval — missing stats always keep, and
    a bound is only ever compared against a stat of the SAME value
    domain (a date-ordinal stat never orders against an epoch-micros
    bound; the file is kept instead).  A non-None bound of an
    un-orderable type is a TypeError — that's a caller mistake, not a
    footer gap, and silently treating it as unbounded would disable
    pruning with no signal.

    A dir's ``_stats.json`` lists every file of the dir, so its file
    list IS the dir listing — no filesystem walk; only dirs committed
    without ``stats_cols`` (or with an unreadable stats file) fall
    back to an ``rglob``."""
    manifest = _load_manifest(path)
    v = manifest["current"] if version is None else version
    kept: list[str] = []
    total = 0
    bounds = {
        c: (
            _norm_bound(lo, col=c, side="lo"),
            _norm_bound(hi, col=c, side="hi"),
        )
        for c, (lo, hi) in prune.items()
    }
    for d in _version_dirs(path, manifest, v):
        ddir = Path(d)
        stats = _dir_stats(ddir)
        if stats is not None:
            rels = sorted(stats)
        else:
            stats = {}
            rels = [
                str(p.relative_to(ddir))
                for p in sorted(ddir.rglob("*.parquet"))
            ]
        for rel in rels:
            total += 1
            if _keep_file(stats.get(rel, {}), bounds):
                kept.append(str(ddir / rel))
    return kept, total


def _dir_stats(ddir: Path) -> dict | None:
    """The ``files`` map of a version dir's ``_stats.json`` (every
    parquet file of the dir → its per-column ``[lo, hi, domain]``), or
    None when the dir has no readable stats file."""
    try:
        return json.loads((ddir / _STATS).read_text())["files"]
    except (OSError, json.JSONDecodeError, KeyError):
        return None


def _keep_file(per_col: dict, bounds: dict) -> bool:
    """The pruning kernel: may this file contain a row inside every
    queried interval?  ``per_col`` maps column → manifest stat entry,
    ``bounds`` maps column → normalized ``((lo, lo_dom), (hi,
    hi_dom))``.  SAFETY invariant (property-tested in
    tests/test_invariants.py): a file whose data contains ANY row
    matching the intervals is always kept — pruning may only ever
    drop provably-miss files.  Keep on every doubt: missing stats,
    domain mismatch."""
    for col, ((qlo, dlo), (qhi, dhi)) in bounds.items():
        if col not in per_col:
            continue
        lo, hi, fdom = per_col[col]
        if qlo is not None and dlo != fdom:
            continue
        if qhi is not None and dhi != fdom:
            continue
        flo, fhi = _widen(lo, hi)
        if (qlo is not None and fhi < qlo) or (
            qhi is not None and flo > qhi
        ):
            return False
    return True


def _denorm_stat(v, dom):
    """Inverse of ``_norm_stat`` for manifest values: back to the
    Python type a caller can hand to ``pruned_files`` bounds.
    ``tsu`` (integer epoch micros) inverts exactly at any year."""
    if dom == "tsu":
        return _dt.datetime(
            1970, 1, 1, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=int(v))
    if dom == "date":
        return _dt.date.fromordinal(int(v))
    return v


def stats_minmax(
    path: str, col: str, version: int | None = None
) -> tuple | None:
    """Global [min, max] of ``col`` across a version's content, read
    from the commit-time stats manifests alone — pure planning-time
    metadata: no file opens, no Spark job.  This is how an
    incremental day-range plan finds its window anchor at 100 TB
    (e.g. "the trailing 24 h" needs max(ts) — scanning the table to
    learn which files NOT to scan would defeat the skipping).

    Returns ``(lo, hi)`` denormalized to the stat's domain (datetime
    values come back tz-aware UTC — exact against the UTC-normalized
    footer stats), or ``None`` whenever the chain cannot PROVE the
    range: a dir without a stats manifest, a file without stats
    for the column, mixed domains, or a ``str`` column — parquet
    footer min/max for string/binary may be TRUNCATED bounds, so a
    str "max" can be a value that exists in no row; bounds are fine
    for pruning (``pruned_files`` keeps anything inside them) but not
    for an anchor that must be a witnessed value.  num/date stats and
    tsu (integer epoch-micros) stats are exact at any year.  Callers
    must treat ``None`` as "compute the anchor from data"."""
    manifest = _load_manifest(path)
    v = manifest["current"] if version is None else version
    lo = hi = dom = None
    for d in _version_dirs(path, manifest, v):
        stats = _dir_stats(Path(d))
        if stats is None:
            return None
        for per_col in stats.values():
            if col not in per_col:
                return None
            elo, ehi, edom = per_col[col]
            if edom == "str":
                return None  # truncated bound ≠ witnessed value
            if dom is None:
                dom = edom
            elif edom != dom:
                return None
            lo = elo if lo is None else min(lo, elo)
            hi = ehi if hi is None else max(hi, ehi)
    if lo is None:
        return None
    return _denorm_stat(lo, dom), _denorm_stat(hi, dom)


def current_version(path: str) -> int:
    return _load_manifest(path)["current"]


def version_history(path: str) -> list[dict]:
    return _load_manifest(path)["versions"]


def _claim_version(path: str, start: int) -> tuple[int, Path]:
    """Atomically claim the next free version dir via exclusive mkdir.

    ``os.mkdir`` on an existing dir raises, so two racing writers are
    guaranteed DIFFERENT version numbers and neither ever touches (let
    alone deletes) a directory the other may be writing into.  Dirs
    already present — committed versions or crash orphans — are simply
    skipped past; orphans stay invisible (readers resolve only
    manifest-listed versions) until ``vacuum`` retires them."""
    version = start
    while True:
        final = Path(path) / f"v={version}"
        try:
            os.mkdir(final)
            return version, final
        except FileExistsError:
            version += 1


def _publish_version(
    path: str,
    version: int,
    description: str,
    base_version: int | None = None,
    schema: dict | None = None,
) -> None:
    """CAS-loop the claimed version into the manifest log.  Losers of
    a sequence race re-read the winner's manifest and re-apply their
    entry on top, so no concurrent publish can drop another's entry
    (the lost-update failure a timeout-broken lock can't rule out)."""
    entry = {"version": version, "description": description}
    if base_version is not None:
        entry["base"] = base_version
    if schema is not None:
        entry["schema"] = schema
    while True:
        manifest, seq = _load_manifest_seq(path)
        if any(e["version"] == version for e in manifest["versions"]):
            return  # already published (idempotent under retry)
        if (
            base_version is not None
            and manifest["current"] != base_version
        ):
            # optimistic concurrency for deltas: a concurrent commit
            # moved the tip past our base — publishing would fork the
            # chain and silently drop the other writer's rows from
            # the current content.  Fail loudly; the claimed data dir
            # becomes a vacuum-able orphan.
            raise DeltaConflictError(
                f"delta base v{base_version} is no longer the tip of"
                f" {path} (current v{manifest['current']}):"
                " recompute against the new tip and re-commit"
            )
        manifest["current"] = max(manifest["current"], version)
        manifest["versions"] = sorted(
            manifest["versions"] + [entry],
            key=lambda e: e["version"],
        )
        if _publish_manifest(path, manifest, seq):
            return


def commit(
    df: DataFrame,
    path: str,
    description: str,
    partition_cols: list[str] | None = None,
    base_version: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as the table's next immutable version; returns the
    new version number.  The manifest-log CAS is the commit point.
    Concurrent-writer safe: the version dir is claimed exclusively
    before any data is written, and racing publishes serialize through
    the sequence CAS — commits land as distinct consecutive versions
    and no publish can erase another's entry.

    ``base_version`` makes the commit a DELTA: the new version's
    content is ``base_version``'s content plus ``df`` (the manifest
    entry records the base; readers assemble the chain of data dirs).
    This is how an incremental pipeline grows a table at shard cost —
    a snapshot commit rewrites the whole table, a delta commit writes
    only the new rows, and both read back through the same
    ``read_version``.  Deltas are append-only by construction (a
    version dir is immutable); row deletion still requires a snapshot
    rewrite, the honest cost of parquet-level versioning.

    Delta commits are OPTIMISTICALLY CONCURRENT: the publish succeeds
    only if ``base_version`` is still the table tip at CAS time, else
    ``DeltaConflictError`` — without this, two writers sharing a base
    would fork the chain and the loser's rows would silently vanish
    from the current content.  On conflict the claimed data dir
    becomes an orphan (age-gated ``vacuum`` sweep retires it); the
    caller re-reads the tip, recomputes against it, and re-commits.
    Snapshot commits (no base) stay last-writer-wins: each carries its
    full content, so concurrent snapshots cannot lose rows."""
    Path(path).mkdir(parents=True, exist_ok=True)
    if base_version is not None:
        known = {e["version"] for e in _load_manifest(path)["versions"]}
        if base_version not in known:
            raise ValueError(
                f"delta base {base_version} not in table history"
                f" {sorted(known)}"
            )
    version, final = _claim_version(path, _load_manifest(path)["current"] + 1)
    # append into the (empty) claimed dir: overwrite would DELETE the
    # dir first, momentarily releasing the exclusive claim
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(final))
    if stats_cols:
        # inside the claimed (still-unpublished) dir: stats become
        # part of the immutable version, atomically with its publish
        (final / _STATS).write_text(
            json.dumps(_scrape_stats(final, stats_cols))
        )
    data_fields = [
        T.StructField(f.name, f.dataType, True, f.metadata)
        for f in df.schema.fields
        if f.name not in (partition_cols or [])
    ]
    _publish_version(
        path, version, description, base_version,
        T.StructType(data_fields).jsonValue(),
    )
    return version


def committed_entries(path: str) -> list[dict]:
    """Every manifest entry ever published: the live versions, then
    those ``vacuum`` moved to ``retired``."""
    manifest = _load_manifest(path)
    return manifest["versions"] + manifest.get("retired", [])


def _tagged(path: str, tag: str) -> dict | None:
    return next(
        (e for e in committed_entries(path) if e["description"] == tag),
        None,
    )


def commit_once(
    path: str, tag: str, build, *, delta: bool = False, **commit_kw
) -> dict:
    """Commit ``build()`` under description ``tag`` unless ``tag`` is
    already committed; return the tag's manifest entry (``version``,
    plus ``base`` for a delta).  The one build-once rule of persisted
    artifacts.

    A tag counts as committed when ANY manifest entry carries it: a
    version anywhere in history, not only the tip, or one ``vacuum``
    moved to ``retired``.  So a crash-retry or a conflict-retry reuses
    a delta that already landed, a replay after ``compact`` + ``vacuum``
    commits nothing, and no tag is committed twice.  A committed tag
    skips ``build`` entirely: no frame is built, no job fires.
    Otherwise ``build()`` goes through ``commit``; ``delta=True`` bases
    it on the tip read after the frame is built, so a concurrent
    writer that moves the tip still raises ``DeltaConflictError``."""
    if _tagged(path, tag) is None:
        commit(
            build(), path, tag,
            base_version=current_version(path) if delta else None,
            **commit_kw,
        )
    return _tagged(path, tag)


def _version_dirs(path: str, manifest: dict, v: int) -> list[str]:
    """Data dirs composing version ``v``'s content: its own dir plus
    the transitive delta-base chain, base-first."""
    by_ver = {e["version"]: e for e in manifest["versions"]}
    if v not in by_ver:
        raise ValueError(
            f"version {v} not in table history {sorted(by_ver)}"
        )
    chain, cur = [], v
    while cur is not None:
        chain.append(str(Path(path) / f"v={cur}"))
        cur = by_ver[cur].get("base")
    return chain[::-1]


def _stored_schema(manifest: dict, v: int) -> T.StructType | None:
    """The data schema version ``v``'s chain recorded at commit, or
    None (infer from the files) when an entry of the chain carries
    none or the entries disagree."""
    by_ver = {e["version"]: e for e in manifest["versions"]}
    schemas, cur = [], v
    while cur is not None:
        schemas.append(by_ver[cur].get("schema"))
        cur = by_ver[cur].get("base")
    if schemas[0] is None or any(s != schemas[0] for s in schemas):
        return None
    return T.StructType.fromJson(schemas[0])


def _reader(spark: SparkSession, schema: T.StructType | None):
    # a legacy manifest entry stores no schema: Spark infers it (a job)
    return spark.read if schema is None else spark.read.schema(schema)


def read_commit(spark: SparkSession, path: str, entry: dict) -> DataFrame:
    """The rows the commit of manifest ``entry`` wrote: its own data
    dir, without its delta base chain, read with the schema it
    stored (partition columns still come from the ``col=value``
    paths)."""
    schema = entry.get("schema")
    return _reader(
        spark, None if schema is None else T.StructType.fromJson(schema)
    ).parquet(f"{path}/v={entry['version']}")


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
) -> DataFrame:
    """Snapshot read: the manifest's current version, or any retained
    historical version — reorg forensics as a first-class scan.  A
    delta version reads as the union of its base chain's data dirs
    (one multi-path parquet scan — Spark splits and prunes across the
    dirs exactly as it would one dir).

    ``prune={col: (lo, hi)}`` applies planning-time FILE skipping
    against the commit-time stats manifest (see ``pruned_files``):
    only files whose recorded [min,max] intersects every interval are
    handed to Spark.  For stats-committed dirs the manifest carries
    the complete file list, so the driver-side directory walk is
    skipped too — at 100 TB the O(files) listing is itself a
    planning-phase cost that partition pruning and row-group stats
    cannot avoid (dirs committed without ``stats_cols`` still list).
    The caller must still apply the actual filter (skipping is file-
    granular); files without stats are always read.

    Every branch reads with the manifest's stored data schema when
    the chain carries one, so building the frame fires no Spark job."""
    manifest = _load_manifest(path)
    v = manifest["current"] if version is None else version
    dirs = _version_dirs(path, manifest, v)
    reader = _reader(spark, _stored_schema(manifest, v))
    if prune:
        kept, _total = pruned_files(path, prune, version=v)
        if not kept:
            # every file skipped: preserve schema via an empty frame
            return reader.option("basePath", path).parquet(
                *dirs
            ).drop("v").limit(0)
        return reader.option("basePath", path).parquet(*kept).drop("v")
    if len(dirs) == 1:
        return reader.parquet(dirs[0])
    # multi-dir chain: anchor partition discovery at the table root
    # so a partitionBy layout (e.g. cluster=) stays ONE partition
    # column across all delta dirs — one relation, so dynamic
    # partition pruning still prunes the union.  The version dirs
    # themselves parse as a synthetic ``v`` partition column, dropped
    # here (a DATA column named ``v`` is therefore reserved).
    return reader.option("basePath", path).parquet(*dirs).drop("v")


def vacuum(
    path: str, keep_last: int = 2, orphan_ttl_s: float = 3600.0
) -> list[int]:
    """Retire all but the newest ``keep_last`` versions (files AND
    manifest entries — history of retired versions keeps only the
    descriptions under ``retired``), plus any orphan ``v=N`` dirs
    below the current version (claimed by a commit that crashed
    before its manifest CAS; readers never see them).  Returns
    retired version numbers.

    The pruned manifest is CAS-published FIRST, then files are
    deleted: a crash between the two leaves unreferenced dirs that
    the next vacuum's orphan sweep retires, never a manifest entry
    pointing at deleted files.  Two concurrent vacuums serialize
    through the CAS — the loser re-reads the already-pruned manifest
    and finds nothing left to retire.

    Orphan deletion is AGE-GATED on the dir's mtime: "below current
    and not in the manifest" alone does not prove abandonment — a
    slow in-flight commit's claimed dir drops below ``current`` the
    moment a faster concurrent writer publishes a higher version, and
    sweeping it would delete a directory another writer is actively
    writing into (and let it later publish a corrupt version).  A
    claimed dir younger than ``orphan_ttl_s`` is left alone; parquet
    task writes keep refreshing the dir's mtime, so only a commit
    dead for the full TTL qualifies."""
    while True:
        manifest, seq = _load_manifest_seq(path)
        live = manifest["versions"]
        if len(live) <= keep_last:
            retired, kept = [], live
        else:
            retired, kept = live[:-keep_last], live[-keep_last:]
            # a delta version's content lives partly in its base
            # chain: kept versions pin their transitive bases (the
            # bases stay readable history, not retired files)
            by_ver = {e["version"]: e for e in live}
            pinned: set[int] = set()
            for e in kept:
                cur = e.get("base")
                while cur is not None and cur not in pinned:
                    pinned.add(cur)
                    cur = by_ver[cur].get("base")
            if pinned:
                kept = sorted(
                    kept + [e for e in retired if e["version"] in pinned],
                    key=lambda e: e["version"],
                )
                retired = [
                    e for e in retired if e["version"] not in pinned
                ]
        new_manifest = dict(manifest)
        new_manifest["versions"] = kept
        if retired:
            new_manifest["retired"] = manifest.get("retired", []) + retired
        if _publish_manifest(path, new_manifest, seq):
            break
    for e in retired:
        shutil.rmtree(
            Path(path) / f"v={e['version']}", ignore_errors=True
        )
    # orphans: claimed dirs never published.  Only below the current
    # version — a dir ABOVE it may be a live concurrent commit that
    # hasn't CAS'd its manifest yet.
    known = {e["version"] for e in new_manifest["versions"]}
    for d in Path(path).glob("v=*"):
        try:
            v = int(d.name.split("=", 1)[1])
        except ValueError:
            continue
        if v <= new_manifest["current"] and v not in known:
            try:
                if time.time() - d.stat().st_mtime < orphan_ttl_s:
                    continue  # possibly a live in-flight commit
            except OSError:
                continue
            shutil.rmtree(d, ignore_errors=True)
    return [e["version"] for e in retired]


def compact(
    spark: SparkSession,
    path: str,
    description: str = "compaction",
    partition_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
) -> int:
    """Squash the current delta chain into one snapshot version.

    A linear delta chain pins every ancestor forever (``vacuum``
    must keep transitive bases of kept versions), so an incremental
    table's history — and its per-read dir list — grows one entry per
    ingest without bound.  Compaction reads the CURRENT content and
    commits it as a base-less snapshot; the old chain stops being
    anyone's base, and the next ``vacuum`` retires it wholesale.
    This is the standard LSM/lakehouse rhythm: delta commits at
    ingest cost, periodic O(table) squashes to bound read fan-in —
    run it when ``len(_version_dirs(...))`` exceeds taste (a few
    dozen dirs is harmless; parquet scans take multi-path input).

    Concurrency: the squash is just another commit — it claims a
    fresh version dir and CAS-publishes, so racing ingests serialize
    through the manifest as usual.  A delta that lands AFTER the
    compaction read but BEFORE its publish still chains off the old
    tip, so no data is lost — only the compaction's snapshot is then
    stale-tipped, and readers resolve the (higher) delta version.
    Returns the snapshot's version number.

    ``stats_cols=None`` (the default) carries the SKIPPING LAYER
    through the squash: the snapshot re-scrapes footer stats for the
    union of stat columns recorded across the current chain's
    manifests.  Without this, the routine squash would silently
    retire the stats manifest with the chain it replaces — pruned
    reads fall back to keep-everything and ``stats_minmax`` anchors
    fall back to table scans, exactly when the table got big enough
    to compact.  Pass ``stats_cols=[]`` to deliberately drop stats.

    ``cluster_by`` range-partitions the snapshot on those columns
    (``n_files`` output files; default: the chain's current parquet
    file count) — carrying stats forward is not enough if the squash
    SCRAMBLES the layout: a rewrite that packs day-ranged input files
    into arbitrary output splits gives every output file a near-full
    min/max window, so the manifest survives but prunes nothing.
    Clustered compaction keeps the per-file windows as tight as the
    ingests wrote them (the OPTIMIZE ... ZORDER/CLUSTER BY rhythm of
    the lakehouse engines)."""
    # ONE manifest read pins the version being squashed: n_files, the
    # stats-column union, AND the content read must all see the same
    # chain — a delta landing mid-compact would otherwise put its
    # rows in the snapshot while the union missed its (possibly
    # first-of-a-column) stats, silently dropping that column's
    # skipping layer.
    manifest = _load_manifest(path)
    v = manifest["current"]
    dirs = _version_dirs(path, manifest, v)
    if cluster_by and n_files is None:
        n_files = max(
            1,
            sum(1 for d in dirs for _ in Path(d).rglob("*.parquet")),
        )
    if stats_cols is None:
        cols: set[str] = set()
        for d in dirs:
            try:
                blob = json.loads((Path(d) / _STATS).read_text())
                cols |= set(blob.get("cols", []))
            except (OSError, json.JSONDecodeError):
                continue  # chain dirs without manifests contribute none
        stats_cols = sorted(cols)
    content = read_version(spark, path, version=v)
    if cluster_by:
        content = content.repartitionByRange(n_files, *cluster_by)
    return commit(
        content, path, description,
        partition_cols=partition_cols,
        stats_cols=stats_cols or None,
    )
