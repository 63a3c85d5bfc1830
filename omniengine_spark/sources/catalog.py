"""Parquet table catalog over a warehouse directory.

The reference reads everything through per-row psycopg2 cursors
(reference ``sqltools.py:48-64``); here a "table" is a parquet dataset
and reads are columnar, pushdown-enabled scans.  ``load_table`` is the
single choke point so partition layout / format changes stay local.
"""

from __future__ import annotations

import datetime as _dt
import functools
import hashlib
import json
import os
import shutil
import stat
import tempfile
import zipfile
from pathlib import Path
from typing import Callable, Iterator, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_V = TypeVar("_V")
QueryFn = Callable[[SparkSession, str], DataFrame]
_PKG_ROOT = Path(__file__).resolve().parents[1]
# the key under which Spark stores its schema in a parquet footer
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Ship omniengine_spark to executor Python workers, once per
    session.

    The harness driver loads ``__spark_entry__.py`` by path from an
    arbitrary cwd, so executor-side pickles that reference this
    package (applyInPandas folds, mapInPandas kernels) would fail to
    import it.  addPyFile with a package zip makes every worker
    self-sufficient — same mechanism a real cluster deployment uses.
    """
    session_memo(spark, "package", None, lambda: _ship_package(spark))


def _ship_package(spark: SparkSession) -> str:
    # key the zip by a digest of the source set (path, mtime, size) —
    # a pid-keyed name survives pid recycling and would ship a STALE
    # copy of edited code to executors while the driver runs the new
    # version, silently diverging results
    sources = sorted(_PKG_ROOT.rglob("*.py"))
    h = hashlib.md5(repr([
        (str(py.relative_to(_PKG_ROOT)), path_signature(str(py)))
        for py in sources
    ]).encode())
    zpath = os.path.join(
        tempfile.gettempdir(), f"omniengine_spark-{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, f"omniengine_spark/{py.relative_to(_PKG_ROOT)}")
        os.replace(tmp, zpath)  # atomic vs concurrent builders
    spark.sparkContext.addPyFile(zpath)
    return zpath


# Harness-provided TPC-H-ish star schema + events/documents/embeddings
# (TESTDATA.md).  Dimension tables marked small are broadcast-preferred
# in joins; ``ts_cols`` are event-time columns stored by the generator
# as nanosecond parquet timestamps.
TABLES: dict[str, dict] = {
    "region": {"small": True},
    "nation": {"small": True},
    "customer": {"small": False},
    "supplier": {"small": True},
    "part": {"small": False},
    "orders": {"small": False, "ts_cols": ["o_orderdate"]},
    "lineitem": {"small": False, "ts_cols": ["l_shipdate"]},
    "events": {"small": False, "ts_cols": ["ts"]},
    "documents": {"small": False},
    "embeddings": {"small": False},
}


# Session state (README "Session state") of one applicationId: the memo,
# (kind, path) -> (signature, value); plan name -> what its latest call holds.
_SESSION_MEMO: dict[tuple[str, str | None], tuple] = {}
_CALLS: dict[str, dict[str, list]] = {}
_app_id: str | None = None
_building: dict[str, list] | None = None  # the call being built


def _same_app(spark: SparkSession) -> None:
    # no state outlives the py4j gateway its handles point into
    global _app_id
    if spark.sparkContext.applicationId != _app_id:
        _SESSION_MEMO.clear()
        _CALLS.clear()
        _app_id = spark.sparkContext.applicationId


def hold(kind: str, item: _V) -> _V:
    """``item``, held under ``kind`` by the plan call being built."""
    if _building is not None:
        _building[kind].append(item)
    return item


def persist(df: DataFrame, level=None) -> DataFrame:
    """``df`` persisted (default MEMORY_AND_DISK), held as a frame."""
    return hold("frames", df.persist(level) if level else df.persist())


def checkpoint(df: DataFrame) -> DataFrame:
    """A lazy ``localCheckpoint`` of ``df``: the first action saves it,
    so the build fires no job for it (an eager one cost 2.0 s of every
    d4/d7c build).  Its RDD id is held, not the frame: the JVM may free
    the checkpoint sooner, once no frame reads it."""
    out = df.localCheckpoint(eager=False)
    hold("rdds", out._jdf.logicalPlan().rdd().id())
    return out


def plan_call(name: str, fn: QueryFn) -> QueryFn:
    """``fn`` run as one call of plan ``name``, the unit of session state.

    State lives while some plan's latest call holds it.  When the build
    ends, this call replaces the plan's previous one, and what that one
    held and no plan's latest call holds is released.  A persisted frame
    counts as held while a held frame has the same semantics: Spark's
    cache serves both from one entry.  Module-global, not per thread:
    ``foreachBatch`` callbacks run on py4j threads."""

    @functools.wraps(fn)
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _building
        _same_app(spark)
        held = _building = {"paths": [], "memo": [], "rdds": [], "frames": []}
        try:
            return fn(spark, sf_dir)
        finally:
            _building = None
            prev, _CALLS[name] = _CALLS.get(name, held), held
            live = {k: [x for c in _CALLS.values() for x in c[k]]
                    for k in held}
            for df in prev["frames"]:
                if not any(df.sameSemantics(f) for f in live["frames"]):
                    df.unpersist()
            for rid in set(prev["rdds"]).difference(live["rdds"]):
                rdd = spark.sparkContext._jsc.getPersistentRDDs().get(rid)
                if rdd is not None:
                    rdd.unpersist(False)
            for key in set(prev["memo"]).difference(live["memo"]):
                _SESSION_MEMO.pop(key, None)
            for path in set(prev["paths"]).difference(live["paths"]):
                shutil.rmtree(path, ignore_errors=True)

    return call


def path_signature(path: str) -> tuple | None:
    """File-identity signature of a file or a directory tree: mtime_ns
    and size of the path and of every entry below it.  None when the
    path cannot be statted."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        sig = [(st.st_mtime_ns,)]
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(dirs + files):
                fp = os.path.join(root, name)
                fst = os.stat(fp)
                sig.append((os.path.relpath(fp, path), fst.st_mtime_ns,
                            fst.st_size))
        return tuple(sig)
    except OSError:
        return None


def session_memo(
    spark: SparkSession, kind: str, path: str | None, build: Callable[[], _V]
) -> _V:
    """Get-or-build one piece of session state under ``(kind, path)``.

    ``path`` is the input file the value derives from: the entry is
    served while the file's ``path_signature`` is unchanged, and a
    rewrite replaces it.  The entry is held by the plan call being
    built (``plan_call``).  A path that cannot be signed bypasses the
    store; a pathless entry (``path=None``) lives for the session.  Not
    safe under concurrent callers: drive a session from one thread.
    """
    _same_app(spark)
    sig = () if path is None else path_signature(path)
    if sig is None:
        return build()
    hit = _SESSION_MEMO.get((kind, path))
    if hit is None or hit[0] != sig:
        hit = _SESSION_MEMO[(kind, path)] = (sig, build())
    if path is not None:
        hold("memo", (kind, path))
    return hit[1]


def footers(path: str) -> Iterator[tuple[str, object]]:
    """(path relative to ``path``, pyarrow ``FileMetaData``) of the
    parquet file ``path``, or of each data file below the directory
    ``path`` in name order, skipping the ``_``/``.`` names Spark
    treats as hidden.  Lazy, one footer per step, so a caller that
    stops early reads no further footer; no data page is touched.
    Raises ``OSError``/``ValueError`` (missing path, not parquet)
    while iterated."""
    import pyarrow.parquet as pq

    root = Path(path)
    if not root.is_dir():
        yield "", pq.read_metadata(root)
        return
    for p in sorted(root.rglob("*.parquet")):
        rel = p.relative_to(root)
        if not any(part.startswith(("_", ".")) for part in rel.parts):
            yield str(rel), pq.read_metadata(p)


def _footer_field(at, ntz: bool, physical: str | None):
    """The Spark type a schema-inferring parquet read gives the arrow
    column type ``at``, or None where this mapping does not cover it.
    ``physical`` is the column's parquet physical type when it is a
    top-level leaf, else None: only top-level timestamps are mapped."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(at):
        if physical != "INT64":
            return None  # nested, or INT96 that arrow shows as ns
        if at.unit == "ns":
            return T.LongType()  # spark.sql.legacy.parquet.nanosAsLong
        if at.unit != "us":
            return None
        if at.tz is None and ntz:
            return T.TimestampNTZType()
        return T.TimestampType()
    if pa.types.is_list(at):
        elem = _footer_field(at.value_type, ntz, None)
        return None if elem is None else T.ArrayType(elem, True)
    if (
        pa.types.is_boolean(at) or pa.types.is_signed_integer(at)
        or pa.types.is_float32(at) or pa.types.is_float64(at)
        or pa.types.is_decimal128(at) or pa.types.is_string(at)
        or pa.types.is_date32(at)
    ):
        return from_arrow_type(at)
    return None


def _as_nullable(js):
    """A Spark type's JSON with every field, array element and map
    value made nullable, as a file source reads a stored schema."""
    if isinstance(js, dict):
        js = {k: _as_nullable(v) for k, v in js.items()}
        for key in ("nullable", "containsNull", "valueContainsNull"):
            if key in js:
                js[key] = True
    elif isinstance(js, list):
        js = [_as_nullable(v) for v in js]
    return js


def _footer_struct(md, ntz: bool) -> T.StructType | None:
    """The schema an inferring read takes from one file's footer: the
    schema Spark stored there when Spark wrote the file, else the
    arrow schema through ``_footer_field``; None where that does not
    cover a type."""
    stored = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        return T.StructType.fromJson(_as_nullable(json.loads(stored)))
    leaves = {
        md.schema.column(j).path: md.schema.column(j).physical_type
        for j in range(md.num_columns)
    }
    fields = []
    for f in md.schema.to_arrow_schema():
        st = _footer_field(f.type, ntz, leaves.get(f.name))
        if st is None:
            return None
        fields.append(T.StructField(f.name, st, True))
    return T.StructType(fields)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema an inferring parquet read of ``path`` gives, read from
    the parquet footers on the driver instead of by Spark's schema-
    inference job.  TIMESTAMP(NANOS) maps to LongType, as with
    ``nanosAsLong``; naive TIMESTAMP(MICROS) follows the session's
    ``inferTimestampNTZ``; a file Spark wrote gives the schema Spark
    stored in it.  Spark infers the schema (one job) where the footers
    cannot give it: a type the mapping does not cover, a partitioned
    layout, files whose schemas differ, or no readable footer."""
    ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ) == "true"
    schema = None
    try:
        for rel, md in footers(path):
            st = None if "=" in rel else _footer_struct(md, ntz)
            if st is None or (schema is not None and st != schema):
                schema = None
                break
            schema = st
    except (OSError, ValueError):  # missing path, not parquet
        schema = None
    return schema or spark.read.parquet(path).schema


def footer_minmax(path: str, cols: list[str]) -> dict[str, tuple]:
    """(min, max) of each column of ``cols`` (leaf paths, e.g. ``ts``)
    over the parquet file or directory ``path``, from footer
    statistics alone, as pyarrow decodes them, reading each footer
    once.  A column is left out unless every row group of every file
    has min/max statistics for it; empty when no file has a row or
    the footers cannot be read.  Integer, date and timestamp bounds
    are exact; a BYTE_ARRAY (string) bound may be truncated, so a
    caller that needs a value some row holds must check the type."""
    out: dict[str, tuple] = {}
    proven = set(cols)
    try:
        for _rel, md in footers(path):
            leaves = {
                md.schema.column(j).path: j for j in range(md.num_columns)
            }
            proven &= leaves.keys()
            for col in list(proven):
                j = leaves[col]
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if st is None or not st.has_min_max:
                        proven.discard(col)
                        break
                    lo, hi = out.get(col, (st.min, st.max))
                    out[col] = (min(lo, st.min), max(hi, st.max))
    except (OSError, ValueError):  # missing path, not parquet
        return {}
    return {c: out[c] for c in cols if c in proven and c in out}


def day_range(spark: SparkSession, sf_dir: str) -> tuple[_dt.date, _dt.date]:
    """(first, last) UTC day of ``events.ts``: the anchor the split
    plans place their cutoff from.  Read from the footers when they
    prove it (``to_date`` is monotone and INT64 timestamp statistics
    are exact), else one Spark aggregate over ``load_table``.  Only
    datetime bounds are taken: a ``ts`` stored as a string could carry
    truncated bounds that no row holds."""
    rng = footer_minmax(f"{sf_dir}/events.parquet", ["ts"]).get("ts")
    if rng is not None and all(isinstance(v, _dt.datetime) for v in rng):
        # the session is UTC; a naive statistic is UTC wall clock
        return tuple(
            (v.astimezone(_dt.timezone.utc) if v.tzinfo else v).date()
            for v in rng
        )
    day = F.to_date("ts")
    return tuple(
        load_table(spark, sf_dir, "events").agg(F.min(day), F.max(day))
        .collect()[0]
    )


def cutoff_day(spark: SparkSession, sf_dir: str, days: int) -> _dt.date | None:
    """The split plans' cutoff: ``days`` after the first day of
    ``events.ts`` (``day_range``), or None for an empty table, which a
    ``day <= lit(None)`` filter reads as "no day"."""
    first = day_range(spark, sf_dir)[0]
    return None if first is None else first + _dt.timedelta(days=days)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from the warehouse dir as a DataFrame.

    The harness parquet stores timestamps as TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; we read them as raw nano longs
    (``nanosAsLong``) and truncate to microsecond TimestampType — the
    same truncation DuckDB applies, so oracles agree.  The schema comes
    from the footers (``parquet_schema``), so building the frame fires
    no Spark job.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver sessions are not built by our factory; pin the timezone
    # here so epoch/interval plans agree with the (UTC) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_package_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        for c in TABLES.get(name, {}).get("ts_cols", []):
            if isinstance(df.schema[c].dataType, T.LongType):
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
        return df

    # an UNEXECUTED plan: the memo saves the ~140 ms listing + footer
    # read, every action still recomputes from the parquet input
    return session_memo(spark, "table", path, build)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table as a Structured Streaming source.

    File-stream over the same parquet the batch path reads (the
    reference's per-block poll loop, ``omniEngine.py:109-232``,
    becomes a real incremental source).  Schema comes from the same
    file's footers (``parquet_schema``); the nano→micro timestamp fix
    matches ``load_table`` so stream and batch plans agree.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(parquet_schema(spark, path))
    # SPARK_GRAFT_STREAM_MAX_FILES caps files per micro-batch — the
    # throughput-bench knob (tools/stream_bench.py): availableNow
    # honors source rate limits, so a chunked table drains as a
    # SEQUENCE of micro-batches instead of one, making sustained
    # rows/s and per-batch latency measurable.  Unset (the default)
    # is the production shape: drain as fast as the source allows.
    max_files = os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", int(max_files))
    if os.path.isdir(path):
        # a directory table (chunked stream source, or a laid-out
        # warehouse rewrite): stream its files directly — the glob
        # filter below would reject the part-file names
        df = reader.parquet(path)
    else:
        df = reader.option(
            "pathGlobFilter", f"{name}.parquet"
        ).parquet(sf_dir)
    for c in TABLES.get(name, {}).get("ts_cols", []):
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            # Watermarks/event-time require TIMESTAMP (with local tz);
            # sessions not built by our factory read parquet naive
            # timestamps as NTZ.  Session tz is pinned UTC above, so
            # this cast preserves the wall-clock == UTC epoch.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _effective_parquet_splits(df: DataFrame) -> int | None:
    """TRUE scan parallelism of a parquet-backed frame: the total
    row-group count across its input files (footer metadata only,
    driver-side, ~ms per file).  Spark's split count is byte-range
    arithmetic — a 2.5 GB file yields ~32 splits at 78 MB each — but
    a split only produces rows if a ROW GROUP STARTS inside it, so a
    file written as one giant row group feeds exactly one task no
    matter how many splits cover it.  Returns None when the input
    isn't introspectable (non-parquet, remote scheme, many files —
    ≥64 files have plenty of groups by construction)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-backed plans
        return None
    if not files or len(files) >= 64:
        return None
    import urllib.parse

    total = 0
    for f in files:
        if not f.startswith("file:") or not f.endswith(".parquet"):
            return None
        # inputFiles() returns percent-encoded URIs (spaces, non-ASCII
        # → %xx); decode, or the footer read fails and the guard
        # silently deactivates for exactly the files it should fix
        path = urllib.parse.unquote(urllib.parse.urlparse(f).path)
        try:
            total += sum(md.num_row_groups for _, md in footers(path))
        except (OSError, ValueError):  # unreadable footer
            return None
    return total


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count when the
    input has fewer EFFECTIVE splits than cores.

    The testdata tables are few-row-group parquet files, which
    serializes CPU-heavy per-row work (shingling, minhash, trigram
    explode) onto one or two cores no matter the master.  On a real
    warehouse the scan has thousands of row-group splits and this is
    a no-op by the guard.  The guard checks BOTH Spark's split count
    AND the files' actual row-group count: split count alone is
    fooled by big single-row-group files (a 2.5 GB / 2-row-group
    documents file shows ≥32 byte-range splits, but 30 of them
    contain no row-group start and read zero rows — measured as a
    12-minute two-task straggler on the 1.25M-doc minhash soak while
    30 cores idled).  Only safe where downstream is order-free
    (signatures, aggregations) — never before ordered folds or
    serial stamping.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        eff = _effective_parquet_splits(df)
        if eff is None or eff >= target:
            return df
    return df.repartition(target)
