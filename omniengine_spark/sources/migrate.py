"""Versioned schema migrations of the parquet warehouse.

The reference evolves its Postgres schema with numbered patch files
applied transactionally (``upgrade.py:17-36``,
``patches/omniDB.v26.patch`` … ``v32.patch`` — add-column-with-
default, rename, backfill UPDATEs).  A parquet warehouse has no ALTER
TABLE, so a migration here is a declared DataFrame transform whose
result is committed as the table's next version with
``versioned.commit_once``, tagged ``migration <n>: <description>``.
The table is a ``versioned`` table (seed it with ``versioned.commit``)
and is read back with ``versioned.read_version``.

Properties the reference's patch runner has, kept:
- ordered: migrations apply strictly by ascending version, and a gap
  in the versions is an error;
- transactional: the manifest CAS publishes the migrated rows and the
  tag at once.  A crash before it leaves an orphan version dir that
  readers never see; a crash after it leaves the tag committed, so a
  re-run skips that migration.  Either way a re-run converges, and a
  re-run at the current version commits nothing and fires no job;
- recorded: the schema version and history are the migration tags of
  the manifest, those ``vacuum`` retired included.

At scale the rewrite is the honest cost model: adding a backfilled
column IS a full scan+write of the table (same as Postgres rewriting
the heap for a non-default backfill), parallelized across executors.
Each migration writes a new version dir, so it never overwrites the
files it reads.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from omniengine_spark.sources.versioned import (
    commit_once,
    committed_entries,
    read_version,
)

_TAG = re.compile(r"migration (\d+): (.*)", re.DOTALL)


@dataclass(frozen=True)
class Migration:
    """One versioned schema change: ``apply`` maps the table at
    version-1 to the table at ``version``."""

    version: int
    description: str
    apply: Callable[[DataFrame], DataFrame]


def migration_history(path: str) -> list[dict]:
    """``{"version", "description"}`` of every applied migration,
    ascending, read from the manifest's tags."""
    history = []
    for e in committed_entries(path):
        m = _TAG.fullmatch(e["description"])
        if m:
            history.append(
                {"version": int(m.group(1)), "description": m.group(2)}
            )
    return sorted(history, key=lambda h: h["version"])


def schema_version(path: str) -> int:
    """Current warehouse schema version (0 = never migrated)."""
    return max((h["version"] for h in migration_history(path)), default=0)


def migrate(
    spark: SparkSession,
    path: str,
    migrations: list[Migration],
    to_version: int | None = None,
) -> int:
    """Apply every pending migration ≤ ``to_version`` in version
    order; returns the resulting version.  Each step is one
    ``commit_once`` of the migrated head under the migration's tag."""
    current = schema_version(path)
    pending = sorted(
        (
            m
            for m in migrations
            if m.version > current
            and (to_version is None or m.version <= to_version)
        ),
        key=lambda m: m.version,
    )
    for m in pending:
        if m.version != current + 1:
            raise ValueError(
                f"non-contiguous migration: at v{current}, "
                f"next patch is v{m.version}"
            )
        commit_once(
            path,
            f"migration {m.version}: {m.description}",
            lambda m=m: m.apply(read_version(spark, path)),
        )
        current = m.version
    return current


def add_column(name: str, expr) -> Callable[[DataFrame], DataFrame]:
    """Patch body: ALTER TABLE ADD COLUMN with backfill (the
    ``v26.patch`` add-default pattern) as a projection."""

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumn(name, expr)

    return _apply


def rename_column(old: str, new: str) -> Callable[[DataFrame], DataFrame]:
    """Patch body: RENAME COLUMN (``v26.patch``'s txsubmittime →
    txrecvtime)."""

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumnRenamed(old, new)

    return _apply
