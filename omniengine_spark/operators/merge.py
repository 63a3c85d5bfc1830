"""Batch MERGE (upsert/delete) — the reference's most-repeated SQL
pattern, generalized.

Seven call sites in the reference are the same CTE dance:
``with upsert as (update … returning *) insert … where not exists
(select * from upsert)`` — settings (``sql.py:233-236``), activeoffers
(``851-859``), markets (``955-974``), featureactivations
(``1125-1131``), addressstats (``1648-1656``), fees
(``updateFees.py:89-93``), rates (``updatePrices.py:82-111``).  None
can delete; expiry sweeps are separate statements.

Here the whole MERGE is one declarative recompute of the target
relation — matched rows take source values, unmatched target rows
survive, unmatched source rows insert, and a delete predicate drops
matched rows — because in an immutable-storage engine an upsert IS a
rewrite of the affected partitions (cf. ``sources/sinks.py:
write_partitioned`` for the partition-overwrite landing).

Scale shape: one shuffle of each side on the merge keys (or zero with
bucketed tables, ``tests/test_bucketing.py``); the anti-joins and the
inner join share that partitioning, and AQE broadcasts whichever side
is small.  No window, no driver-side state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    delete_condition: Column | None = None,
) -> DataFrame:
    """MERGE ``source`` into ``target`` on ``keys``.

    - key in both: the source row wins (WHEN MATCHED THEN UPDATE);
      if ``delete_condition`` (evaluated over source columns) holds,
      the row is dropped instead (WHEN MATCHED … THEN DELETE).
    - key only in source: inserted (WHEN NOT MATCHED THEN INSERT) —
      unless ``delete_condition`` holds, matching Delta/Iceberg MERGE
      semantics where a not-matched-by-target row only inserts via
      the insert clause's condition.
    - key only in target: kept unchanged.

    Both inputs must share the target schema (the common
    recompute-merge case).  Returns the post-merge relation; callers
    persist it with a partition-overwrite write.
    """
    keys = list(keys)
    survivors = source
    if delete_condition is not None:
        survivors = source.filter(~delete_condition)
    untouched = target.join(
        source.select(*keys).distinct(), keys, "left_anti"
    )
    return untouched.unionByName(survivors)
