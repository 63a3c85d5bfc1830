"""Sources: table catalog + readers (SURVEY §2.1)."""

from omniengine_spark.sources.catalog import (
    fan_out,
    TABLES,
    load_table,
    stream_table,
)

__all__ = ["TABLES", "fan_out", "load_table", "stream_table"]
