"""Bucketed tables: pre-shuffled storage for co-located joins.

At 100 TB the single biggest shuffle saving is to bucket both fact
tables by the join key at write time — the sort-merge join then reads
co-located buckets with NO Exchange on either side. ``save_bucketed``
wraps ``bucketBy``/``saveAsTable`` (bucketed layouts require the table
catalog; plain ``save(path)`` cannot record bucket metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``key``.
    Joins between tables bucketed the same way skip the shuffle; the
    sort additionally skips the per-task sort of a sort-merge join.
    ``path`` makes it an external table (data outside the session
    warehouse dir — what library callers usually want)."""
    keys = [key] if isinstance(key, str) else key
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)

