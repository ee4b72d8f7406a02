"""Size gate of the key-pin repartition (``sources.catalog``):
``table_bytes`` sees every byte of a nested (Hive-partitioned) table,
and a table it cannot size is never pinned."""

from __future__ import annotations

import os

from batchprocessor_spark.sources import catalog


def _write(path: str, nbytes: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * nbytes)


def test_table_bytes_walks_partition_directories(tmp_path):
    table = tmp_path / "events"
    _write(str(table / "_SUCCESS"), 0)
    _write(str(table / "dt=2024-01-01" / "part-0.parquet"), 1000)
    _write(str(table / "dt=2024-01-01" / "hour=3" / "part-1.parquet"), 300)
    _write(str(table / "dt=2024-01-02" / "part-0.parquet"), 20)
    _write(str(tmp_path / "orders.parquet"), 77)

    assert catalog.table_bytes(str(tmp_path), "events") == 1320
    assert catalog.table_bytes(f"file://{tmp_path}", "events") == 1320
    assert catalog.table_bytes(str(tmp_path), "orders") == 77


def test_table_bytes_unknown_for_remote_paths():
    assert catalog.table_bytes("s3a://bucket/sf1", "events") is None
    assert catalog.table_bytes("hdfs://nn:8020/sf1", "events") is None


def test_spread_keyed_pins_nested_table_and_skips_unknown(spark, tmp_path, monkeypatch):
    _write(str(tmp_path / "events" / "dt=1" / "part-0.parquet"), 4096)
    monkeypatch.setattr(catalog, "_PIN_MIN_BYTES", 1024)
    df = spark.range(10)

    pinned = catalog.spread_keyed(df, str(tmp_path), "events", "id")
    assert "RepartitionByExpression" in pinned._jdf.queryExecution().logical().toString()
    assert catalog.spread_keyed(df, "s3a://bucket/sf1", "events", "id") is df
