"""Small-file compaction tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from batchprocessor_spark.sources.compaction import compact


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(10_000).select("id", (F.col("id") % 13).alias("v"))
    df.repartition(40).write.parquet(path)
    import os

    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before >= 30
    n_files = compact(spark, path, target_files=2)
    assert n_files == 2
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))
