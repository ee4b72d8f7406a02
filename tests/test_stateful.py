"""applyInPandasWithState custom operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from batchprocessor_spark.plans.registry import load_all
from tests.conftest import SF_ORACLE
from batchprocessor_spark.sources.catalog import load_table

REGISTRY = load_all()


def test_stream_stream_join_equals_batch_join(spark):
    """The watermarked stream-stream join over a fully-drained replay
    must equal the batch join with the same predicate."""
    got = sorted(
        (r.purchase_id, r.click_id)
        for r in REGISTRY["q_stream_stream_join"].builder(spark, SF_ORACLE).collect()
    )
    e = load_table(spark, SF_ORACLE, "events")
    clicks = e.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = e.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    expected = sorted(
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    )
    assert got == expected
    assert len(got) > 0


def test_stream_event_time_units(spark):
    """The streaming events reader must surface the SAME event times
    as the batch catalog. A file stream takes an explicit schema, and
    declaring BIGINT for a TIMESTAMP(MICROS) parquet column (or vice
    versa for NANOS files) silently shifts every event time 1000× —
    which broke every interval-bounded streaming join when the test
    data switched encodings. _events_stream probes the batch reader's
    resolved dtype; this pins min/max event time equality."""
    from batchprocessor_spark.streaming.queries import _events_stream, run_to_memory

    streamed = run_to_memory(
        _events_stream(spark, SF_ORACLE).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        )
    ).collect()[0]
    batch = (
        load_table(spark, SF_ORACLE, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    assert streamed.lo == batch.lo and streamed.hi == batch.hi, (
        f"stream event-time units diverge from batch: "
        f"stream=({streamed.lo}, {streamed.hi}) batch=({batch.lo}, {batch.hi})"
    )


def test_custom_state_equals_batch_aggregate(spark):
    """After a full drain, the stateful per-user counters must equal
    the plain batch groupBy over the same data — in the same exact
    cents lane the state accumulates (streaming/stateful.py), so the
    doubles are bit-identical, not approximately close."""
    got = {
        (r.user_id): (r.event_count, r.value_sum)
        for r in REGISTRY["q_stream_custom_state"].builder(spark, SF_ORACLE).collect()
    }
    cents = F.sum(F.round(F.col("value") * 100).cast("long"))
    expected = {
        r.user_id: (r.cnt, r.vs)
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (cents / F.lit(100.0)).alias("vs"),
        )
        .collect()
    }
    assert len(got) == len(expected)
    mismatched = {
        k: (got[k], expected[k]) for k in expected if got.get(k) != expected[k]
    }
    assert not mismatched, dict(list(mismatched.items())[:5])


def test_rocksdb_state_store_same_result(spark):
    """Stateful streaming ops must produce identical results on the
    RocksDB state-store provider — the provider a production cluster
    runs when state outgrows executor heap (the 100 TB posture for
    streaming dedup/joins: RocksDB spills to local SSD instead of
    OOMing). The provider is pinned into a query's checkpoint at
    first start, so each run here starts fresh."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    expected = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_ORACLE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    try:
        spark.conf.set(key, rocks)
        got = {
            (r.user_id, r.event_type)
            for r in REGISTRY["q_stream_dedup_state"]
            .builder(spark, SF_ORACLE)
            .collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert got == expected


def test_stream_reads_directory_layout(tmp_path, spark):
    """The events stream must also work when the table is a DIRECTORY
    (events/part-*.parquet) rather than a single events.parquet file —
    the glob filter that picks the single file out of sf_dir must not
    be applied to the directory form (it would match nothing and
    silently drain an empty stream)."""
    import os
    import shutil

    from batchprocessor_spark.streaming.queries import _events_stream, run_to_memory

    src = f"{SF_ORACLE}/events.parquet"
    (tmp_path / "events").mkdir()
    # SF_ORACLE is the multi-file mirror since r8, so the source table
    # may itself be a directory of part files; both layouts must land
    # as a plain `events/part-*.parquet` directory here.
    if os.path.isdir(src):
        for i, part in enumerate(sorted(os.listdir(src))):
            if part.endswith(".parquet"):
                shutil.copy(
                    os.path.join(src, part),
                    tmp_path / "events" / f"part-{i:05d}.parquet",
                )
    else:
        shutil.copy(src, tmp_path / "events" / "part-00000.parquet")
    streamed = run_to_memory(
        _events_stream(spark, str(tmp_path)).agg(F.count(F.lit(1)).alias("n"))
    ).collect()[0].n
    batch = load_table(spark, SF_ORACLE, "events").count()
    assert streamed == batch


def test_rocksdb_state_backend_matches_default(spark):
    """The RocksDB state store provider (the backend large stateful
    jobs run in production — state spills to local disk instead of
    executor heap) must produce the same streaming aggregate as the
    default HDFS-backed provider. This exercises the RocksDB path
    independently of transformWithState (whose python wire protocol
    needs protobuf): plain JVM-side stateful aggregation."""
    from batchprocessor_spark.streaming.queries import _events_stream, run_to_memory

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)

    def agg_counts():
        agg = (
            _events_stream(spark, SF_ORACLE)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
        )
        return {
            r.event_type: (r.cnt, r.cents) for r in run_to_memory(agg).collect()
        }

    try:
        spark.conf.set(key, rocks)
        via_rocks = agg_counts()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    via_default = agg_counts()
    assert via_rocks == via_default and len(via_rocks) == 5
