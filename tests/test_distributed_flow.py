"""End-to-end distributed flow control (VERDICT r2 item 5): a real
multi-partition stream driven through foreach_batch_sink(
distributed=True) with a partially-failing sink must dead-letter the
poisoned chunks under per-epoch/partition DLQ subpaths and deliver
everything else — zero loss, no double-delivery, chunk-granular
failure isolation (the executor-side twin of test_retry_then_dlq)."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from batchprocessor_spark.streaming.flow import FlowControlConfig
from batchprocessor_spark.streaming.processor import foreach_batch_sink

# Rate-bound runs of several seconds each are in the opt-in slow lane
# (@pytest.mark.slow); a short escrow run, the in-flight cap and the
# frame-dtype pin stay in the default lane, so it drives
# handle_distributed end to end. The Spark-free flow
# tests are in tests/test_flow.py.

N_ROWS = 200


@pytest.mark.slow
def test_distributed_retry_dlq_zero_loss(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ok_dir = tmp_path / "ok"
    ok_dir.mkdir()
    dlq = str(tmp_path / "dlq")
    ok_path = str(ok_dir)

    pd.DataFrame({"id": range(N_ROWS)}).assign(
        pk=lambda d: d["id"] % 8
    ).to_parquet(src / "input.parquet", index=False)

    def sink(chunk: pd.DataFrame) -> None:
        # Executor-side sink: poison pill on pk==0 rows; successful
        # chunks are persisted so delivery is observable across the
        # python-worker process boundary.
        import uuid

        if (chunk["pk"] == 0).any():
            raise RuntimeError("poisoned chunk")
        chunk.to_parquet(
            os.path.join(ok_path, f"{uuid.uuid4().hex}.parquet"), index=False
        )

    cfg = FlowControlConfig(
        batch_size=16, concurrency=2, max_retry_count=1, retry_delay_s=0.01
    )
    stream = (
        spark.readStream.schema("id BIGINT, pk BIGINT")
        .parquet(str(src))
        .repartition(4, "pk")
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_sink(sink, cfg, dlq_path=dlq, distributed=True)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"

    dlq_files = glob.glob(f"{dlq}/**/*.parquet", recursive=True)
    assert dlq_files, "expected per-partition DLQ parquet files"
    dlq_ids = set(
        pd.concat([pd.read_parquet(f) for f in dlq_files])["id"].tolist()
    )
    ok_files = glob.glob(f"{ok_path}/*.parquet")
    ok_ids = (
        set(pd.concat([pd.read_parquet(f) for f in ok_files])["id"].tolist())
        if ok_files
        else set()
    )

    # Zero loss, no double delivery.
    assert dlq_ids | ok_ids == set(range(N_ROWS))
    assert not (dlq_ids & ok_ids)
    # Every poisoned row is dead-lettered; no poisoned row "succeeds";
    # and the healthy partitions really did deliver.
    poisoned = {i for i in range(N_ROWS) if i % 8 == 0}
    assert poisoned <= dlq_ids
    assert not (poisoned & ok_ids)
    assert ok_ids, "expected at least the pk!=0 partitions to deliver"
    # DLQ provenance: epoch=<n>/partition=<m> subpaths, and the poison
    # pk hashes to exactly one partition.
    rels = [os.path.relpath(f, dlq).split(os.sep) for f in dlq_files]
    assert all(r[0].startswith("epoch=") and r[1].startswith("partition=") for r in rels)
    assert len({r[1] for r in rels}) == 1


def _distinct_partition_pks(spark, n: int) -> list[int]:
    """One pk value per partition of repartition(n, pk), in partition
    order — Murmur3 is fixed-seed, but probing keeps the tests
    independent of hash internals."""
    from pyspark.sql import functions as F

    probe = spark.createDataFrame(
        [(i,) for i in range(16 * n)], "pk BIGINT"
    ).repartition(n, "pk")
    by_part: dict[int, int] = {}
    for r in probe.select("pk", F.spark_partition_id().alias("p")).collect():
        by_part[r.p] = min(r.pk, by_part.get(r.p, r.pk))
    assert len(by_part) == n, by_part
    return [by_part[p] for p in sorted(by_part)]


@pytest.mark.slow
@pytest.mark.parametrize("skewed", [False, True], ids=["even", "skew_90_10_10_10"])
def test_distributed_tps_budget_preserves_global_rate(spark, tmp_path, skewed):
    """Distributed mode must honor the GLOBAL tps budget, not multiply
    it by partition count, and must be work-conserving under skew.
    120 rows over 4 partitions — round-robin (30 each) or hash-skewed
    90/10/10/10 — at global tps=40, batch_size=1: every flush reserves
    from the ONE escrow bucket (1-token burst, granted once), so the
    epoch needs ≥ (120−1)/40 ≈ 3 s whichever partition holds the
    rows. A per-partition copy of the 40/s bucket drains instantly
    (the floor is the signal); a static rate/4 split leaves the
    heavy partition at 10/s → ≥ (90−1)/10 = 8.9 s while the other
    budgets idle (the ≤ 7 s ceiling is the signal)."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    marks = tmp_path / "marks"
    marks.mkdir()
    marks_path = str(marks)

    if skewed:
        heavy_pk, *light_pks = _distinct_partition_pks(spark, 4)
        pks = [heavy_pk] * 90 + [pk for pk in light_pks for _ in range(10)]
    else:
        pks = [0] * 120  # unused: round-robin repartition
    pd.DataFrame({"id": range(120), "pk": pks}).to_parquet(
        src / "input.parquet", index=False
    )

    def sink(chunk: pd.DataFrame) -> None:
        import time as _t
        import uuid

        with open(
            os.path.join(marks_path, f"{_t.time():.6f}-{uuid.uuid4().hex}.mark"),
            "w",
        ) as fh:
            fh.write(str(len(chunk)))

    cfg = FlowControlConfig(batch_size=1, concurrency=8, tps=40.0)
    handle = foreach_batch_sink(sink, cfg, distributed=True)
    stream = spark.readStream.schema("id BIGINT, pk BIGINT").parquet(str(src))
    stream = stream.repartition(4, "pk") if skewed else stream.repartition(4)
    t0 = time.perf_counter()
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    wall = time.perf_counter() - t0
    handle.close()

    files = glob.glob(f"{marks_path}/*.mark")
    assert len(files) == 120  # zero loss, one flush per item
    stamps = sorted(float(os.path.basename(f).split("-")[0]) for f in files)
    span = stamps[-1] - stamps[0]
    # The budget still throttles (a per-partition 40/s copy landed the
    # whole epoch within ~0.1 s) and is work-conserving (the static
    # split's 8.9 s floor is beaten decisively).
    assert span >= 2.4, span
    assert span <= 7.0, span
    assert wall < 60, wall  # and the budget is applied, not wedged
    # Aggregate rate over the marked window stays near the global
    # budget (burst slack excluded).
    agg_rate = (len(files) - 4) / span
    assert agg_rate <= 40 * 1.3, (agg_rate, span)

    b = handle.last_budget
    assert b is not None and b["num_partitions"] == 4
    assert b["escrow_addr"] is not None
    assert b["aggregate_tps_bound"] == 40.0
    # one pool of escrow permits, whatever the partition count
    assert b["aggregate_concurrency_bound"] == cfg.concurrency
    if skewed:
        assert sorted(b["rows_by_partition"].values()) == [10, 10, 10, 90]
    else:
        assert b["rows_by_partition"] == {0: 30, 1: 30, 2: 30, 3: 30}


@pytest.mark.slow
def test_distributed_budget_holds_across_epochs(spark, tmp_path):
    """Cross-epoch budget: two micro-batches (maxFilesPerTrigger=1,
    two input files) each rebuild the per-partition controllers, so a
    burst granted per controller would make each epoch's first
    flushes free again; the escrow bucket lives for the query and
    grants its 1-token burst once, so the TOTAL span must cover both
    epochs' refills."""
    src = tmp_path / "src"
    src.mkdir()
    marks = tmp_path / "marks"
    marks.mkdir()
    marks_path = str(marks)

    pd.DataFrame({"id": range(60)}).to_parquet(src / "a.parquet", index=False)
    pd.DataFrame({"id": range(60, 120)}).to_parquet(
        src / "b.parquet", index=False
    )

    def sink(chunk: pd.DataFrame) -> None:
        import time as _t
        import uuid

        with open(
            os.path.join(marks_path, f"{_t.time():.6f}-{uuid.uuid4().hex}.mark"),
            "w",
        ) as fh:
            fh.write(str(len(chunk)))

    cfg = FlowControlConfig(batch_size=1, concurrency=8, tps=40.0)
    handle = foreach_batch_sink(sink, cfg, distributed=True)
    stream = (
        spark.readStream.schema("id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .repartition(4)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    handle.close()

    files = glob.glob(f"{marks_path}/*.mark")
    assert len(files) == 120
    stamps = sorted(float(os.path.basename(f).split("-")[0]) for f in files)
    span = stamps[-1] - stamps[0]
    # Per epoch: 60 flushes at 40/s → ≥ 1.5 s each; two epochs
    # ≥ ~3 s end to end (the 1 free token is granted once). A
    # driver-default burst (10 tokens/partition/epoch) would let each
    # epoch finish in ~0.5 s.
    assert span >= 2.4, span
    assert handle.last_budget["epoch_id"] >= 1  # really saw 2 epochs


@pytest.mark.slow
def test_escrow_budget_borrows_across_sink_latencies(spark, tmp_path):
    """Mid-epoch budget borrowing. Two partitions with EQUAL row
    counts but heterogeneous sink latencies: the slow partition is
    sink-bound, so it uses little of the 400 ips an even split would
    grant it. Under the escrow the fast partition absorbs the idle
    budget MID-EPOCH, so the epoch ends well before the ≥ 8 s the slow
    partition would need on a split fixed at dispatch, and the
    aggregate cap holds."""
    fast_pk, slow_pk = _distinct_partition_pks(spark, 2)

    src = tmp_path / "src"
    src.mkdir()
    marks = tmp_path / "marks"
    marks.mkdir()
    marks_path = str(marks)

    pks = [fast_pk] * 1000 + [slow_pk] * 1000
    pd.DataFrame({"id": range(2000), "pk": pks}).to_parquet(
        src / "input.parquet", index=False
    )

    def sink(chunk: pd.DataFrame) -> None:
        import time as _t
        import uuid

        if int(chunk["pk"].iloc[0]) == slow_pk:
            _t.sleep(0.4)  # slow bulk API: 0.4 s per 50-item call
        tag = "slow" if int(chunk["pk"].iloc[0]) == slow_pk else "fast"
        with open(
            os.path.join(
                marks_path,
                f"{_t.time():.6f}-{tag}-{uuid.uuid4().hex}.mark",
            ),
            "w",
        ) as fh:
            fh.write(str(len(chunk)))

    # Two permits shared by both partitions: whichever partition asks
    # next gets a free one, so neither waits on a fixed share.
    cfg = FlowControlConfig(batch_size=50, concurrency=2, ips=400.0)
    handle = foreach_batch_sink(sink, cfg, distributed=True)
    stream = (
        spark.readStream.schema("id BIGINT, pk BIGINT")
        .parquet(str(src))
        .repartition(2, "pk")
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    handle.close()

    files = glob.glob(f"{marks_path}/*.mark")
    assert len(files) == 40, len(files)  # zero loss: 2000/50
    stamps = sorted(
        (float(os.path.basename(f).split("-")[0]), os.path.basename(f))
        for f in files
    )
    t_first = stamps[0][0]
    span = stamps[-1][0] - t_first
    # aggregate cap holds: 2000 items over the span, minus the
    # one-time 50-item burst
    agg = (len(files) * 50 - 50) / span
    assert agg <= 400 * 1.25, (agg, span)
    # borrowing: one permit per partition fixed at dispatch needs
    # 20 × 0.4 = 8 s for the slow partition's calls alone; the shared
    # permits and budget clear the epoch decisively faster
    assert span <= 7.0, span


def test_escrow_is_default_and_reported(spark, tmp_path):
    """A rate-limited distributed sink runs through the escrow (the
    reference's one shared limiter); last_budget reports its address
    and the aggregate bound."""
    src = tmp_path / "src"
    src.mkdir()

    pd.DataFrame({"id": range(40)}).to_parquet(
        src / "input.parquet", index=False
    )
    out = tmp_path / "out"
    out.mkdir()
    out_path = str(out)

    def sink(chunk: pd.DataFrame) -> None:
        import uuid

        chunk.to_parquet(
            os.path.join(out_path, f"{uuid.uuid4().hex}.parquet"),
            index=False,
        )

    cfg = FlowControlConfig(batch_size=10, concurrency=4, tps=50.0)
    handle = foreach_batch_sink(sink, cfg, distributed=True)
    q = (
        spark.readStream.schema("id BIGINT")
        .parquet(str(src))
        .repartition(4)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    b = handle.last_budget
    assert b["escrow_addr"] is not None
    assert b["aggregate_tps_bound"] == 50.0
    assert handle.escrow_server is not None
    # zero loss through the escrow path
    got = sum(
        len(pd.read_parquet(f)) for f in glob.glob(f"{out_path}/*.parquet")
    )
    assert got == 40
    handle.close()
    assert handle.escrow_server is None


def test_distributed_in_flight_stays_within_concurrency(spark, tmp_path):
    """The concurrency cap is global across partitions: 6 partitions
    of 10 one-row flushes into a 50 ms sink never have more than
    ``concurrency`` sink calls in flight together. A share floored at
    one permit per partition lets all 6 run at once."""
    src = tmp_path / "src"
    src.mkdir()
    marks = tmp_path / "marks"
    marks.mkdir()
    marks_path = str(marks)
    pd.DataFrame({"id": range(60)}).to_parquet(src / "a.parquet", index=False)

    def sink(chunk: pd.DataFrame) -> None:
        import time as _t
        import uuid

        t0 = _t.time()
        _t.sleep(0.05)
        with open(os.path.join(marks_path, uuid.uuid4().hex), "w") as fh:
            fh.write(f"{t0} {_t.time()}")

    cfg = FlowControlConfig(batch_size=1, concurrency=3)
    handle = foreach_batch_sink(sink, cfg, distributed=True)
    q = (
        spark.readStream.schema("id BIGINT")
        .parquet(str(src))
        .repartition(6)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    handle.close()

    events = []
    for f in glob.glob(f"{marks_path}/*"):
        start, end = map(float, open(f).read().split())
        events += [(start, 1), (end, -1)]
    assert len(events) == 2 * 60  # zero loss, one flush per row
    in_flight = peak = 0
    for _, step in sorted(events):  # an end sorts before a same-time start
        in_flight += step
        peak = max(peak, in_flight)
    assert peak <= cfg.concurrency, peak
    assert handle.last_budget["aggregate_concurrency_bound"] == cfg.concurrency


def test_distributed_frames_match_to_pandas(spark, tmp_path):
    """Each partition hands the sink the frame ``toPandas()`` would
    give for its rows: for every column type, with NULLs and a non-UTC
    session time zone, the same dtypes and values."""
    import pickle

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from tests.test_processor import ALL_TYPES_SCHEMA, _all_types_rows

    src = str(tmp_path / "src")
    out = tmp_path / "frames"
    out.mkdir()
    out_path = str(out)
    tz_key = "spark.sql.session.timeZone"
    tz_before = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/Los_Angeles")
    try:
        # the rows as a spool holds them (a map is a list of pairs)
        schema = to_arrow_schema(_parse_datatype_string(ALL_TYPES_SCHEMA))
        cols = zip(*_all_types_rows())
        os.makedirs(src)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            ),
            os.path.join(src, "rows.parquet"),
        )

        def sink(chunk: pd.DataFrame) -> None:
            import uuid

            with open(os.path.join(out_path, uuid.uuid4().hex), "wb") as fh:
                pickle.dump(chunk, fh)

        handle = foreach_batch_sink(sink, distributed=True)
        q = (
            spark.readStream.schema(ALL_TYPES_SCHEMA)
            .parquet(src)
            .coalesce(1)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        handle.close()
        ref = spark.read.schema(ALL_TYPES_SCHEMA).parquet(src).toPandas()
    finally:
        spark.conf.set(tz_key, tz_before)
    frames = []
    for f in glob.glob(f"{out_path}/*"):
        with open(f, "rb") as fh:
            frames.append(pickle.load(fh))
    got = pd.concat(frames, ignore_index=True)
    assert list(got.dtypes.astype(str)) == list(ref.dtypes.astype(str))
    assert len(got) == len(ref) == 3
    pd.testing.assert_frame_equal(got, ref)
