"""Semantics tests for the BatchProcessor core (SURVEY.md §5.2(2)),
mirroring the reference's observable contracts:

- no-loss + throughput model (T/DisruptorBatchProcessorTest.java:16-44):
  65,536 items, batch_size=1024, concurrency=8, 1 s fake sink →
  64 flushes / 8 in flight ≈ 8 s; BASELINE.md allows ≤ 2× (18 s).
- retry-then-DLQ (v2 retry contract, T/v2/DisruptorBatchProcessorTest.java:17-24)
- interval force flush (v1 test2, T/DisruptorBatchProcessorTest.java:47-61)
- size trigger: a backlog of full spools drains without a trigger clock
- checkpoint logs on the FileSystem manager (no process fork per file)
- reject-on-full admission (O13)
"""

from __future__ import annotations

import threading
import time

import pytest
from py4j.protocol import Py4JJavaError

from batchprocessor_spark.streaming.flow import FlowControlConfig, FlowController
from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig

SCHEMA = "id BIGINT, payload STRING"


def make_processor(spark, sink, **overrides) -> BatchProcessor:
    cfg = ProcessorConfig(**overrides)
    return BatchProcessor(spark, SCHEMA, sink, cfg)


class CountingSink:
    def __init__(self, latency_s: float = 0.0, fail_first: int = 0):
        self.latency_s = latency_s
        self.fail_first = fail_first
        self.calls = 0
        self.items = 0
        self.first_call_at: float | None = None
        self._lock = threading.Lock()

    def __call__(self, chunk) -> None:
        with self._lock:
            self.calls += 1
            call_no = self.calls
            if self.first_call_at is None:
                self.first_call_at = time.monotonic()
        if call_no <= self.fail_first:
            raise RuntimeError(f"injected failure on call {call_no}")
        if self.latency_s:
            time.sleep(self.latency_s)
        with self._lock:
            self.items += len(chunk)


@pytest.mark.slow
def test_throughput_model_no_loss(spark):
    """The reference's headline test: 65,536 items through a 1 s sink
    at batch 1024 / concurrency 8 must take ~ceil(64/8)*1s and lose
    nothing. BASELINE budget: ≤ 18 s for the flush phase."""
    sink = CountingSink(latency_s=1.0)
    p = make_processor(
        spark, sink, batch_size=1024, concurrency=8, flush_interval_s=0.2, spool_size=16384
    )
    p.start()
    t0 = time.perf_counter()
    p.put_many([(i, f"item-{i}") for i in range(65536)])
    stats = p.stop()
    wall = time.perf_counter() - t0
    assert sink.items == 65536, stats
    assert stats["flushed_items"] == 65536
    assert stats["dlq_items"] == 0
    assert stats["pending"] == 0
    # 64 flushes / 8 concurrent × 1 s = 8 s ideal; ≤18 s per BASELINE.md.
    assert wall <= 18.0, f"flush phase took {wall:.1f}s (>2x baseline)"
    p.close()


def test_retry_then_recover(spark):
    """v2 retry contract: sink fails twice then succeeds — items are
    retried in place, nothing is lost, nothing dead-lettered."""
    sink = CountingSink(fail_first=2)
    p = make_processor(
        spark, sink, batch_size=100, concurrency=2, max_retry_count=3, retry_delay_s=0.05
    )
    p.start()
    p.put_many([(i, "x") for i in range(100)])
    stats = p.stop()
    assert sink.items == 100
    assert stats["retries"] >= 2
    assert stats["dlq_items"] == 0
    p.close()


def test_retry_exhausted_goes_to_dlq(spark):
    """O12 upgrade: exhausted retries land in the dead-letter parquet
    table instead of the reference's log-and-drop."""
    sink = CountingSink(fail_first=10**9)  # always fails
    p = make_processor(
        spark, sink, batch_size=50, concurrency=2, max_retry_count=1, retry_delay_s=0.01
    )
    p.start()
    p.put_many([(i, "x") for i in range(100)])
    stats = p.stop()
    assert stats["flushed_items"] == 0
    assert stats["dlq_items"] == 100
    dlq = p.dlq()
    assert dlq is not None and dlq.count() == 100
    p.close()


def test_interval_force_flush(spark):
    """O6: a partial buffer older than flush_interval flushes without
    reaching batch_size (v1 test2 analogue). The latency is bounded by
    the interval, not by a trigger clock: the spooler ticks every
    flush_interval_s / 4 and the stream polls at the same tick, so a
    lone item reaches the sink within 4 × flush_interval_s plus the
    micro-batch that carries it."""
    interval = 0.3
    sink = CountingSink()
    p = make_processor(spark, sink, batch_size=1000, flush_interval_s=interval, spool_size=1000)
    p.start()
    t0 = time.monotonic()
    p.put((1, "first"))
    p.put((2, "second"))
    deadline = t0 + 10
    while sink.items < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert sink.items == 2, "aged partial buffer was not force-flushed"
    latency = sink.first_call_at - t0
    p.stop()
    batch_s = max(
        prog["durationMs"]["triggerExecution"] / 1000
        for prog in p._query.recentProgress
        if prog["numInputRows"] > 0
    )
    assert latency <= 4 * interval + batch_s, (latency, batch_s)
    p.close()


def test_backlog_drains_without_trigger_clock(spark):
    """Size trigger: while spooled files wait, the next micro-batch
    starts as soon as the previous one commits. 16,384 items through a
    2,048-item queue need eight refills; a stream paced by a
    flush_interval_s clock would take 8 × 2 s = 16 s."""
    seen: set[int] = set()
    lock = threading.Lock()

    def sink(chunk):
        with lock:
            seen.update(chunk["id"].tolist())

    p = make_processor(
        spark, sink, flush_interval_s=2.0, spool_size=1024, batch_size=1024, queue_size=2048
    )
    p.start()
    t0 = time.perf_counter()
    p.put_many([(i, "x") for i in range(16384)])
    stats = p.stop()
    wall = time.perf_counter() - t0
    p.close()
    assert seen == set(range(16384))
    assert stats["flushed_items"] == 16384 and stats["dlq_items"] == 0
    assert wall < 8.0, f"backlog took {wall:.1f}s, at least half the 16 s clock floor"


POLLING_DELAY = "spark.sql.streaming.pollingDelay"
FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _query_polling_delay_ms(p: BatchProcessor) -> int:
    return p._query._jsq.streamingQuery().pollingDelayMs()


def checkpoint_file_managers(p: BatchProcessor) -> dict[str, str]:
    """Simple class name of the file manager behind each of the
    stream's three metadata logs (paths as of Spark 4.1)."""
    sq = p._query._jsq.streamingQuery()
    source = sq.sources().head()  # the one FileStreamSource
    field = source.getClass().getDeclaredField("metadataLog")
    field.setAccessible(True)
    logs = {
        "offsets": sq.offsetLog(),
        "commits": sq.commitLog(),
        "sources": field.get(source),
    }
    return {k: log.fileManager().getClass().getSimpleName() for k, log in logs.items()}


def test_checkpoint_logs_use_filesystem_manager(spark):
    """Every metadata log of a started processor writes through the
    FileSystem manager, whose rename is rename(2): no readlink/chmod
    process is forked per checkpoint file."""
    p = make_processor(spark, CountingSink()).start()
    try:
        managers = checkpoint_file_managers(p)
    finally:
        p.stop()
        p.close()
    assert managers == dict.fromkeys(
        ("offsets", "commits", "sources"), "FileSystemBasedCheckpointFileManager"
    )


@pytest.mark.parametrize("before", [None, "123ms"])
def test_start_leaves_session_polling_delay(spark, before):
    """start() hands the stream a poll delay of flush_interval_s / 4
    (and its checkpoint manager), and leaves both session settings as it
    found them, also when start() raises."""
    before_manager = None if before is None else CONTEXT_MANAGER
    found = {POLLING_DELAY: before, FILE_MANAGER: before_manager}
    for key, value in found.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    def session_confs() -> dict:
        return {key: spark.conf.get(key, None) for key in found}

    try:
        p = make_processor(spark, CountingSink(), flush_interval_s=0.4)
        p.start()
        assert session_confs() == found
        assert _query_polling_delay_ms(p) == 100
        p.stop()
        p.close()

        broken = make_processor(spark, CountingSink())
        with open(broken.ckpt_dir, "w") as f:  # a file where the checkpoint dir goes
            f.write("not a directory")
        with pytest.raises(Py4JJavaError, match="not a directory"):
            broken.start()
        assert session_confs() == found
        broken.close()
    finally:
        for key in found:
            spark.conf.unset(key)


def test_concurrent_starts_keep_their_own_poll_delay(spark):
    """Two processors started from two threads at once each get the
    poll delay of their own flush_interval_s, and both deliver."""
    barrier = threading.Barrier(2)
    results: dict[float, tuple] = {}

    def run(interval: float) -> None:
        sink = CountingSink()
        p = make_processor(spark, sink, flush_interval_s=interval, spool_size=100)
        barrier.wait(30)
        p.start()
        delay = _query_polling_delay_ms(p)
        p.put_many([(i, "x") for i in range(500)])
        p.stop()
        p.close()
        results[interval] = (delay, sink.items)

    threads = [threading.Thread(target=run, args=(iv,)) for iv in (0.4, 2.0)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert results == {0.4: (100, 500), 2.0: (500, 500)}
    assert spark.conf.get(POLLING_DELAY, None) is None
    assert spark.conf.get(FILE_MANAGER, None) is None


def test_listener_on_session_sees_processor_progress(spark):
    """The stream runs on the caller's session, so a listener
    registered on spark.streams receives its progress events."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.rows: dict[str, int] = {}
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            qid = str(event.progress.id)
            self.rows[qid] = self.rows.get(qid, 0) + event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    listener = Recorder()
    spark.streams.addListener(listener)
    try:
        p = make_processor(spark, CountingSink(), spool_size=100)
        p.start()
        p.put_many([(i, "x") for i in range(300)])
        p.stop()
        p.close()
        assert listener.terminated.wait(30)
        deadline = time.monotonic() + 10
        qid = str(p._query.id)
        while listener.rows.get(qid, 0) < 300 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.rows.get(qid) == 300


def test_stat_tree_under_concurrent_flushes():
    """Reference Stat-tree shape (V2/Stat.java:58-124) observed LIVE:
    with concurrency 2 and three pending chunks, the snapshot must
    show 2 busy workers (each with its in-flight chunk size as the
    buffer gauge), in_flight == 2, and one caller blocked on the
    semaphore (sem_waiters == 1); after drain every gauge returns to
    zero and per-worker counters sum to the global ones."""
    import pandas as pd

    gate = threading.Event()

    def sink(chunk):
        gate.wait(30)

    fc = FlowController(sink, FlowControlConfig(batch_size=20, concurrency=2))
    pdf = pd.DataFrame({"id": range(50), "payload": ["x"] * 50})
    futures: list = []
    t = threading.Thread(target=lambda: futures.extend(fc.submit_batch(pdf)))
    t.start()
    deadline = time.monotonic() + 10
    snap = None
    while time.monotonic() < deadline:
        snap = fc.stats.snapshot()
        if snap["in_flight"] == 2 and snap["sem_waiters"] == 1:
            break
        time.sleep(0.02)
    else:
        raise AssertionError(f"never reached steady contention: {snap}")
    busy = [w for w in snap["workers"].values() if w["busy"]]
    assert len(busy) == 2, snap
    assert sorted(w["current_items"] for w in busy) == [20, 20], snap
    gate.set()
    t.join(10)
    FlowController.wait(futures)
    final = fc.stats.snapshot()
    assert final["in_flight"] == 0 and final["sem_waiters"] == 0
    assert final["flushed_items"] == 50 and final["flushed_batches"] == 3
    assert all(
        not w["busy"] and w["current_items"] == 0
        for w in final["workers"].values()
    )
    assert (
        sum(w["flushed_items"] for w in final["workers"].values())
        == final["flushed_items"]
    )


def test_reject_on_full(spark):
    """O13 reject mode: when pending exceeds queue_size, try_put
    returns False (and put raises) instead of blocking."""
    gate = threading.Event()

    def blocking_sink(chunk):
        gate.wait(30)

    p = make_processor(
        spark,
        blocking_sink,
        batch_size=10,
        queue_size=20,
        concurrency=1,
        block_on_full=False,
        spool_size=10,
    )
    p.start()
    accepted = 0
    rejected = 0
    for i in range(200):
        if p.try_put((i, "x")):
            accepted += 1
        else:
            rejected += 1
    assert rejected > 0, "expected rejections once pending exceeded queue_size"
    assert accepted >= 20
    gate.set()
    p.stop()
    p.close()


def test_put_many_reject_atomic(spark):
    """O3 reject mode is all-or-nothing: a bulk put that exceeds
    remaining capacity raises BufferFullError having inserted ZERO
    items — no partial spool (the v1 partial-put hazard
    V1/DisruptorBatchProcessor.java:184-185 that SURVEY §2.1 O3 says
    not to replicate)."""
    gate = threading.Event()

    def blocking_sink(chunk):
        gate.wait(30)

    p = make_processor(
        spark,
        blocking_sink,
        batch_size=10,
        queue_size=20,
        concurrency=1,
        block_on_full=False,
        spool_size=5,
    )
    p.start()
    # Fill to 15 pending: room for 5 more, not 10.
    p.put_many([(i, "x") for i in range(15)])
    before = p.stat()["pending"]
    assert before == 15
    from batchprocessor_spark.streaming.processor import BufferFullError

    with pytest.raises(BufferFullError):
        p.put_many([(100 + i, "x") for i in range(10)])
    # Atomic reject: nothing from the failed bulk was accepted, even
    # though the first chunk (5 items) would have fit.
    assert p.stat()["pending"] == before, "partial insert on rejected put_many"
    # A bulk that exactly fits still succeeds.
    p.put_many([(200 + i, "x") for i in range(5)])
    assert p.stat()["pending"] == 20
    gate.set()
    p.stop()
    p.close()


def test_stat_shape(spark):
    sink = CountingSink()
    p = make_processor(spark, sink, batch_size=10, spool_size=10)
    p.start()
    p.put_many([(i, "x") for i in range(25)])
    p.flush(wait=True)
    stats = p.stat()
    assert stats["state"] == "STARTED"
    assert stats["accepted"] == 25
    assert stats["flushed_items"] == 25
    # Per-worker granularity (reference Stat tree, V2/Stat.java:58-124):
    # every flush-pool thread reports its own counters + busy flag, and
    # the per-worker counts sum to the global ones.
    assert stats["workers"], "expected per-worker stat records"
    for w in stats["workers"].values():
        assert set(w) >= {"flushed_batches", "flushed_items", "busy"}
    assert (
        sum(w["flushed_items"] for w in stats["workers"].values())
        == stats["flushed_items"]
    )
    # Semaphore occupancy gauge: nothing in flight after flush(wait=True).
    assert stats["in_flight"] == 0
    assert stats["concurrency_total"] == p.config.concurrency
    assert stats["buffer_total"] == 10 and stats["queue_total"] > 0
    final = p.stop()
    assert final["state"] == "STOPPED"
    p.close()


def test_flow_controller_concurrency_cap():
    """O10: never more than `concurrency` sink calls in flight."""
    import pandas as pd

    active = 0
    peak = 0
    lock = threading.Lock()

    def sink(chunk):
        nonlocal active, peak
        with lock:
            active += 1
            peak = max(peak, active)
        time.sleep(0.05)
        with lock:
            active -= 1

    ctrl = FlowController(sink, FlowControlConfig(batch_size=10, concurrency=3))
    pdf = pd.DataFrame({"id": range(200)})
    ctrl.wait(ctrl.submit_batch(pdf))
    ctrl.shutdown()
    assert peak <= 3
    assert ctrl.stats.snapshot()["flushed_items"] == 200


def test_sink_lifecycle_open_close(spark):
    """O17: sinks with open()/close() get lifecycle callbacks around
    the processor's lifetime (Flusher.Factory analogue)."""

    class LifecycleSink:
        def __init__(self):
            self.events: list[str] = []
            self.items = 0

        def open(self):
            self.events.append("open")

        def close(self):
            self.events.append("close")

        def __call__(self, chunk):
            self.items += len(chunk)

    sink = LifecycleSink()
    p = make_processor(spark, sink, batch_size=10, spool_size=10)
    p.start()
    p.put_many([(i, "x") for i in range(30)])
    p.stop()
    assert sink.events == ["open", "close"]
    assert sink.items == 30
    p.close()


def test_flow_controller_ips():
    """O11: IPS (items/sec) token bucket paces by batch size."""
    import pandas as pd

    ctrl = FlowController(
        lambda chunk: None,
        FlowControlConfig(batch_size=100, concurrency=4, ips=1000.0),
    )
    pdf = pd.DataFrame({"id": range(3000)})  # 3000 items at 1000/s, burst ~1000
    t0 = time.monotonic()
    ctrl.wait(ctrl.submit_batch(pdf))
    elapsed = time.monotonic() - t0
    ctrl.shutdown()
    assert ctrl.stats.snapshot()["flushed_items"] == 3000
    assert elapsed >= 1.2, f"3000 items at ips=1000 (burst 1000) too fast: {elapsed:.2f}s"


def test_flow_controller_tps():
    """O11: TPS token bucket paces flush calls."""
    import pandas as pd

    times: list[float] = []
    lock = threading.Lock()

    def sink(chunk):
        with lock:
            times.append(time.monotonic())

    ctrl = FlowController(sink, FlowControlConfig(batch_size=10, concurrency=4, tps=10.0))
    pdf = pd.DataFrame({"id": range(300)})  # 30 flushes at 10/s ≈ ≥2s
    t0 = time.monotonic()
    ctrl.wait(ctrl.submit_batch(pdf))
    elapsed = time.monotonic() - t0
    ctrl.shutdown()
    assert len(times) == 30
    assert elapsed >= 1.5, f"30 flushes at tps=10 finished too fast: {elapsed:.2f}s"
