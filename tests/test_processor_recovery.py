"""Processor durability & concurrency tests: checkpoint recovery
across restarts (the capability the reference explicitly lacks — its
README documents a start-race data-loss bug it worked around; we get
recovery from the streaming checkpoint for free) and multi-producer
thread safety (the reference is ProducerType.MULTI)."""

from __future__ import annotations

import threading
import time

import pytest

from batchprocessor_spark.streaming import processor
from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig
from tests.test_processor import CONTEXT_MANAGER, checkpoint_file_managers

SCHEMA = "id BIGINT, payload STRING"


class CollectingSink:
    def __init__(self):
        self.ids: list[int] = []
        self._lock = threading.Lock()

    def __call__(self, chunk) -> None:
        with self._lock:
            self.ids.extend(int(x) for x in chunk["id"])


def test_restart_resumes_from_checkpoint_no_duplicates(spark, tmp_path, monkeypatch):
    """Stop → new processor on the same workdir → already-flushed
    spool files are NOT re-delivered (file-source checkpoint), new
    items are. The first run writes its checkpoint through Spark's
    default FileContext manager, as processors did before they chose
    the FileSystem one, so this is also the upgrade path."""
    workdir = str(tmp_path / "proc")
    sink1 = CollectingSink()
    with monkeypatch.context() as m:
        m.setattr(processor, "_FS_CHECKPOINT_FILE_MANAGER", CONTEXT_MANAGER)
        p1 = BatchProcessor(
            spark, SCHEMA, sink1, ProcessorConfig(batch_size=50, spool_size=100), workdir=workdir
        ).start()
    assert set(checkpoint_file_managers(p1).values()) == {
        "FileContextBasedCheckpointFileManager"
    }
    p1.put_many([(i, "a") for i in range(500)])
    p1.stop()
    assert sorted(sink1.ids) == list(range(500))

    sink2 = CollectingSink()
    p2 = BatchProcessor(
        spark, SCHEMA, sink2, ProcessorConfig(batch_size=50, spool_size=100), workdir=workdir
    ).start()
    assert set(checkpoint_file_managers(p2).values()) == {
        "FileSystemBasedCheckpointFileManager"
    }
    p2.put_many([(i, "b") for i in range(500, 800)])
    p2.stop()
    # Only the NEW items arrive — the checkpoint skips consumed spools.
    assert sorted(sink2.ids) == list(range(500, 800)), (
        f"expected 300 new ids, got {len(sink2.ids)} "
        f"(min={min(sink2.ids, default=None)})"
    )
    p2.close()


def test_multi_producer_no_loss(spark):
    """8 producer threads × 500 items each — per-producer FIFO feeds
    one buffer; nothing lost, nothing duplicated (the reference's
    multi-producer ring-buffer contract)."""
    sink = CollectingSink()
    p = BatchProcessor(
        spark, SCHEMA, sink, ProcessorConfig(batch_size=128, spool_size=512)
    ).start()

    def produce(tid: int) -> None:
        for i in range(500):
            p.put((tid * 1000 + i, f"t{tid}"))

    threads = [threading.Thread(target=produce, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stats = p.stop()
    assert stats["accepted"] == 4000
    assert len(sink.ids) == 4000
    assert len(set(sink.ids)) == 4000
    p.close()


# ---------------------------------------------------------------------------
# Exactly-once under crash (VERDICT r4 #6): the reference's v2 retry
# re-publishes the same batch (V2/Worker.java:288-300), which duplicates
# output when the sink partially applied it. The Spark analogue's claim:
# atomic chunk writes + content-addressed names + checkpoint replay give
# exactly-once OUTPUT even when the sink or the driver dies mid-flush.
# ---------------------------------------------------------------------------


class SimulatedCrash(BaseException):
    """BaseException on purpose: FlowController's retry/DLQ path catches
    ``Exception`` only, so this unwinds through foreachBatch like a real
    process death — the epoch stays UNCOMMITTED and is replayed from the
    checkpoint on restart."""


def _read_chunk_ids(out_dir: str) -> list[int]:
    import glob

    import pandas as pd

    ids: list[int] = []
    for f in sorted(glob.glob(f"{out_dir}/chunk_*.parquet")):
        ids.extend(int(x) for x in pd.read_parquet(f)["id"])
    return ids


def test_torn_write_retry_is_exactly_once(spark, tmp_path):
    """Sink dies mid-transmission AFTER writing partial output; the
    retry re-sends the whole chunk (reference v2 re-publish semantics).
    With atomic tmp+rename and content-addressed chunk files, the torn
    attempt leaves nothing visible and the retry replaces instead of
    appending: every id delivered exactly once, DLQ empty."""
    import os
    import uuid

    from batchprocessor_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "out")
    inner = idempotent_parquet_sink(out, "id")
    calls = {"n": 0}

    def torn_sink(chunk) -> None:
        calls["n"] += 1
        if calls["n"] == 2:
            # Simulate dying mid-write: stray tmp file, then failure.
            chunk.iloc[: len(chunk) // 2].to_parquet(
                os.path.join(out, f".tmp_torn_{uuid.uuid4().hex}.parquet"),
                index=False,
            )
            raise RuntimeError("sink died after partial transmission")
        inner(chunk)

    p = BatchProcessor(
        spark,
        SCHEMA,
        torn_sink,
        ProcessorConfig(
            batch_size=100,
            spool_size=400,
            concurrency=1,
            max_retry_count=2,
            retry_delay_s=0.01,
        ),
        workdir=str(tmp_path / "proc"),
    ).start()
    p.put_many([(i, "x") for i in range(400)])
    stats = p.stop()
    assert sorted(_read_chunk_ids(out)) == list(range(400)), "exactly-once violated"
    assert stats["retries"] >= 1 and stats["dlq_items"] == 0
    assert stats["flushed_items"] == 400
    assert p.dlq() is None
    p.close()


def test_kill_mid_flush_restart_is_exactly_once(spark, tmp_path):
    """Driver dies mid-epoch after PARTIAL chunk success (chunk 1
    flushed, chunk 2 kills the stream). The epoch is uncommitted, so
    restart from the checkpoint REPLAYS it — at-least-once redelivery
    that the content-addressed sink collapses back to exactly-once:
    after recovery every id appears exactly once, nothing lost,
    nothing duplicated, DLQ empty."""
    from batchprocessor_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "out")
    workdir = str(tmp_path / "proc")
    inner = idempotent_parquet_sink(out, "id")
    calls = {"n": 0}

    def crashing_sink(chunk) -> None:
        calls["n"] += 1
        if calls["n"] == 2:
            raise SimulatedCrash("driver death mid-epoch")
        inner(chunk)

    cfg = ProcessorConfig(
        batch_size=100, spool_size=400, concurrency=1, flush_interval_s=0.2
    )
    p1 = BatchProcessor(spark, SCHEMA, crashing_sink, cfg, workdir=workdir).start()

    # SimulatedCrash bypasses FlowController's retry/DLQ (it catches
    # Exception only); surface it to the streaming engine as a regular
    # error HERE so py4j fails the query — BaseException does not cross
    # the callback bridge, it would just hang the stream thread.
    orig_wait = p1._controller.wait

    def dying_wait(futures):
        try:
            orig_wait(futures)
        except SimulatedCrash as e:
            raise RuntimeError("simulated driver death mid-epoch") from e

    p1._controller.wait = dying_wait
    p1.put_many([(i, "x") for i in range(400)])
    # The stream must die with our crash, not drain: awaitTermination
    # re-raises the failure as StreamingQueryException.
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="driver death mid-epoch"):
        p1._query.awaitTermination(120)
    assert p1._query.exception() is not None, "expected the stream to crash"
    p1._timer_stop.set()
    p1._controller.shutdown()
    # PARTIAL chunk success is on disk: chunk 2 (ids 100-199) died
    # mid-epoch; chunks 1/3/4 flushed before the crash surfaced.
    assert sorted(_read_chunk_ids(out)) == list(range(100)) + list(range(200, 400))

    # Restart on the same workdir with a healthy sink (same output
    # table): the uncommitted epoch replays; chunk 1's redelivery maps
    # to the same content-addressed file and overwrites itself.
    sink2 = idempotent_parquet_sink(out, "id")
    p2 = BatchProcessor(spark, SCHEMA, sink2, cfg, workdir=workdir).start()
    stats = p2.stop()
    assert sorted(_read_chunk_ids(out)) == list(range(400)), (
        "exactly-once violated after crash recovery"
    )
    assert stats["dlq_items"] == 0
    assert p2.dlq() is None
    p2.close()
