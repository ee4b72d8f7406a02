"""Sustained-failure soak tests (VERDICT r5 #6).

The existing exactly-once proofs (`test_processor_recovery.py`) cover
ONE crash; the reference's production regime is v2 retry under
sustained load (`V2/Worker.java:258-311`: every failed flush is
re-published with delay until the bounded retry budget is exhausted,
then dropped — here: dead-lettered).  These soaks run hundreds of
micro-batches with deterministic-random sink failures injected per
chunk/epoch and assert EXACT end-state counts: every item delivered
exactly once, every poisoned chunk dead-lettered exactly once, and the
retry/failure counters equal to their closed-form expectations — not
just "roughly recovered".
"""

from __future__ import annotations

import os
import threading
import time

import pandas as pd
import pytest

from batchprocessor_spark.streaming.flow import FlowControlConfig, FlowController

# r13 fast-lane split (VERDICT r12 #2): multi-minute soak/throughput
# semantics — opt-in slow lane, excluded from the default run.
pytestmark = pytest.mark.slow
from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig

SCHEMA = "id BIGINT, payload STRING"

N_ITEMS = 12_800
CHUNK = 64  # batch_size == spool_size → 1 chunk per micro-batch
N_CHUNKS = N_ITEMS // CHUNK  # 200 micro-batches

# Deterministic failure plan, keyed on the chunk's min id // CHUNK:
# - TRANSIENT chunks fail on their FIRST flush attempt only (a flaky
#   remote bulk API) — the retry must recover every one of them;
# - POISON chunks fail on EVERY attempt (a malformed batch the sink
#   permanently rejects) — each must land in the DLQ exactly once
#   after exhausting max_retry_count.
# idx % 25 == 3 gives idx % 10 ∈ {3, 8}, so the two sets are disjoint.
TRANSIENT = {i for i in range(N_CHUNKS) if i % 10 in (0, 1, 2) and i % 25 != 3}
POISON = {i for i in range(N_CHUNKS) if i % 25 == 3}
MAX_RETRY = 2


class SoakSink:
    """Thread-safe collecting sink executing the failure plan."""

    def __init__(self):
        self.ids: list[int] = []
        self.attempts: dict[int, int] = {}
        self._lock = threading.Lock()

    def __call__(self, chunk: pd.DataFrame) -> None:
        idx = int(chunk["id"].min()) // CHUNK
        with self._lock:
            self.attempts[idx] = self.attempts.get(idx, 0) + 1
            attempt = self.attempts[idx]
        if idx in POISON:
            raise RuntimeError(f"poison chunk {idx} (attempt {attempt})")
        if idx in TRANSIENT and attempt == 1:
            raise RuntimeError(f"transient failure on chunk {idx}")
        with self._lock:
            self.ids.extend(int(x) for x in chunk["id"])


def test_soak_sustained_failures_exact_counts(spark, tmp_path):
    """200 micro-batches through the full processor stack (spool files
    → file-source stream → FlowController) with 60 transient-failure
    chunks and 8 permanently-poisoned chunks interleaved. End state
    must be EXACT: every non-poison id delivered exactly once, every
    poison id dead-lettered exactly once, and the stat-tree counters
    equal to the failure plan's closed form."""
    sink = SoakSink()
    p = BatchProcessor(
        spark,
        SCHEMA,
        sink,
        ProcessorConfig(
            batch_size=CHUNK,
            spool_size=CHUNK,
            max_files_per_trigger=1,  # 1 spool file == 1 micro-batch
            concurrency=8,
            max_retry_count=MAX_RETRY,
            retry_delay_s=0.01,
            flush_interval_s=0.2,
        ),
        workdir=str(tmp_path / "proc"),
    ).start()
    # Sustained load: feed in waves so spools interleave with flushes
    # instead of one giant pre-enqueued backlog.
    for lo in range(0, N_ITEMS, 1600):
        p.put_many([(i, f"w{lo}") for i in range(lo, lo + 1600)])
        time.sleep(0.05)
    stats = p.stop()

    poison_ids = {i for c in POISON for i in range(c * CHUNK, (c + 1) * CHUNK)}
    expect_delivered = sorted(set(range(N_ITEMS)) - poison_ids)

    # exactly-once delivery of everything recoverable
    assert sorted(sink.ids) == expect_delivered, (
        f"delivered {len(sink.ids)} ids, expected {len(expect_delivered)} "
        "(each exactly once)"
    )
    # every poisoned item dead-lettered exactly once
    dlq = p.dlq()
    assert dlq is not None
    dlq_ids = [int(r["id"]) for r in dlq.collect()]
    assert sorted(dlq_ids) == sorted(poison_ids)

    # closed-form counter audit (the reference Stat-tree contract)
    assert stats["flushed_items"] == N_ITEMS - len(poison_ids)
    assert stats["dlq_batches"] == len(POISON)
    assert stats["dlq_items"] == len(poison_ids)
    assert stats["retries"] == len(TRANSIENT) + len(POISON) * MAX_RETRY
    assert stats["failed_flushes"] == len(TRANSIENT) + len(POISON) * (
        MAX_RETRY + 1
    )
    # the failure plan actually exercised every attempt path
    assert all(sink.attempts[c] == MAX_RETRY + 1 for c in POISON)
    assert all(sink.attempts[c] == 2 for c in TRANSIENT)
    p.close()


@pytest.mark.parametrize(
    "state_backend",
    [
        pytest.param("default", id="hdfs-backed"),
        pytest.param("rocksdb", id="rocksdb", marks=pytest.mark.slow),
    ],
)
def test_soak_watermark_dedup_with_flaky_sink(spark, tmp_path, state_backend):
    """Stateful streaming dedup under sustained redelivery AND a flaky
    downstream: every event is delivered to the stream THREE times
    (consecutive epochs — an at-least-once upstream), the dedup state
    must emit each id exactly once, and the FlowController must absorb
    a failure on every third epoch's flush. Exact end state: each of
    the 1200 unique ids in the sink exactly once, zero DLQ.

    Runs under BOTH state-store providers (VERDICT r6 #6): the default
    in-memory map and the disk-backed RocksDB provider — the 100 TB
    state posture (streaming/statestore.py). Same exact end state
    either way; only WHERE state lives changes."""
    import contextlib as _ctx

    from batchprocessor_spark.streaming.statestore import rocksdb_state

    backend_ctx = (
        rocksdb_state(spark) if state_backend == "rocksdb" else _ctx.nullcontext()
    )
    n_unique = 1200
    per_wave = 40  # new ids per epoch file
    n_waves = n_unique // per_wave  # 30 waves, ids redelivered 3x
    ingest = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ingest)

    delivered: list[int] = []
    lock = threading.Lock()
    epoch_attempts: dict[int, int] = {}

    def flaky_sink(chunk: pd.DataFrame) -> None:
        key = int(chunk["id"].min()) // per_wave
        with lock:
            epoch_attempts[key] = epoch_attempts.get(key, 0) + 1
            if key % 3 == 0 and epoch_attempts[key] == 1:
                raise RuntimeError(f"flaky sink, epoch group {key}")
            delivered.extend(int(x) for x in chunk["id"])

    ctl = FlowController(
        flaky_sink,
        FlowControlConfig(
            batch_size=per_wave, concurrency=4, max_retry_count=3, retry_delay_s=0.01
        ),
        dlq_path=str(tmp_path / "dlq"),
    )

    def forward(batch_df, batch_id: int) -> None:
        pdf = batch_df.toPandas()
        if len(pdf):
            ctl.wait(ctl.submit_batch(pdf))

    base = pd.Timestamp("2026-01-01")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (
            spark.readStream.schema("id BIGINT, ts TIMESTAMP")
            .parquet(ingest)
        )
        deduped = (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["id"])
            .select("id", "ts")
        )
        # Provider class is read at query START and pinned into the
        # checkpoint — only the start needs to be inside the context.
        with backend_ctx:
            q = (
                deduped.writeStream.foreachBatch(forward)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
        # Each wave file carries its NEW ids plus the two previous
        # waves' ids again (3x at-least-once delivery), all inside the
        # watermark window so the dedup state still remembers them.
        for w in range(n_waves):
            ids = []
            for back in (0, 1, 2):
                if w - back >= 0:
                    lo = (w - back) * per_wave
                    ids.extend(range(lo, lo + per_wave))
            pd.DataFrame(
                {
                    "id": ids,
                    "ts": [base + pd.Timedelta(minutes=w)] * len(ids),
                }
            ).to_parquet(
                os.path.join(ingest, f"wave_{w:04d}.parquet"),
                index=False,
                # pandas defaults to TIMESTAMP(NANOS), which the
                # engine session reads as LONG (nanosAsLong for the
                # driver's events table); micros keep ts a timestamp
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    ctl.shutdown()

    assert sorted(delivered) == list(range(n_unique)), (
        f"dedup-under-redelivery violated: {len(delivered)} delivered, "
        f"{len(set(delivered))} unique"
    )
    stats = ctl.stats.snapshot()
    assert stats["dlq_items"] == 0
    # every epoch group hit by the failure plan was retried exactly once
    failed_groups = {k for k in epoch_attempts if k % 3 == 0}
    assert stats["retries"] == len(failed_groups)
    assert all(epoch_attempts[k] == 2 for k in failed_groups)


def test_soak_dlq_replay_completes_delivery(spark, tmp_path):
    """The DLQ is a durable parquet table, not a terminal drop (the
    reference logs-and-drops, V2/Worker.java:305-310): after the bad
    deploy is fixed, re-driving the dead-lettered rows through the
    same FlowController machinery completes delivery to exactly the
    full set — the operational loop (fail → DLQ → fix → replay) closed
    end-to-end."""
    from batchprocessor_spark.streaming.sinks import idempotent_parquet_sink

    n, chunk = 2000, 50
    out = str(tmp_path / "out")
    inner = idempotent_parquet_sink(out, "id")
    healthy = {"v": False}

    def deploy_sensitive_sink(pdf: pd.DataFrame) -> None:
        idx = int(pdf["id"].min()) // chunk
        if not healthy["v"] and idx % 10 == 1:
            raise RuntimeError(f"bad deploy rejects chunk {idx}")
        inner(pdf)

    p = BatchProcessor(
        spark,
        SCHEMA,
        deploy_sensitive_sink,
        ProcessorConfig(
            batch_size=chunk,
            spool_size=chunk,
            concurrency=4,
            max_retry_count=1,
            retry_delay_s=0.01,
        ),
        workdir=str(tmp_path / "proc"),
    ).start()
    p.put_many([(i, "x") for i in range(n)])
    stats = p.stop()
    n_poison = len({i for i in range(n // chunk) if i % 10 == 1}) * chunk
    assert stats["dlq_items"] == n_poison
    dlq_pdf = p.dlq().toPandas()
    assert len(dlq_pdf) == n_poison

    # fix the deploy, replay the dead letters through the same
    # flow-control machinery
    healthy["v"] = True
    ctl = FlowController(
        deploy_sensitive_sink,
        FlowControlConfig(batch_size=chunk, concurrency=4, max_retry_count=1),
    )
    ctl.wait(ctl.submit_batch(dlq_pdf))
    ctl.shutdown()
    assert ctl.stats.snapshot()["dlq_items"] == 0

    import glob

    got = []
    for f in sorted(glob.glob(f"{out}/chunk_*.parquet")):
        got.extend(int(x) for x in pd.read_parquet(f)["id"])
    assert sorted(got) == list(range(n)), "replay did not complete delivery"
    p.close()
