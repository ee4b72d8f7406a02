"""BatchProcessor — the reference library's public API re-expressed on
Structured Streaming (SURVEY.md §2.1 O1–O18, §7 Milestone 2).

Reference → engine mapping (paths relative to /root/reference/):

| Reference                                   | Here                       |
|---------------------------------------------|----------------------------|
| put/tryPut (V1/BatchProcessor.java:9-15)    | put()/try_put()/put_many() |
| ring buffer + worker batching (O4/O5)       | spool files → file-source  |
|                                             | micro-batches              |
| full batch flushes at once (size trigger)   | back-to-back micro-batches |
| time-based force flush (O6)                 | interval spool of a buffer |
|                                             | flush_interval_s old       |
| explicit flush (O7)                         | flush() → next micro-batch |
| async sink + semaphore + rate (O9–O11)      | FlowController             |
| retry + drop (O12)                          | retry + DLQ parquet        |
| block/reject backpressure (O13)             | pending-cap block/reject   |
| start/stop lifecycle (O14/O15)              | start()/stop() drain       |
| Stat tree (O16)                             | stat() dict                |

Scale posture: the facade is driver-side because the reference is a
client-side batching library (its sinks are remote bulk APIs and the
GLOBAL concurrency cap is the contract). For executor-side sinks at
cluster scale use ``foreach_batch_sink(..., distributed=True)``,
which applies the same flow-control policy per partition via
``foreachPartition`` — concurrency/rates then bound each partition.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from batchprocessor_spark.scratch import scratch_dir
from batchprocessor_spark.streaming.flow import (
    FlowControlConfig,
    FlowController,
    Sink,
)


_POLLING_DELAY = "spark.sql.streaming.pollingDelay"
_CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_START_LOCK = threading.Lock()


class State(Enum):
    NEW = "NEW"
    STARTED = "STARTED"
    STOPPED = "STOPPED"


class BufferFullError(RuntimeError):
    """Raised by put(block=False) analogue of the reference's
    InsufficientCapacityException (V1/DisruptorBatchProcessor.java:129)."""


@dataclass
class ProcessorConfig:
    """Union of the reference's v1/v2/v3 config surfaces
    (V1/BatchProcessorProperties.java:12-49, V2/BatchProcessorConfig.java:20-59,
    V3/BatchProcessorConfig.java:18-26)."""

    batch_size: int = 1024            # items per sink flush
    queue_size: int = 65536           # max pending (accepted − flushed)
    concurrency: int = 16             # in-flight sink calls
    # O6 time trigger: a partial buffer spools once it is this old.
    # The stream polls for new spools every flush_interval_s / 4.
    flush_interval_s: float = 1.0
    tps: float = 0.0                  # flush calls/sec (O11)
    ips: float = 0.0                  # items/sec (O11)
    max_retry_count: int = 3          # O12
    retry_delay_s: float = 0.1
    block_on_full: bool = True        # O13
    stop_timeout_s: float = 30.0      # O15 drain budget
    spool_size: int = 8192            # items per spool file (micro-batch feed)
    max_files_per_trigger: int = 64


class BatchProcessor:
    """Micro-batching pipeline: ``put()`` items → spool-file source →
    Structured Streaming micro-batches → flow-controlled sink flushes.

    The sink is any callable taking a pandas DataFrame of ≤batch_size
    rows (the Flusher analogue, V2/Flusher.java:12). Exceptions are
    retried with backoff then dead-lettered.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: T.StructType | str,
        sink: Sink,
        config: ProcessorConfig | None = None,
        workdir: str | None = None,
    ):
        self.spark = spark
        self.schema = (
            T._parse_datatype_string(schema) if isinstance(schema, str) else schema
        )
        self.config = config or ProcessorConfig()
        self.workdir = workdir or scratch_dir("bp_proc_")
        self.ingest_dir = os.path.join(self.workdir, "ingest")
        self.ckpt_dir = os.path.join(self.workdir, "checkpoint")
        self.dlq_dir = os.path.join(self.workdir, "dlq")
        os.makedirs(self.ingest_dir, exist_ok=True)

        self._state = State.NEW
        self._state_lock = threading.Lock()
        # Unique per instance: spool names must never collide with a
        # previous run's files — the file source tracks paths in the
        # checkpoint and silently ignores re-used names.
        self._instance = uuid.uuid4().hex[:8]
        self._buffer: list[tuple] = []
        self._buffer_lock = threading.Lock()
        self._buffer_oldest: float | None = None
        self._spool_seq = 0
        self._accepted = 0
        self._query = None
        self._timer: threading.Thread | None = None
        self._timer_stop = threading.Event()
        self._handle = foreach_batch_sink(
            sink,
            FlowControlConfig(
                batch_size=self.config.batch_size,
                concurrency=self.config.concurrency,
                tps=self.config.tps,
                ips=self.config.ips,
                max_retry_count=self.config.max_retry_count,
                retry_delay_s=self.config.retry_delay_s,
            ),
            dlq_path=self.dlq_dir,
        )
        self._controller = self._handle.controller
        self._arrow_schema = None

    # ------------------------------------------------------------ state

    def _pending(self) -> int:
        s = self._controller.stats.snapshot()
        return self._accepted - s["flushed_items"] - s["dlq_items"]

    # ------------------------------------------------------- lifecycle

    def start(self) -> "BatchProcessor":
        """O14: idempotent-unsafe start (CAS NEW→STARTED like
        V1/DisruptorBatchProcessor.java:229-257; the liveness-sentinel
        dance is unnecessary — ``start()`` returns after the streaming
        query is initialized)."""
        with self._state_lock:
            if self._state != State.NEW:
                raise RuntimeError(f"cannot start from state {self._state}")
            self._state = State.STARTED
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.config.max_files_per_trigger)
            .parquet(self.ingest_dir)
        )
        writer = stream.writeStream.foreachBatch(self._handle).option(
            "checkpointLocation", self.ckpt_dir
        )
        # Stream-scoped confs, set on the caller's session only while
        # this stream starts and restored (or unset) afterwards; Spark
        # 4.1 reads each once for the stream.
        #
        # - pollingDelay (size trigger): Spark's default trigger starts
        #   the next micro-batch as soon as the previous one commits,
        #   so a full spool never waits on a clock. With no new spool
        #   the stream sleeps pollingDelay (default 10 ms, a busy poll)
        #   before looking again; the interval spooler's tick is used
        #   instead.
        # - checkpointFileManagerClass: each trigger writes one small
        #   file to each of three metadata logs (sources/0, offsets,
        #   commits). Spark's default FileContext manager, on Hadoop's
        #   local filesystem without the native Hadoop library, forks a
        #   `readlink` per rename and a `chmod` per create: ~30
        #   processes and ~120 ms per trigger on a 4-vCPU host. The
        #   FileSystem manager renames with rename(2) (its creates
        #   still fork `chmod`), atomic on the local disk this
        #   checkpoint always lives on (the spools beside it are
        #   written with os and pyarrow), and the logs never overwrite
        #   a file.
        #
        # The restore follows the pre-warm: the file-source log is
        # created lazily on the stream thread after writer.start()
        # returns, so only once the pre-warm's micro-batch has run do
        # all three logs exist with this manager. _START_LOCK is held
        # from writer.start() through that pre-warm, so two processors
        # starting at once never capture each other's values. The
        # pre-warm itself (one empty spool, drained) pays the engine's
        # cold start — log creation, source init, plan codegen — that
        # would otherwise land in the first DATA batch, so start()
        # returns with the pipeline hot, matching the reference's
        # start-blocks-until-workers-ready semantics
        # (V1/DisruptorBatchProcessor.java:229-257).
        poll_ms = max(1, int(self.config.flush_interval_s * 1000 / 4))
        stream_confs = {
            _POLLING_DELAY: f"{poll_ms}ms",
            _CHECKPOINT_FILE_MANAGER: _FS_CHECKPOINT_FILE_MANAGER,
        }
        with _START_LOCK:
            prev = {k: self.spark.conf.get(k, None) for k in stream_confs}
            for k, v in stream_confs.items():
                self.spark.conf.set(k, v)
            try:
                self._query = writer.start()
                self._spool_empty()
                self._query.processAllAvailable()
            finally:
                for k, v in prev.items():
                    if v is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, v)
        self._timer = threading.Thread(target=self._interval_spooler, daemon=True)
        self._timer.start()
        return self

    def _interval_spooler(self) -> None:
        """O6: force-flush aged partial buffers (the v2 scheduler
        publishing FLUSH events, V2/Worker.java:84-102)."""
        while not self._timer_stop.wait(self.config.flush_interval_s / 4):
            with self._buffer_lock:
                aged = (
                    self._buffer
                    and self._buffer_oldest is not None
                    and time.monotonic() - self._buffer_oldest >= self.config.flush_interval_s
                )
            if aged:
                self._spool()

    # ---------------------------------------------------------- ingest

    def put(self, item: dict | tuple, block: bool = True) -> None:
        """O1: accept one item; blocks (or raises BufferFullError) when
        more than queue_size items are pending downstream (O13)."""
        self._admit([item], block)

    def try_put(self, item: dict | tuple) -> bool:
        """O2: non-blocking put — False when over capacity. (The
        reference's v3 try_put returns false even on success,
        V3/Worker.java:71-72 — a bug we do not replicate.)"""
        try:
            self.put(item, block=False)
            return True
        except BufferFullError:
            return False

    def put_many(self, items: list[dict | tuple]) -> None:
        """O3: bulk ingest (chunked internally by spool_size). Bulk
        path: one lock acquisition and one capacity check per spool
        chunk instead of per item — put() costs dominate bulk loads
        otherwise.

        Reject mode is ALL-OR-NOTHING: with ``block_on_full=False`` the
        whole collection is capacity-checked under the buffer lock
        before anything is inserted, so a raised ``BufferFullError``
        guarantees zero items were accepted. (The reference's v1
        ``tryPutAll`` can partially insert and then fail —
        V1/DisruptorBatchProcessor.java:184-185 TODO — a hazard
        SURVEY §2.1 O3 says not to replicate.)"""
        self._admit(items, block=True)

    def _admit(self, items: list[dict | tuple], block: bool) -> None:
        """The one admission path: reject unless both the caller and
        the config allow blocking, else wait while queue_size items are
        pending; then buffer in spool-sized chunks."""
        if self._state != State.STARTED:
            raise RuntimeError(f"cannot put in state {self._state}")
        reject = not (block and self.config.block_on_full)
        i, n = 0, len(items)
        if reject:
            # Atomic admission decision: once this check passes, no
            # later capacity check can raise, so a BufferFullError
            # guarantees zero items inserted. (Concurrent producers may
            # soft-overshoot queue_size by one check-then-insert window;
            # flushes only ever DECREASE pending.)
            with self._buffer_lock:
                if self._pending() + n > self.config.queue_size:
                    raise BufferFullError(
                        f"pending {self._pending()} + {n} items > "
                        f"queue_size {self.config.queue_size}; rejected atomically"
                    )
        while i < n:
            while not reject and self._pending() >= self.config.queue_size:
                time.sleep(0.01)
            with self._buffer_lock:
                room = self.config.spool_size - len(self._buffer)
                chunk = items[i : i + room]
                self._buffer.extend(map(self._as_tuple, chunk))
                if self._buffer_oldest is None:
                    self._buffer_oldest = time.monotonic()
                self._accepted += len(chunk)
                full = len(self._buffer) >= self.config.spool_size
            i += len(chunk)
            if full:
                self._spool()

    def _as_tuple(self, item: dict | tuple) -> tuple:
        if isinstance(item, dict):
            return tuple(item.get(f.name) for f in self.schema.fields)
        return tuple(item)

    # ----------------------------------------------------------- spool

    def _spool(self) -> None:
        """Write the in-memory buffer as one parquet spool file — the
        ring-buffer→worker handoff made durable. Driver-side pyarrow
        write (no Spark job per spool)."""
        with self._buffer_lock:
            if not self._buffer:
                return
            batch, self._buffer = self._buffer, []
            self._buffer_oldest = None
            self._spool_seq += 1
            seq = self._spool_seq
        self._write_spool(batch, seq)

    def _spool_empty(self) -> None:
        """Write a zero-row spool file (stream pre-warm at start())."""
        with self._buffer_lock:
            self._spool_seq += 1
            seq = self._spool_seq
        self._write_spool([], seq)

    def _write_spool(self, batch: list[tuple], seq: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._arrow_schema is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self._arrow_schema = to_arrow_schema(self.schema)
        cols = list(zip(*batch)) if batch else [[] for _ in self.schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)],
            schema=self._arrow_schema,
        )
        tmp = os.path.join(self.workdir, f".tmp_{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.rename(
            tmp,
            os.path.join(self.ingest_dir, f"spool_{self._instance}_{seq:08d}.parquet"),
        )

    # ------------------------------------------------------------ flush

    def flush(self, wait: bool = False) -> None:
        """O7: explicit flush — spool the partial buffer immediately;
        with wait=True also drain everything spooled so far."""
        self._spool()
        if wait and self._query is not None:
            self._query.processAllAvailable()

    # ------------------------------------------------------------- stop

    def stop(self, wait_for_completion: bool = True) -> dict[str, Any]:
        """O15: graceful drain — reject new input, spool the residual
        buffer, process everything available, then stop the query.
        Zero loss by construction (file source + checkpoint), without
        the reference's acquire-all-permits dance
        (V1/DisruptorBatchProcessor.java:287-301)."""
        with self._state_lock:
            if self._state != State.STARTED:
                raise RuntimeError(f"stop() in state {self._state}")
            self._state = State.STOPPED
        self._timer_stop.set()
        self._spool()
        if self._query is not None:
            if wait_for_completion:
                self._query.processAllAvailable()
            self._query.stop()
            self._query.awaitTermination(int(self.config.stop_timeout_s))
        self._controller.shutdown()
        return self.stat()

    # ------------------------------------------------------------- stat

    def stat(self) -> dict[str, Any]:
        """O16: observability snapshot (Stat analogue, V2/Stat.java)."""
        s = self._controller.stats.snapshot()
        with self._buffer_lock:
            buffered = len(self._buffer)
        progress = None
        if self._query is not None and self._query.lastProgress:
            progress = {
                k: self._query.lastProgress.get(k)
                for k in ("batchId", "numInputRows", "inputRowsPerSecond")
            }
        return {
            "state": self._state.value,
            "accepted": self._accepted,
            "buffered": buffered,
            # used/total occupancy mirroring the reference Stat tree's
            # per-worker buffer gauges (V2/Stat.java:58-124)
            "buffer_total": self.config.spool_size,
            "pending": self._pending(),
            "queue_total": self.config.queue_size,
            "concurrency_total": self.config.concurrency,
            "spool_files": self._spool_seq,
            "last_progress": progress,
            **s,
        }

    # --------------------------------------------------------- cleanup

    def close(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)

    def dlq(self) -> DataFrame | None:
        """The dead-letter table (None when empty)."""
        if not os.path.isdir(self.dlq_dir) or not os.listdir(self.dlq_dir):
            return None
        return self.spark.read.parquet(self.dlq_dir)


def foreach_batch_sink(
    sink: Sink,
    config: FlowControlConfig | None = None,
    dlq_path: str | None = None,
    distributed: bool = False,
    budget: str = "escrow",
):
    """Standalone foreachBatch wrapper for arbitrary streaming queries:
    ``df.writeStream.foreachBatch(foreach_batch_sink(my_sink, cfg))``.

    distributed=False: micro-batch collected to the driver, flow
    control is GLOBAL (reference semantics — right for client-side
    bulk-API sinks).
    distributed=True: flow control runs inside each partition on the
    executors — the shape that scales to 1000 executors; pair with
    ``df.repartition(n)`` to set fan-out. The GLOBAL budget is
    preserved: each micro-batch divides tps/ips
    across its partitions so the AGGREGATE rate across executors
    stays bounded by the configured global rate (the reference's
    limits are process-global, V1/MixedLimiter.java:16-43 — a naive
    per-partition copy would multiply "tps=100" into partitions×100).

    The division is WORK-CONSERVING: each partition's share is
    proportional to its ROW COUNT in the micro-batch (one cheap
    counting pass over the persisted batch RDD), so a partition
    holding share w of the rows drains at tps·w and EVERY partition
    finishes at ≈ total_rows / global_rate — the same wall clock as
    the reference's single shared limiter (V1/MixedLimiter.java:16-43),
    with zero cross-executor coordination. A static nparts-division
    would waste the fast partitions' unused rate under skew (a
    90%-skewed partition would run at tps/nparts while the other
    budgets idle); proportional shares eliminate exactly that idle
    budget while keeping Σ tps_i = tps exact. Empty partitions get no
    budget and no controller.

    ``budget`` selects how the global rate is enforced across
    partitions (distributed mode only):

    - ``"escrow"`` (default): ONE driver-side
      TokenEscrowServer holds the tps/ips buckets for the whole
      query; every partition's flush reserves from it over a tiny
      line-oriented TCP exchange (executors already reach the driver
      host). This is literally the reference's single shared
      MixedLimiter (V1/MixedLimiter.java:16-43) made distributed:
      work-conserving with NO shares and NO epochs — a partition
      whose sink is atypically slow per row just reserves less, and
      its idle budget flows to whichever partition asks next,
      mid-epoch. The burst is granted ONCE per query (1 flush /
      batch_size items), not per epoch, so the cross-epoch statement
      tightens to: delivered ≤ rate·elapsed + that one-time burst.
    - ``"proportional"``: the zero-coordination division —
      each nonempty partition gets rate × its row share from one
      counting pass. Work-conserving for ROW-COUNT skew (Σ shares =
      1, every partition drains in ≈ total/global_rate) but shares
      are fixed at dispatch: heterogeneous per-row sink LATENCY
      cannot borrow idle budget until the next epoch. Kept for
      deployments where the executors cannot open a connection to
      the driver (locked-down networks).

    Concurrency divides proportionally too but floors at 1 per
    nonempty partition; when nonempty partitions exceed the
    configured cap the true aggregate in-flight bound is that count.
    The per-epoch division and its worst-case aggregate bounds are
    surfaced on the returned handle as ``handle.last_budget`` (the
    distributed analogue of the driver controller's stat()). Because
    each partition's controller is rebuilt per micro-batch,
    distributed mode pins the bucket bursts to the progress minimum
    (1 flush / batch_size items per partition), so the cross-epoch
    statement is: sustained aggregate rate ≤ the configured tps/ips
    + epochs-per-second × the reported per_epoch_burst_* allowance —
    never the driver-mode default burst re-granted every epoch.
    """
    cfg = config or FlowControlConfig()
    if budget not in ("escrow", "proportional"):
        raise ValueError(f"unknown budget mode {budget!r}")

    if distributed and budget == "escrow":
        # One reservation RPC per flush: the steady-state request rate
        # is capped by whichever configured rate binds first. Past
        # half the MEASURED single-server ceiling
        # (scripts/escrow_bench.py, SCALE.md) the escrow stops being a
        # negligible ~100 µs detour and becomes a queue — warn and
        # point at the zero-coordination mode rather than silently
        # degrading every flush.
        from batchprocessor_spark.streaming.flow import (
            ESCROW_CEILING_FLUSHES_PER_SEC,
        )

        implied = [r for r in (
            cfg.tps if cfg.tps > 0 else None,
            cfg.ips / cfg.batch_size if cfg.ips > 0 else None,
        ) if r is not None]
        if implied and min(implied) > 0.5 * ESCROW_CEILING_FLUSHES_PER_SEC:
            import warnings

            warnings.warn(
                f"configured rate implies ~{min(implied):.0f} escrow "
                f"reservations/sec, past the safe region of the "
                f"measured single-server ceiling "
                f"(~{ESCROW_CEILING_FLUSHES_PER_SEC:.0f}/s sustained, "
                f"scripts/escrow_bench.py); use a larger batch_size "
                f'or budget="proportional" (zero-coordination) '
                f"to keep flush latency flat",
                RuntimeWarning,
                stacklevel=2,
            )

    if not distributed:
        controller = FlowController(sink, cfg, dlq_path=dlq_path)

        def handle(df: DataFrame, epoch_id: int) -> None:
            pdf = df.toPandas()
            if len(pdf):
                # Block until this epoch's flushes finish so the
                # checkpoint commit implies delivery (at-least-once; the
                # reference has no delivery guarantee at all — SURVEY
                # §2.1 non-goals).
                controller.wait(controller.submit_batch(pdf))

        handle.controller = controller  # expose stats to callers
        return handle

    def handle_distributed(df: DataFrame, epoch_id: int) -> None:
        import dataclasses

        from pyspark import StorageLevel

        # WORK-CONSERVING proportional division: one counting pass
        # over the persisted micro-batch RDD gives each partition's row
        # count, and each nonempty partition receives the global rate ×
        # its row share. Σ shares = 1, so the aggregate stays exactly at
        # the configured rate, and every partition drains in
        # ≈ total_rows / global_rate wall clock — no partition's unused
        # budget idles while a skewed one throttles. The counting pass
        # is one scan of a batch the dispatch pass scans anyway;
        # persist makes it one materialization, and the rate-limited
        # sink I/O dominates both.
        rdd = df.rdd
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            counts = dict(
                rdd.mapPartitionsWithIndex(
                    lambda i, it: [(i, sum(1 for _ in it))]
                ).collect()
            )
            total = sum(counts.values())
            nparts = max(1, len(counts))
            nonempty = {i: c for i, c in counts.items() if c}
            use_escrow = budget == "escrow" and (cfg.tps > 0 or cfg.ips > 0)
            escrow_addr, escrow_token = None, ""
            if use_escrow:
                escrow_addr, escrow_token = _ensure_escrow(
                    handle_distributed, cfg, df.sparkSession
                )

            def share(w: float) -> FlowControlConfig:
                """Partition config for row share w. Each partition's
                controller (and so its token buckets) is rebuilt per
                micro-batch, so burst capacity is RE-GRANTED every
                epoch: the burst is pinned to the minimum that lets a
                controller make progress (1 flush / one batch of items)
                so the per-epoch free allowance stays bounded and
                reported. In escrow mode the ONE shared escrow bucket
                enforces the rates; per-partition tps/ips stay at the
                global value purely for stat reporting."""
                if use_escrow:
                    rates = dict(escrow_addr=escrow_addr, escrow_token=escrow_token)
                else:
                    rates = dict(tps=max(cfg.tps, 0.0) * w, ips=max(cfg.ips, 0.0) * w)
                return dataclasses.replace(
                    cfg,
                    concurrency=max(1, int(cfg.concurrency * w)),
                    tps_burst=1.0,
                    ips_burst=float(cfg.batch_size),
                    **rates,
                )

            budgets = {i: share(c / total) for i, c in nonempty.items()}
            handle_distributed.last_budget = {
                "epoch_id": epoch_id,
                "mode": (
                    "escrow_shared_limiter"
                    if use_escrow
                    else "work_conserving_proportional"
                ),
                "escrow_addr": escrow_addr,
                "num_partitions": nparts,
                "nonempty_partitions": len(nonempty),
                "rows_total": total,
                "rows_by_partition": dict(sorted(nonempty.items())),
                "tps_by_partition": {
                    i: b.tps for i, b in sorted(budgets.items())
                },
                "ips_by_partition": {
                    i: b.ips for i, b in sorted(budgets.items())
                },
                "concurrency_by_partition": {
                    i: b.concurrency for i, b in sorted(budgets.items())
                },
                # Aggregate SUSTAINED-rate bounds. Proportional mode:
                # bucket refill across partitions — Σ tps·wᵢ = tps
                # exactly, plus a per-epoch allowance from the minimum
                # burst each rebuilt bucket starts with (the honest
                # cross-epoch statement is rate ≤ bound +
                # epochs_per_sec · burst_per_epoch). Escrow mode: ONE
                # persistent bucket pair for the query, so the burst
                # is granted once TOTAL (per_epoch_* = 0).
                "aggregate_tps_bound": cfg.tps,
                "aggregate_ips_bound": cfg.ips,
                "per_epoch_burst_flushes": 0 if use_escrow else len(nonempty),
                "per_epoch_burst_items": (
                    0 if use_escrow else len(nonempty) * cfg.batch_size
                ),
                "query_burst_flushes": 1 if use_escrow else 0,
                "query_burst_items": cfg.batch_size if use_escrow else 0,
                # Concurrency can exceed the global cap by the
                # per-partition floor of 1 when the nonempty
                # partition count exceeds cap.
                "aggregate_concurrency_bound": sum(
                    b.concurrency for b in budgets.values()
                ),
            }

            def per_partition(rows):
                import pandas as pd  # executor-side import
                from pyspark import TaskContext

                pdf = pd.DataFrame([r.asDict() for r in rows])
                if len(pdf) == 0:
                    return
                tc = TaskContext.get()
                pid = tc.partitionId() if tc else 0
                # A partition the count called empty still gets its rows
                # delivered, but on a 1/nparts share, never the UNDIVIDED
                # global rate or concurrency: if the count and dispatch
                # passes ever disagreed, a full grant per surprise
                # partition could exceed the aggregate cap by up to the
                # whole global budget.
                pp_cfg = budgets.get(pid) or share(1 / nparts)
                # Retry→DLQ must survive distribution: each
                # partition's controller appends under its own
                # epoch/partition subpath (unique dirs, no cross-task
                # clobbering; works on any shared filesystem pandas
                # can write parquet to). With no dlq_path the
                # reference's log-and-drop semantics apply.
                part_dlq = None
                if dlq_path is not None:
                    part_dlq = f"{dlq_path}/epoch={epoch_id}/partition={pid}"
                ctrl = FlowController(sink, pp_cfg, dlq_path=part_dlq)
                ctrl.wait(ctrl.submit_batch(pdf))
                ctrl.shutdown()

            rdd.foreachPartition(per_partition)
        finally:
            rdd.unpersist()

    handle_distributed.last_budget = None  # set per epoch
    handle_distributed.escrow_server = None  # started on first epoch
    handle_distributed.escrow_addr = None

    def close() -> None:
        if handle_distributed.escrow_server is not None:
            handle_distributed.escrow_server.close()
            handle_distributed.escrow_server = None
        # a stale addr would make the next epoch dial the closed
        # server instead of starting a fresh one
        handle_distributed.escrow_addr = None

    handle_distributed.close = close
    return handle_distributed


def _ensure_escrow(
    handle, cfg: FlowControlConfig, spark
) -> tuple[tuple[str, int], str]:
    """Start (once per handle) the driver-side TokenEscrowServer and
    return ((host, port), token) executors should dial. The advertised
    host is spark.driver.host — the address executors already use to
    reach the driver for blocks and files — and the server binds to
    that interface (wildcard only as fallback); the per-query token
    authenticates every request.

    Lifetime: ``handle.close()`` is the contract for releasing the
    server (socket + accept thread) — call it when the streaming
    query stops. As a backstop, a weakref finalizer closes the server
    when the handle itself is garbage-collected, so a dropped handle
    does not leak the listener for the process lifetime. The rates are frozen from the config at first use; to
    re-rate a query, close() the handle and build a new sink."""
    if handle.escrow_addr is not None:
        return handle.escrow_addr, handle.escrow_server.token
    import weakref

    from batchprocessor_spark.streaming.flow import TokenEscrowServer

    try:
        host = spark.sparkContext.getConf().get("spark.driver.host")
    except Exception:  # noqa: BLE001 - conf lookup shape varies
        host = None
    server = TokenEscrowServer(
        tps=cfg.tps,
        ips=cfg.ips,
        # burst granted ONCE for the query lifetime: the progress
        # minimum (1 flush / one batch of items)
        tps_burst=1.0,
        ips_burst=float(cfg.batch_size),
        bind_host=host,
    )
    handle.escrow_server = server
    handle.escrow_addr = (host or "127.0.0.1", server.port)
    # weak on the handle, strong on the server: no cycle, and the
    # finalizer fires exactly when the user drops the handle without
    # close() (idempotent — close() twice is a no-op)
    weakref.finalize(handle, TokenEscrowServer.close, server)
    return handle.escrow_addr, server.token
