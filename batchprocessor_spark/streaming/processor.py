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
| worker hands the batch to the sink          | micro-batch handler reads  |
|                                             | its spools with pyarrow    |
|                                             | (no Spark job per batch)   |
| async sink + semaphore + rate (O9–O11)      | FlowController             |
| retry + drop (O12)                          | retry + DLQ parquet        |
| block/reject backpressure (O13)             | pending-cap block/reject   |
| start/stop lifecycle (O14/O15)              | start()/stop() drain       |
| Stat tree (O16)                             | stat() dict                |

Spark keeps the control plane: offsets, commit, restart and progress.
Each micro-batch is planned but never scanned by Spark. The handler
takes the spool paths from the planned file scan, reads them with
pyarrow and converts them as ``DataFrame.toPandas()`` would, and the
file source deletes each spool once its batch commits. The processor
reads none of Spark's checkpoint files: on every ``start()``, once the
pre-warm drain has delivered and committed whatever the ingest dir
held, it deletes every spool an earlier instance wrote (spool names
carry the writing instance's id), including those the file source
never deletes, such as the spool of a batch committed just before a
driver died.

Garbage collection (process-wide, like the collector itself): while
any BatchProcessor runs, the objects that existed when the first one
started are frozen out of the cyclic collector. The first ``start()``
of a process whose heap is not already frozen runs one ``gc.collect()``
and then ``gc.freeze()``; the last ``stop()`` calls ``gc.unfreeze()``.
A full collection then scans only what the pipeline allocated, not the
session's import-time heap (pyspark, pandas and pyarrow modules), so
it no longer stops the producer, the micro-batch handler and the flush
pool for tens of milliseconds at a time. Frozen objects are still freed
by reference counting; only reference cycles among them wait for the
last ``stop()``. A process that froze its own heap before the first
``start()`` keeps that freeze: processors neither add to it nor undo it.

Scale posture: the facade is driver-side because the reference is a
client-side batching library (its sinks are remote bulk APIs and the
GLOBAL concurrency cap is the contract). For executor-side sinks at
cluster scale use ``foreach_batch_sink(..., distributed=True)``: each
partition gets its rows as Arrow batches through ``mapInArrow`` and
runs the flow-control policy, drawing its permits and rates from one
driver-side token escrow.
"""

from __future__ import annotations

import gc
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from enum import Enum
from typing import Any
from urllib.parse import urlparse
from urllib.request import url2pathname

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

from batchprocessor_spark.scratch import scratch_dir
from batchprocessor_spark.streaming.flow import (
    ESCROW_CEILING_FLUSHES_PER_SEC,
    FlowControlConfig,
    FlowController,
    Sink,
    TokenEscrowServer,
)


_POLLING_DELAY = "spark.sql.streaming.pollingDelay"
_CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_START_LOCK = threading.Lock()
# The garbage collector is process-wide, so the count of running
# processors that keeps the heap frozen is too (guarded by _START_LOCK).
_running = 0
_froze_heap = False


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
        self._counted = False  # holds one count in _running
        # JVM handles resolved on the stream's first batch, fixed for the
        # life of the query: its StreamExecution, the ArraySeq class, and
        # the time zone and struct mode of the batch session (the
        # stream's clone of this session).
        self._jquery = None
        self._array_seq = None
        self._pandas_conf: tuple[str, str] | None = None
        self._timer: threading.Thread | None = None
        self._timer_stop = threading.Event()
        self._controller = FlowController(
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
        self._arrow_schema = to_arrow_schema(self.schema)
        # A spool's rows as one struct array. Its fields are all nullable,
        # so converting a NULL never fails; the spool's schema keeps the
        # declared nullability.
        self._row_type = pa.struct([f.with_nullable(True) for f in self._arrow_schema])

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
        # cleanSource=delete: the file source deletes a spool once the
        # batch that read it commits, so the ingest directory (which
        # the source lists every trigger) holds only unconsumed spools,
        # and a restart still finds an uncommitted batch's files. What
        # it misses on a restart goes in the sweep after the pre-warm.
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.config.max_files_per_trigger)
            .option("cleanSource", "delete")
            .parquet(self.ingest_dir)
        )
        writer = stream.writeStream.foreachBatch(self._on_batch).option(
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
        self._sweep_ingest()
        self._timer = threading.Thread(target=self._interval_spooler, daemon=True)
        self._timer.start()
        self._hold_gc_freeze()
        return self

    def _hold_gc_freeze(self) -> None:
        """Count this processor as running; the first one freezes the
        heap (after one collection, so no garbage stays pinned) unless
        the process froze it already."""
        global _running, _froze_heap
        with _START_LOCK:
            _running += 1
            self._counted = True
            if _running == 1 and gc.get_freeze_count() == 0:
                gc.collect()
                gc.freeze()
                _froze_heap = True

    def _release_gc_freeze(self) -> None:
        """Uncount this processor; the last one unfreezes the heap if a
        processor froze it."""
        global _running, _froze_heap
        with _START_LOCK:
            if not self._counted:
                return
            self._counted = False
            _running -= 1
            if _running == 0 and _froze_heap:
                gc.unfreeze()
                _froze_heap = False

    def _sweep_ingest(self) -> None:
        """Delete every ingest file but this instance's spools. The
        pre-warm drain returned only after every file already in the
        ingest dir was delivered and committed, and a dead instance
        writes no more, so none of them is still needed; files put
        during this start() carry this instance's prefix. This frees
        what ``cleanSource`` leaves: the spools of source-log batches a
        restart folds into one larger micro-batch (a commit deletes
        only the files of the batch it ends at), and those of a batch
        committed just before the driver died."""
        mine = f"spool_{self._instance}_"
        for name in os.listdir(self.ingest_dir):
            if not name.startswith(mine):
                try:
                    os.remove(os.path.join(self.ingest_dir, name))
                except FileNotFoundError:
                    pass  # the file source's cleaner got there first

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
        rows = pa.RecordBatch.from_struct_array(pa.array(batch, type=self._row_type))
        table = pa.Table.from_arrays(rows.columns, schema=self._arrow_schema)
        tmp = os.path.join(self.workdir, f".tmp_{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.rename(
            tmp,
            os.path.join(self.ingest_dir, f"spool_{self._instance}_{seq:08d}.parquet"),
        )

    # ------------------------------------------------------- micro-batch

    def _on_batch(self, df: DataFrame, epoch_id: int) -> None:
        """The micro-batch handler. Spark has planned the batch (offsets
        logged, the spools it covers listed into the scan's file index)
        but runs no job for it: the handler reads those spools with
        pyarrow, on the driver where they were written, and never
        touches ``df``. Blocks until the batch's flushes finish, so the
        commit that follows implies delivery (at-least-once)."""
        scan = self._batch_scan(epoch_id)
        table = pq.read_table(self._scan_paths(scan), schema=self._arrow_schema)
        # Progress takes numInputRows from the scan's numOutputRows
        # metric, which only a scan job would fill: credit it here.
        scan.metrics().apply("numOutputRows").add(table.num_rows)
        if table.num_rows:
            pdf = _arrow_to_pandas(table, self.schema, *self._pandas_conf)
            self._controller.wait(self._controller.submit_batch(pdf))

    def _batch_scan(self, epoch_id: int):
        """The one file scan (``FileSourceScanExec``) in the executed
        plan of the running batch's JVM ``IncrementalExecution``. On the
        first batch the query is found by the id Spark sets on the
        thread that runs the batch, since this can run before
        ``writer.start()`` returns (a restart with a backlog)."""
        if self._jquery is None:
            query_id = self.spark.sparkContext.getLocalProperty("sql.streaming.queryId")
            query = self.spark._jsparkSession.streams().get(query_id)
            if query is None:
                raise RuntimeError(f"no active streaming query {query_id!r}")
            self._jquery = query.streamingQuery()
            self._array_seq = self.spark._jvm.scala.collection.immutable.ArraySeq
        execution = self._jquery.lastExecution()
        if execution.currentBatchId() != epoch_id:
            raise RuntimeError(
                f"last execution is batch {execution.currentBatchId()}, "
                f"handler was called for batch {epoch_id}"
            )
        leaves = execution.executedPlan().collectLeaves()
        scans = [leaves.apply(i) for i in range(leaves.size())]
        names = [leaf.getClass().getSimpleName() for leaf in scans]
        if names != ["FileSourceScanExec"]:
            raise RuntimeError(f"expected one FileSourceScanExec leaf, got {names}")
        if self._pandas_conf is None:
            # The batch's session: the one df.toPandas() would read.
            conf = execution.sparkSession().sessionState().conf()
            self._pandas_conf = (conf.sessionLocalTimeZone(), conf.pandasStructHandlingMode())
        return scans[0]

    def _scan_paths(self, scan) -> list[str]:
        """Local paths of the files ``scan`` would read."""
        uris = scan.relation().location().inputFiles()
        # One py4j call for the whole list, not one per element.
        seq = self._array_seq.unsafeWrapArray(uris)
        paths = []
        for uri in seq.mkString("\n").splitlines():
            parsed = urlparse(uri)
            if parsed.scheme != "file":
                raise RuntimeError(f"spool {uri!r} is not on the local filesystem")
            paths.append(url2pathname(parsed.path))
        return paths

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
        try:
            self._spool()
            if self._query is not None:
                if wait_for_completion:
                    self._query.processAllAvailable()
                self._query.stop()
                self._query.awaitTermination(int(self.config.stop_timeout_s))
            self._controller.shutdown()
        finally:
            self._release_gc_freeze()
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


def _arrow_to_pandas(
    table: pa.Table, schema: T.StructType, timezone: str, struct_in_pandas: str
) -> pd.DataFrame:
    """``table`` as the frame ``DataFrame.toPandas()`` returns on its
    Arrow path (pyspark/sql/pandas/conversion.py): the same
    ``to_pandas`` options, then the per-field converter with the
    session's time zone and struct-handling mode."""
    legacy = struct_in_pandas == "legacy"
    pdf = table.rename_columns(
        [f"col_{i}" for i in range(table.num_columns)]
    ).to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    pdf.columns = schema.names
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="dict" if legacy else struct_in_pandas,
                error_on_duplicated_field_names=legacy,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def foreach_batch_sink(
    sink: Sink,
    config: FlowControlConfig | None = None,
    dlq_path: str | None = None,
    distributed: bool = False,
):
    """Standalone foreachBatch wrapper for arbitrary streaming queries:
    ``df.writeStream.foreachBatch(foreach_batch_sink(my_sink, cfg))``.

    distributed=False: micro-batch collected to the driver, flow
    control is GLOBAL (reference semantics — right for client-side
    bulk-API sinks).
    distributed=True: flow control runs inside each partition on the
    executors — the shape that scales to 1000 executors; pair with
    ``df.repartition(n)`` to set fan-out. Each epoch is one
    ``mapInArrow`` action that hands each partition's rows, converted
    as ``toPandas()`` would, to a controller in that partition. The
    caps stay GLOBAL (the reference's semaphore and limiter are
    process-global, V1/MixedLimiter.java:16-43): ONE driver-side
    TokenEscrowServer holds the ``concurrency`` permits and the
    tps/ips buckets for the whole query, and idle permits and budget
    go to whichever partition asks next. The rate burst is granted
    ONCE per query (1 flush / batch_size items), so across epochs
    delivered ≤ rate·elapsed + that burst. Executors that cannot
    reach the escrow fail with a ConnectionError (fail closed). Each
    epoch's rows per partition and the aggregate bounds are surfaced
    on the returned handle as ``handle.last_budget``.
    """
    cfg = config or FlowControlConfig()

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

    # The flush rate is capped by whichever configured rate binds
    # first; past half the MEASURED escrow ceiling the escrow becomes
    # a queue — warn rather than silently degrade every flush.
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
            f"to keep flush latency flat",
            RuntimeWarning,
            stacklevel=2,
        )

    def handle_distributed(df: DataFrame, epoch_id: int) -> None:
        escrow = _ensure_escrow(handle_distributed, cfg, df.sparkSession)
        schema, jconf = df.schema, df.sparkSession._jconf  # as toPandas() reads it
        tz, structs = jconf.sessionLocalTimeZone(), jconf.pandasStructHandlingMode()

        def per_partition(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            batches = list(batches)
            rows = sum(b.num_rows for b in batches)
            if rows:
                # Each partition dead-letters under its own
                # epoch/partition subpath (no cross-task clobbering);
                # with no dlq_path, the reference's log-and-drop.
                part_dlq = None
                if dlq_path is not None:
                    part_dlq = f"{dlq_path}/epoch={epoch_id}/partition={pid}"
                pdf = _arrow_to_pandas(pa.Table.from_batches(batches), schema, tz, structs)
                ctrl = FlowController(sink, cfg, dlq_path=part_dlq, escrow=escrow)
                try:
                    ctrl.wait(ctrl.submit_batch(pdf))
                finally:
                    ctrl.shutdown()
            yield pa.record_batch(
                [pa.array([pid], pa.int32()), pa.array([rows], pa.int64())],
                names=["partition", "rows"],
            )

        out = df.mapInArrow(per_partition, "partition INT, rows BIGINT").collect()
        handle_distributed.last_budget = {
            "epoch_id": epoch_id,
            "escrow_addr": escrow[0],
            "num_partitions": len(out),
            "rows_by_partition": {r.partition: r.rows for r in sorted(out) if r.rows},
            # Aggregate bounds: ONE persistent escrow for the query,
            # whose rate burst is granted once.
            "aggregate_tps_bound": cfg.tps,
            "aggregate_ips_bound": cfg.ips,
            "aggregate_concurrency_bound": cfg.concurrency,
        }

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

    Lifetime: ``handle.close()`` releases the server — call it when
    the streaming query stops; a weakref finalizer closes it when the
    handle is garbage-collected. The rates and the permit count are
    frozen from the config at first use; to change them, close() the
    handle and build a new sink."""
    if handle.escrow_addr is not None:
        return handle.escrow_addr, handle.escrow_server.token
    import weakref

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
        concurrency=cfg.concurrency,
    )
    handle.escrow_server = server
    handle.escrow_addr = (host or "127.0.0.1", server.port)
    # weak on the handle, strong on the server: no cycle, and the
    # finalizer fires exactly when the user drops the handle without
    # close() (idempotent — close() twice is a no-op)
    weakref.finalize(handle, TokenEscrowServer.close, server)
    return handle.escrow_addr, server.token
