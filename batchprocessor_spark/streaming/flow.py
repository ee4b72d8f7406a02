"""Sink-side flow control for micro-batch flushes (SURVEY.md §2.1
O9–O12): bounded concurrency, TPS/IPS rate limiting, bounded retry
with a dead-letter table.

This is the one piece of the reference that Spark does NOT provide
out of the box (SURVEY §4.3): Structured Streaming owns triggers and
backpressure, but in-flight flush concurrency caps, token-bucket rate
limits, and retry→DLQ policy around a user sink are plain engine code.

Reference parity (file:line in /root/reference/):
- concurrency semaphore: V1/MixedLimiter.java:30-33, V2/Worker.java:229
- TPS/IPS rate limiter:  V1/MixedLimiter.java:16-43
- retry w/ delay + bounded count: V2/Worker.java:258-311, V3/Worker.java:182-210
- discard-on-exhaustion (we upgrade to a DLQ parquet table instead of
  the reference's log-and-drop, V2/Worker.java:290-292)
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class FlowControlConfig:
    """Mirrors the reference's BatchProcessorConfig knobs
    (V2/BatchProcessorConfig.java:20-59)."""

    batch_size: int = 1024          # flushSize: max items per sink call
    concurrency: int = 16           # max in-flight sink calls
    tps: float = 0.0                # flushes/sec, 0 = unlimited
    ips: float = 0.0                # items/sec, 0 = unlimited
    max_retry_count: int = 3        # retries before DLQ
    retry_delay_s: float = 0.1      # base delay, doubles per attempt
    # (host, port) of a driver-side TokenEscrowServer. When set, the
    # controller draws tps/ips from that ONE shared limiter instead of
    # local buckets — the reference's process-global MixedLimiter
    # semantics (V1/MixedLimiter.java:16-43) across executors: a
    # partition whose sink is slow per row simply reserves less, and
    # the unreserved budget flows to whoever asks next.
    escrow_addr: tuple[str, int] | None = None
    # per-query shared secret for the escrow protocol — every request
    # carries it, and the server drops unauthenticated peers
    escrow_token: str = ""


class TokenBucket:
    """Token bucket with Guava RateLimiter's reserve semantics
    (V1/MixedLimiter.java:16-43). Thread-safe and non-blocking:
    reserve(n) takes n tokens at once, letting the balance go negative,
    and returns the seconds the caller owes before it may proceed. A
    reservation larger than the burst is therefore a finite wait, never
    a stall. A rate <= 0 is unlimited."""

    def __init__(self, rate: float, burst: float | None = None):
        self.rate = float(rate)
        self.capacity = burst if burst is not None else max(self.rate, 1.0)
        self._tokens = self.capacity
        self._last = time.monotonic()
        self._lock = threading.Lock()

    def reserve(self, n: float = 1.0) -> float:
        if self.rate <= 0 or n <= 0:
            return 0.0
        with self._lock:
            now = time.monotonic()
            self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
            self._last = now
            self._tokens -= n
            return max(0.0, -self._tokens / self.rate)


# Measured sustained reservation ceiling of ONE TokenEscrowServer
# (scripts/escrow_bench.py, recorded in SCALE.md): ~14k req/s at
# 4 concurrent client processes, plateauing at ~7k req/s from 8-16
# (per-connection server threads contend on the GIL; p50 latency
# grows with client count while throughput holds — queueing, not
# collapse). One reservation per FLUSH, so this is the aggregate
# flushes/sec one escrow can arbitrate. foreach_batch_sink warns past
# half of it and points at a larger batch_size (fewer flushes).
ESCROW_CEILING_FLUSHES_PER_SEC = 7000.0


class TokenEscrowServer:
    """Driver-side shared rate limiter — the reference's single
    process-global MixedLimiter (V1/MixedLimiter.java:16-43) lifted to
    a tiny line-oriented TCP service so every executor partition draws
    from ONE tps bucket and ONE ips bucket.

    Reservation semantics (Guava RateLimiter's reserve): token
    balances may go negative; the reply is how long the requester must
    sleep before its flush may proceed. This keeps the server
    non-blocking (a reservation is O(1) under each bucket's lock) and
    makes the budget work-conserving by construction: budget a slow-sink
    partition never reserves is immediately available to the next
    requester — no shares, no epochs, no re-grants.

    Scale: one request per FLUSH (not per item), so 1000 executors at
    the configured aggregate tps generate exactly tps requests/sec in
    total — trivial for a threaded accept loop; executors already
    reach the driver host for blocks/files, so no new topology is
    assumed."""

    def __init__(
        self,
        tps: float,
        ips: float,
        tps_burst: float = 1.0,
        ips_burst: float | None = None,
        bind_host: str | None = None,
        replies_cap: int = 65536,
    ):
        import socket
        import uuid

        self._tps = TokenBucket(tps, burst=tps_burst)
        self._ips = TokenBucket(ips, burst=float(ips_burst or 0.0))
        self._lock = threading.Lock()
        self.reservations = 0
        # Every request must carry this per-query secret — an open
        # unauthenticated bucket would let any network peer reserve
        # unbounded tokens and stall every executor.
        # Bind to the advertised driver interface when known; the
        # wildcard is only the fallback when that bind fails.
        self.token = uuid.uuid4().hex
        self._srv = None
        if bind_host:
            try:
                self._srv = socket.create_server((bind_host, 0))
            except OSError:
                self._srv = None
        if self._srv is None:
            self._srv = socket.create_server(("0.0.0.0", 0))
        self.port = self._srv.getsockname()[1]
        # idempotency cache: client_id -> (seq, wait). A client retries
        # the SAME seq after a write-succeeded/read-failed exchange;
        # replaying the cached grant instead of re-reserving keeps a
        # flaky connection from double-deducting budget. One in-flight
        # request per client (the client serializes under its lock), so
        # caching only the latest is exact.
        #
        # LRU-bounded: every micro-batch builds fresh EscrowClients
        # with new uuids, so an unbounded dict gains one
        # entry per (partition × epoch) for the life of the query —
        # GBs of driver RSS over a week of 1 s epochs. The cache only
        # has to survive one client's in-flight retry window
        # (milliseconds); evicting the oldest beyond `replies_cap`
        # keeps it exact unless >cap OTHER reservations land inside
        # that window, i.e. a sustained request rate far beyond the
        # single-thread ceiling documented in SCALE.md. Eviction on
        # connection close would be WRONG here: the client resets its
        # socket before resending, so the cached grant must outlive
        # the disconnect it is protecting against.
        from collections import OrderedDict

        self._replies: OrderedDict[str, tuple[int, float]] = OrderedDict()
        self._replies_cap = int(replies_cap)
        self._closed = False
        threading.Thread(
            target=self._serve, daemon=True, name="bp-escrow"
        ).start()

    def reserve(self, n_flushes: float, n_items: float) -> float:
        """Reserve tokens from both buckets; returns the sleep the
        caller owes before proceeding."""
        with self._lock:
            self.reservations += 1
        return max(self._tps.reserve(n_flushes), self._ips.reserve(n_items))

    def _serve(self) -> None:
        while not self._closed:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._client, args=(conn,), daemon=True
            ).start()

    def _client(self, conn) -> None:
        try:
            rf = conn.makefile("rwb")
            while True:
                line = rf.readline()
                if not line:
                    return
                token, cid, seq_s, f, i = line.split()
                if token.decode() != self.token:
                    return  # unauthenticated peer — drop silently
                cid_s, seq = cid.decode(), int(seq_s)
                with self._lock:
                    cached = self._replies.get(cid_s)
                    if cached is not None:
                        self._replies.move_to_end(cid_s)
                if cached is not None and cached[0] == seq:
                    wait = cached[1]  # retry replay — no re-reserve
                else:
                    wait = self.reserve(float(f), float(i))
                    with self._lock:
                        self._replies[cid_s] = (seq, wait)
                        self._replies.move_to_end(cid_s)
                        while len(self._replies) > self._replies_cap:
                            self._replies.popitem(last=False)
                rf.write(f"{wait:.6f}\n".encode())
                rf.flush()
        except (OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def close(self) -> None:
        self._closed = True
        try:
            self._srv.close()
        except OSError:
            pass


class EscrowClient:
    """Executor-side client for TokenEscrowServer: one persistent
    connection per controller, one request per flush (request/response
    framing under a lock; the granted sleep happens OUTSIDE the lock so
    concurrent flush threads pipeline their reservations). Connection
    failure fails CLOSED after bounded retries — silently falling back
    to an unlimited local bucket would break the aggregate-rate cap."""

    def __init__(self, addr: tuple[str, int], token: str = ""):
        import uuid

        self._addr = tuple(addr)
        self._token = token
        self._cid = uuid.uuid4().hex
        self._seq = 0
        self._sock = None
        self._rf = None
        self._lock = threading.Lock()

    def _connect(self):
        import socket

        self._sock = socket.create_connection(self._addr, timeout=30)
        self._rf = self._sock.makefile("rwb")

    def _reset(self):
        try:
            if self._sock is not None:
                self._sock.close()
        except OSError:
            pass
        self._sock = None
        self._rf = None

    def acquire(self, n_flushes: float, n_items: float) -> None:
        last_err: Exception | None = None
        with self._lock:
            # one seq per logical request: retries RESEND the same seq
            # and the server replays the cached grant instead of
            # re-reserving (no double-deduct on write-ok/read-fail)
            self._seq += 1
            msg = (
                f"{self._token} {self._cid} {self._seq} "
                f"{n_flushes} {n_items}\n"
            ).encode()
            for attempt in range(5):
                try:
                    if self._sock is None:
                        self._connect()
                    self._rf.write(msg)
                    self._rf.flush()
                    line = self._rf.readline()
                    if not line:
                        raise ConnectionError("escrow server closed")
                    wait = float(line)
                    break
                except (OSError, ValueError, ConnectionError) as e:
                    last_err = e
                    self._reset()
                    time.sleep(0.2 * (attempt + 1))
            else:
                raise ConnectionError(
                    f"token escrow unreachable at {self._addr}: {last_err}"
                )
        if wait > 0:
            time.sleep(wait)

    def close(self) -> None:
        with self._lock:
            self._reset()


@dataclass
class FlowStats:
    """Observable counters (Stat analogue, V2/Stat.java:11-136).

    Mirrors the reference's per-worker granularity: the Stat tree
    reports each worker's buffer occupancy and the semaphore queue
    (V2/Stat.java:58-124, filled at V2/DisruptorBatchProcessor.java:
    185-211); here each flush-pool thread is a worker, with its own
    flushed/retry/dlq counters plus a busy flag, and ``in_flight`` is
    the semaphore-occupancy gauge."""

    flushed_batches: int = 0
    flushed_items: int = 0
    failed_flushes: int = 0
    retries: int = 0
    dlq_batches: int = 0
    dlq_items: int = 0
    in_flight: int = 0
    # Semaphore QUEUE length (V2/Stat.java's semaphoreQueueLength):
    # callers blocked in submit_batch waiting for a flush permit.
    sem_waiters: int = 0
    workers: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def worker(self, name: str) -> dict:
        """Per-worker counter record (caller must hold _lock)."""
        return self.workers.setdefault(
            name,
            {
                "flushed_batches": 0,
                "flushed_items": 0,
                "failed_flushes": 0,
                "retries": 0,
                "dlq_batches": 0,
                "dlq_items": 0,
                "busy": False,
                # Buffer-occupancy gauge: items of the chunk this
                # worker is currently flushing (0 when idle) — the
                # per-worker analogue of V2/Stat.java's bufferSize.
                "current_items": 0,
            },
        )

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "flushed_batches": self.flushed_batches,
                "flushed_items": self.flushed_items,
                "failed_flushes": self.failed_flushes,
                "retries": self.retries,
                "dlq_batches": self.dlq_batches,
                "dlq_items": self.dlq_items,
                "in_flight": self.in_flight,
                "sem_waiters": self.sem_waiters,
                "workers": {k: dict(v) for k, v in self.workers.items()},
            }


Sink = Callable[[pd.DataFrame], None]


class FlowController:
    """Dispatches sink calls for micro-batch chunks under a global
    concurrency semaphore + rate limits, with bounded retry and a
    dead-letter parquet table.

    Driver-side by design: the reference is a client-side batching
    library whose sinks are remote calls (RPC/HTTP bulk APIs); the
    global semaphore is the point. For executor-side fan-out use
    ``foreach_batch_sink(..., distributed=True)`` (processor.py), which
    runs one controller per partition, all drawing their rates from
    one shared escrow.
    """

    def __init__(self, sink: Sink, config: FlowControlConfig, dlq_path: str | None = None):
        self.sink = sink
        self.config = config
        self.dlq_path = dlq_path
        # O17 sink lifecycle (AsyncProcessorManager.create/shutdown,
        # V1/AsyncProcessorManager.java:7-11; Flusher.Factory,
        # V2/Flusher.java:14-33): sinks exposing open()/close() get
        # lifecycle callbacks around the controller's lifetime.
        if hasattr(sink, "open"):
            sink.open()
        self.stats = FlowStats()
        self._sem = threading.Semaphore(config.concurrency)
        self._pool = ThreadPoolExecutor(max_workers=config.concurrency, thread_name_prefix="bp-flush")
        # The rate gate, chosen once: gate(n_flushes, n_items) sleeps
        # whatever the limiter says this flush owes. With an escrow
        # address, ONE shared limiter for the whole query (reference
        # semantics): a single round trip reserves the flush token and
        # the item tokens together.
        self._escrow = None
        if config.escrow_addr is not None and (config.tps > 0 or config.ips > 0):
            self._escrow = EscrowClient(config.escrow_addr, config.escrow_token)
            self._gate = self._escrow.acquire
        else:
            tps = TokenBucket(config.tps)
            ips = TokenBucket(config.ips, burst=max(config.ips, config.batch_size * 2.0))

            def gate(n_flushes: float, n_items: float) -> None:
                wait = max(tps.reserve(n_flushes), ips.reserve(n_items))
                # no sleep(0) per flush when unlimited or within burst
                if wait > 0:
                    time.sleep(wait)

            self._gate = gate
        self._dlq_lock = threading.Lock()
        self._dlq_seq = 0

    # -- submission ---------------------------------------------------

    def submit_batch(self, pdf: pd.DataFrame) -> list[Future]:
        """Split a micro-batch into ≤batch_size chunks and dispatch
        each through the semaphore/rate gate (O5 count trigger +
        O9 async dispatch)."""
        futures: list[Future] = []
        n = len(pdf)
        bs = self.config.batch_size
        for lo in range(0, n, bs):
            chunk = pdf.iloc[lo : lo + bs]
            # Acquire the permit on the CALLER thread (backpressure on
            # the micro-batch loop), release when the flush completes —
            # same shape as V1/InnerEventHandler.java:78-95. The
            # waiter count around the blocking acquire is the
            # semaphore-queue gauge of the reference Stat tree.
            with self.stats._lock:
                self.stats.sem_waiters += 1
            self._sem.acquire()
            with self.stats._lock:
                self.stats.sem_waiters -= 1
            fut = self._pool.submit(self._flush_with_retry, chunk)
            fut.add_done_callback(lambda _f: self._sem.release())
            futures.append(fut)
        return futures

    @staticmethod
    def wait(futures: list[Future]) -> None:
        for f in futures:
            f.result()

    # -- flush path ---------------------------------------------------

    def _flush_with_retry(self, chunk: pd.DataFrame) -> None:
        me = threading.current_thread().name
        with self.stats._lock:
            self.stats.in_flight += 1
            w = self.stats.worker(me)
            w["busy"] = True
            w["current_items"] = len(chunk)
        try:
            self._flush_with_retry0(chunk, me)
        finally:
            with self.stats._lock:
                self.stats.in_flight -= 1
                w = self.stats.worker(me)
                w["busy"] = False
                w["current_items"] = 0

    def _flush_with_retry0(self, chunk: pd.DataFrame, me: str) -> None:
        attempts = 0
        while True:
            self._gate(1.0, float(len(chunk)))
            try:
                self.sink(chunk)
            except Exception:
                with self.stats._lock:
                    self.stats.failed_flushes += 1
                    self.stats.worker(me)["failed_flushes"] += 1
                if attempts < self.config.max_retry_count:
                    attempts += 1
                    with self.stats._lock:
                        self.stats.retries += 1
                        self.stats.worker(me)["retries"] += 1
                    time.sleep(self.config.retry_delay_s * (2 ** (attempts - 1)))
                    continue
                self._to_dlq(chunk, me)
                return
            else:
                with self.stats._lock:
                    self.stats.flushed_batches += 1
                    self.stats.flushed_items += len(chunk)
                    w = self.stats.worker(me)
                    w["flushed_batches"] += 1
                    w["flushed_items"] += len(chunk)
                return

    def _to_dlq(self, chunk: pd.DataFrame, me: str | None = None) -> None:
        """Exhausted retries → append to the dead-letter parquet table
        (upgrade over the reference's log-and-drop)."""
        with self.stats._lock:
            self.stats.dlq_batches += 1
            self.stats.dlq_items += len(chunk)
            if me is not None:
                w = self.stats.worker(me)
                w["dlq_batches"] += 1
                w["dlq_items"] += len(chunk)
        if self.dlq_path:
            import os

            os.makedirs(self.dlq_path, exist_ok=True)
            with self._dlq_lock:
                self._dlq_seq += 1
                seq = self._dlq_seq
            chunk.to_parquet(f"{self.dlq_path}/dlq_{seq:08d}.parquet", index=False)

    def shutdown(self) -> None:
        self._pool.shutdown(wait=True)
        if self._escrow is not None:
            # drop the TCP connection promptly — per-epoch controllers
            # otherwise leave a socket + a driver-side handler thread
            # alive until GC
            self._escrow.close()
        if hasattr(self.sink, "close"):
            self.sink.close()
