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


# Sustained ceiling of ONE TokenEscrowServer in aggregate flushes/sec
# (scripts/escrow_bench.py; numbers and hosts in SCALE.md). A flush
# makes two round trips, a take and a give; a 4-vCPU host sustained
# 11.5k-14.1k flushes/sec at 8-16 clients, so this figure is a
# conservative floor. foreach_batch_sink warns past half of it and
# points at a larger batch_size (fewer flushes).
ESCROW_CEILING_FLUSHES_PER_SEC = 7000.0


class TokenEscrowServer:
    """Driver-side shared flow-control budget: the reference's one
    process-global semaphore and MixedLimiter (V1/MixedLimiter.java:
    16-43, :30-33) as a tiny line-oriented TCP service, so every
    executor partition draws from ONE pool of ``concurrency`` permits,
    ONE tps bucket and ONE ips bucket.

    A flush takes a permit and reserves its rate tokens in one round
    trip (the reply is the sleep it owes, Guava reserve semantics), and
    gives the permit back when it ends. A take blocks until a permit is
    free, so clients send takes on their own connection and gives and
    retry reservations on another, which never blocks: a release is
    never queued behind a blocked take. When a take connection closes,
    the permits it took come back, so a lost task cannot strand the
    cap. Idle permits and budget go to the next requester: no shares,
    no epochs, no re-grants."""

    def __init__(
        self,
        tps: float,
        ips: float,
        tps_burst: float = 1.0,
        ips_burst: float | None = None,
        bind_host: str | None = None,
        replies_cap: int = 65536,
        concurrency: int = 16,
    ):
        import socket
        import uuid

        self._tps = TokenBucket(tps, burst=tps_burst)
        self._ips = TokenBucket(ips, burst=float(ips_burst or 0.0))
        self._permits = threading.Semaphore(concurrency)
        self._held: dict[str, int] = {}  # client id -> permits it holds
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
        # Idempotency cache for gives and reservations, client_id ->
        # (seq, wait): a client resends the SAME seq after a
        # write-succeeded/read-failed exchange, and the cached reply is
        # replayed, so a flaky connection never double-deducts budget
        # or double-releases a permit. The client serializes these
        # requests, so caching only the latest is exact. LRU-bounded
        # (every epoch's clients have new ids): the cache only has to
        # survive one retry window, and it must outlive the disconnect
        # the client resets before resending.
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

    def _give(self, cid: str) -> float:
        """Return one of ``cid``'s permits; a give owes no wait."""
        with self._lock:
            held = self._held.get(cid, 0)
            if held:
                self._held[cid] = held - 1
        if held:  # a give after its take connection closed frees nothing
            self._permits.release()
        return 0.0

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
        taker = None  # the client whose take connection this is
        try:
            rf = conn.makefile("rwb")
            while True:
                line = rf.readline()
                if not line:
                    return
                token, op, cid, seq_s, f, i = line.decode().split()
                if token != self.token:
                    return  # unauthenticated peer — drop silently
                if op == "take":
                    self._permits.acquire()
                    taker = cid
                    with self._lock:
                        self._held[cid] = self._held.get(cid, 0) + 1
                    wait = self.reserve(float(f), float(i))
                else:
                    seq = int(seq_s)
                    with self._lock:
                        cached = self._replies.get(cid)
                        if cached is not None:
                            self._replies.move_to_end(cid)
                    if cached is not None and cached[0] == seq:
                        wait = cached[1]  # retry replay — no re-apply
                    else:
                        wait = (
                            self._give(cid) if op == "give"
                            else self.reserve(float(f), float(i))
                        )
                        with self._lock:
                            self._replies[cid] = (seq, wait)
                            self._replies.move_to_end(cid)
                            while len(self._replies) > self._replies_cap:
                                self._replies.popitem(last=False)
                rf.write(f"{wait:.6f}\n".encode())
                rf.flush()
        except (OSError, ValueError):
            pass
        finally:
            if taker is not None:
                with self._lock:
                    n = self._held.pop(taker, 0)
                if n:
                    self._permits.release(n)
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
    """Executor-side client for TokenEscrowServer, one per controller:
    a take connection, used only by the dispatching thread, and a give
    connection for releases and retry reservations. A failed take is
    not retried (the server may already have freed this client's
    permits with the broken connection); gives and reservations retry
    under one seq, which the server replays instead of re-applying.
    Either way the client fails CLOSED with ``ConnectionError`` —
    falling back to local limits would break the aggregate caps."""

    def __init__(self, addr: tuple[str, int], token: str = ""):
        import itertools
        import uuid

        self._addr = tuple(addr)
        self._token = token
        self._cid = uuid.uuid4().hex
        self._seq = itertools.count(1)
        self._conns: dict[str, tuple] = {}
        self._locks = {"take": threading.Lock(), "give": threading.Lock()}

    def take(self, n_items: float) -> float:
        """Block until a permit is free and reserve one flush of
        ``n_items``; returns the seconds the flush owes."""
        return self._call("take", 1.0, n_items)

    def give(self) -> None:
        self._call("give", 0.0, 0.0)

    def reserve(self, n_flushes: float, n_items: float) -> float:
        """Rate tokens only (a retry); returns the seconds owed."""
        return self._call("reserve", n_flushes, n_items)

    def _call(self, op: str, n_flushes: float, n_items: float) -> float:
        import socket

        line = "take" if op == "take" else "give"
        seq = next(self._seq)
        msg = f"{self._token} {op} {self._cid} {seq} {n_flushes} {n_items}\n".encode()
        tries = 1 if op == "take" else 5
        with self._locks[line]:
            for attempt in range(tries):
                try:
                    if line not in self._conns:
                        sock = socket.create_connection(self._addr, timeout=30)
                        if line == "take":  # waits while sinks hold every permit
                            sock.settimeout(None)
                        self._conns[line] = (sock, sock.makefile("rwb"))
                    rf = self._conns[line][1]
                    rf.write(msg)
                    rf.flush()
                    reply = rf.readline()
                    if not reply:
                        raise ConnectionError("escrow server closed")
                    return float(reply)
                except (OSError, ValueError) as e:
                    err = e
                    self._reset(line)
                    if attempt + 1 < tries:
                        time.sleep(0.2 * (attempt + 1))
        raise ConnectionError(f"token escrow unreachable at {self._addr}: {err}")

    def _reset(self, line: str) -> None:
        for f in self._conns.pop(line, ()):
            try:
                f.close()
            except OSError:
                pass

    def close(self) -> None:
        for line, lock in self._locks.items():
            with lock:
                self._reset(line)


# The counters each worker keeps; the controller's totals are their sums.
_COUNTERS = (
    "flushed_batches", "flushed_items", "failed_flushes",
    "retries", "dlq_batches", "dlq_items",
)


@dataclass
class FlowStats:
    """Observable counters (Stat analogue, V2/Stat.java:11-136).

    Kept per worker, as the reference's Stat tree keeps each worker's
    record and derives its totals from them (V2/Stat.java:58-124,
    filled at V2/DisruptorBatchProcessor.java:185-211): each flush-pool
    thread is a worker with its own flushed/retry/dlq counters, a busy
    flag and the size of the chunk it is flushing. ``snapshot()`` sums
    the counters, and its ``in_flight`` (the semaphore-occupancy gauge)
    is the number of busy workers, since a pool thread runs one flush
    at a time."""

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
                **dict.fromkeys(_COUNTERS, 0),
                "busy": False,
                # Buffer-occupancy gauge: items of the chunk this
                # worker is currently flushing (0 when idle) — the
                # per-worker analogue of V2/Stat.java's bufferSize.
                "current_items": 0,
            },
        )

    def snapshot(self) -> dict:
        with self._lock:
            workers = {k: dict(v) for k, v in self.workers.items()}
            sem_waiters = self.sem_waiters
        return {
            **{c: sum(w[c] for w in workers.values()) for c in _COUNTERS},
            "in_flight": sum(w["busy"] for w in workers.values()),
            "sem_waiters": sem_waiters,
            "workers": workers,
        }


Sink = Callable[[pd.DataFrame], None]


class FlowController:
    """Dispatches sink calls for micro-batch chunks under a global
    concurrency cap + rate limits, with bounded retry and a dead-letter
    parquet table.

    Driver-side by design: the reference is a client-side batching
    library whose sinks are remote calls (RPC/HTTP bulk APIs); the
    global semaphore is the point. For executor-side fan-out use
    ``foreach_batch_sink(..., distributed=True)`` (processor.py), which
    runs one controller per partition, all drawing their permits and
    rates from one shared escrow.
    """

    def __init__(
        self,
        sink: Sink,
        config: FlowControlConfig,
        dlq_path: str | None = None,
        escrow: tuple[tuple[str, int], str] | None = None,
    ):
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
        self._pool = ThreadPoolExecutor(max_workers=config.concurrency, thread_name_prefix="bp-flush")
        # The permit and rate source, chosen once: take(n_items) blocks
        # for a permit and reserves the flush's rate tokens, returning
        # the seconds the flush owes; give() returns the permit;
        # reserve(n_flushes, n_items) re-reserves for a retry. With an
        # escrow, ((host, port), token) of a driver-side
        # TokenEscrowServer, ONE budget serves the whole query instead
        # of a local semaphore and buckets — the reference's
        # process-global semaphore and MixedLimiter
        # (V1/MixedLimiter.java:16-43) across executors.
        self._escrow = None
        if escrow is not None:
            self._escrow = EscrowClient(*escrow)
            self._take, self._give, self._reserve = (
                self._escrow.take, self._escrow.give, self._escrow.reserve
            )
        else:
            sem = threading.Semaphore(config.concurrency)
            tps = TokenBucket(config.tps)
            ips = TokenBucket(config.ips, burst=max(config.ips, config.batch_size * 2.0))

            def reserve(n_flushes: float, n_items: float) -> float:
                return max(tps.reserve(n_flushes), ips.reserve(n_items))

            def take(n_items: float) -> float:
                sem.acquire()
                return reserve(1.0, n_items)

            self._take, self._give, self._reserve = take, sem.release, reserve
        self._dlq_lock = threading.Lock()
        self._dlq_seq = 0

    # -- submission ---------------------------------------------------

    def submit_batch(self, pdf: pd.DataFrame) -> list[Future]:
        """Split a micro-batch into ≤batch_size chunks and dispatch
        each through the permit/rate gate (O5 count trigger + O9 async
        dispatch)."""
        futures: list[Future] = []
        n = len(pdf)
        bs = self.config.batch_size
        for lo in range(0, n, bs):
            chunk = pdf.iloc[lo : lo + bs]
            # Take the permit on the CALLER thread (backpressure on
            # the micro-batch loop), give it back when the flush
            # completes — same shape as V1/InnerEventHandler.java:78-95.
            # The waiter count around the blocking take is the
            # semaphore-queue gauge of the reference Stat tree.
            with self.stats._lock:
                self.stats.sem_waiters += 1
            try:
                wait = self._take(float(len(chunk)))
            finally:
                with self.stats._lock:
                    self.stats.sem_waiters -= 1
            futures.append(self._pool.submit(self._flush, chunk, wait))
        return futures

    @staticmethod
    def wait(futures: list[Future]) -> None:
        for f in futures:
            f.result()

    # -- flush path ---------------------------------------------------

    def _flush(self, chunk: pd.DataFrame, wait: float) -> None:
        """Deliver one chunk on a pool thread: sleep the wait it owes,
        call the sink, retry with doubling backoff (re-reserving rate
        tokens) and dead-letter it once retries run out. Counts on this
        worker's record and gives the chunk's permit back."""
        n = len(chunk)
        with self.stats._lock:
            w = self.stats.worker(threading.current_thread().name)
            w["busy"], w["current_items"] = True, n
        outcome = None  # counted as flushed_* or dlq_* when set
        try:
            for attempt in range(self.config.max_retry_count + 1):
                if attempt:
                    time.sleep(self.config.retry_delay_s * (2 ** (attempt - 1)))
                    wait = self._reserve(1.0, float(n))
                # no sleep(0) per flush when unlimited or within burst
                if wait > 0:
                    time.sleep(wait)
                try:
                    self.sink(chunk)
                except Exception:
                    with self.stats._lock:
                        w["failed_flushes"] += 1
                        if attempt < self.config.max_retry_count:
                            w["retries"] += 1
                    continue
                outcome = "flushed"
                break
            else:
                outcome = "dlq"
                self._to_dlq(chunk)
        finally:
            with self.stats._lock:
                if outcome is not None:
                    w[f"{outcome}_batches"] += 1
                    w[f"{outcome}_items"] += n
                w["busy"], w["current_items"] = False, 0
            self._give()

    def _to_dlq(self, chunk: pd.DataFrame) -> None:
        """Exhausted retries → append to the dead-letter parquet table
        (upgrade over the reference's log-and-drop)."""
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
            # drop the TCP connections promptly — per-epoch controllers
            # otherwise leave sockets + driver-side handler threads
            # alive until GC
            self._escrow.close()
        if hasattr(self.sink, "close"):
            self.sink.close()
