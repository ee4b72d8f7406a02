"""Flow control without a Spark session: the token bucket, the local
rate gate, the escrow server/client pair (its rate buckets and its
permits) and the escrow lifecycle of
``foreach_batch_sink(distributed=True)``. Fast lane; the Spark-driven
distributed tests are in test_distributed_flow.py."""

from __future__ import annotations

import time

import pandas as pd

from batchprocessor_spark.streaming.flow import (
    FlowControlConfig,
    FlowController,
    TokenBucket,
    TokenEscrowServer,
)
from batchprocessor_spark.streaming.processor import foreach_batch_sink


def test_token_bucket_reserve_goes_negative():
    """Guava reserve semantics: the balance may go negative and each
    caller owes its own deficit, so a reservation larger than the
    burst is a finite wait."""
    b = TokenBucket(10.0, burst=1.0)
    first, second, third = b.reserve(1), b.reserve(1), b.reserve(5)
    assert first == 0.0
    assert abs(second - 0.1) < 0.02, second
    assert abs(third - 0.6) < 0.02, third
    assert TokenBucket(0.0).reserve(10**9) == 0.0  # rate <= 0: unlimited


def test_flush_larger_than_ips_burst_completes():
    """A 100-item flush against a 10-item ips burst must pay about
    0.3 s for 300 items at 1000/s and return. A bucket that waits for
    the whole chunk to fit under its burst never delivers the first
    flush, and shutdown() then blocks on the stuck flush thread. The
    escrow is the one limiter whose burst can be set below a flush."""
    srv = TokenEscrowServer(tps=0.0, ips=1000.0, ips_burst=10.0, concurrency=4)
    done = []
    try:
        ctrl = FlowController(
            lambda chunk: done.append(len(chunk)),
            FlowControlConfig(batch_size=100, concurrency=4, ips=1000.0),
            escrow=(("127.0.0.1", srv.port), srv.token),
        )
        t0 = time.perf_counter()
        for f in ctrl.submit_batch(pd.DataFrame({"id": range(300)})):
            f.result(timeout=5.0)  # fail instead of waiting on a stuck flush
        dt = time.perf_counter() - t0
        ctrl.shutdown()
    finally:
        srv.close()
    assert sum(done) == 300
    assert 0.25 <= dt < 5.0, dt


def test_token_escrow_reserve_semantics():
    """Pure-python pin of the escrow server/client pair (no Spark):
    Guava-style reservations — balances go negative, each caller
    sleeps its own deficit — so N items through the shared bucket
    take ≥ (N − burst)/rate regardless of who asks, and a second
    client is throttled by the FIRST client's reservations (one
    limiter, reference V1/MixedLimiter.java:16-43 semantics)."""
    import time

    from batchprocessor_spark.streaming.flow import (
        EscrowClient,
        TokenEscrowServer,
    )

    srv = TokenEscrowServer(tps=0.0, ips=100.0, tps_burst=1.0, ips_burst=10.0)
    try:
        # unauthenticated peers are dropped (the bucket is a shared
        # resource on an open port)
        import pytest as _pytest

        rogue = EscrowClient(("127.0.0.1", srv.port), token="wrong")
        with _pytest.raises(ConnectionError):
            rogue.reserve(1, 1)
        assert srv.reservations == 0

        a = EscrowClient(("127.0.0.1", srv.port), srv.token)
        b = EscrowClient(("127.0.0.1", srv.port), srv.token)
        t0 = time.perf_counter()
        time.sleep(a.reserve(1, 10))   # burst covers it — free
        time.sleep(a.reserve(1, 50))
        time.sleep(b.reserve(1, 50))   # second CLIENT pays for a's reservation too
        dt = time.perf_counter() - t0
        # 110 items, 10 free, 100/s -> >= ~1.0 s even split across
        # two clients; the self-paid deficit makes it <= ~2 s.
        assert dt >= 0.9, dt
        assert dt <= 3.0, dt
        assert srv.reservations == 3
    finally:
        srv.close()


def test_escrow_take_blocks_at_cap_until_give():
    """The escrow's permits are the one concurrency cap. With every
    permit taken, a take blocks at the server; a give on the holder's
    give line (never queued behind the blocked take) lets it through."""
    import threading

    from batchprocessor_spark.streaming.flow import EscrowClient

    srv = TokenEscrowServer(tps=0.0, ips=0.0, concurrency=2)
    try:
        a = EscrowClient(("127.0.0.1", srv.port), srv.token)
        assert a.take(1) == 0.0 and a.take(1) == 0.0
        third = threading.Event()
        threading.Thread(
            target=lambda: (a.take(1), third.set()), daemon=True
        ).start()
        assert not third.wait(0.5), "a take passed the cap"
        threading.Thread(target=a.give, daemon=True).start()
        assert third.wait(5.0), "the give did not free a permit"
        a.give()
        a.give()
        a.close()
    finally:
        srv.close()


def test_escrow_frees_permits_of_closed_client():
    """A client that closes without giving its permits back (a killed
    task, a lost executor) does not strand the cap: the server frees
    them when the client's take connection closes."""
    import threading

    from batchprocessor_spark.streaming.flow import EscrowClient

    srv = TokenEscrowServer(tps=0.0, ips=0.0, concurrency=2)
    try:
        lost = EscrowClient(("127.0.0.1", srv.port), srv.token)
        lost.take(1)
        lost.take(1)
        other = EscrowClient(("127.0.0.1", srv.port), srv.token)
        both = threading.Event()
        threading.Thread(
            target=lambda: (other.take(1), other.take(1), both.set()),
            daemon=True,
        ).start()
        assert not both.wait(0.5), "a take passed the cap"
        lost.close()
        assert both.wait(5.0), "the closed client's permits stayed taken"
        other.close()
    finally:
        srv.close()


def test_escrow_permits_hold_under_concurrent_clients():
    """Stress: 16 clients (more than cores) take and give 4 permits
    200 times in all, with a short thread switch interval. No more
    than 4 are ever held at once, and all 4 are free afterwards."""
    import sys
    import threading

    from batchprocessor_spark.streaming.flow import EscrowClient

    srv = TokenEscrowServer(tps=0.0, ips=0.0, concurrency=4)
    lock = threading.Lock()
    held = {"now": 0, "peak": 0}

    def worker():
        c = EscrowClient(("127.0.0.1", srv.port), srv.token)
        for _ in range(200 // 16 + 1):
            c.take(1)
            with lock:
                held["now"] += 1
                held["peak"] = max(held["peak"], held["now"])
            time.sleep(0.001)
            with lock:
                held["now"] -= 1
            c.give()
        c.close()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, daemon=True) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30.0)
        assert not any(t.is_alive() for t in threads), "a client hung"
        assert 1 <= held["peak"] <= 4, held
        last = EscrowClient(("127.0.0.1", srv.port), srv.token)
        done = threading.Event()
        threading.Thread(
            target=lambda: ([last.take(1) for _ in range(4)], done.set()),
            daemon=True,
        ).start()
        assert done.wait(5.0), "permits were lost"
        last.close()
    finally:
        sys.setswitchinterval(interval)
        srv.close()


def test_escrow_reply_cache_bounded_across_epochs():
    """Soak-shaped: every micro-batch builds fresh
    EscrowClients with new uuids, so an unbounded idempotency cache
    gains one entry per (partition × epoch) for the life of a
    long-running streaming query (~17M entries/day at 200 partitions
    × 1 s epochs). The cache is now LRU-bounded: drive many epochs ×
    partitions through ONE server and assert the dict never exceeds
    its cap while every reservation is still served."""
    from batchprocessor_spark.streaming.flow import (
        EscrowClient,
        TokenEscrowServer,
    )

    srv = TokenEscrowServer(
        tps=1e9, ips=1e9, tps_burst=1e9, ips_burst=1e9, replies_cap=32
    )
    try:
        epochs, partitions = 100, 4
        for _ in range(epochs):
            clients = [
                EscrowClient(("127.0.0.1", srv.port), srv.token)
                for _ in range(partitions)
            ]
            for c in clients:
                c.reserve(1.0, 50.0)
            for c in clients:
                c.close()
            assert len(srv._replies) <= 32
        assert srv.reservations == epochs * partitions
        assert len(srv._replies) <= 32
    finally:
        srv.close()


def test_escrow_replay_with_bounded_cache():
    """A resent (cid, seq) — the write-succeeded/read-failed retry —
    must replay the cached grant instead of double-deducting, and the
    LRU bound must not evict the entry within a normal retry window
    (eviction needs >cap OTHER reservations in between)."""
    import socket

    from batchprocessor_spark.streaming.flow import TokenEscrowServer

    srv = TokenEscrowServer(tps=0.0, ips=10.0, tps_burst=1.0, ips_burst=5.0)
    try:
        conn = socket.create_connection(("127.0.0.1", srv.port))
        rf = conn.makefile("rwb")
        msg = f"{srv.token} reserve clientA 1 1.0 30.0\n".encode()
        rf.write(msg)
        rf.flush()
        first = float(rf.readline())
        # replay the SAME seq on a NEW connection (the client resets
        # its socket before retrying)
        conn2 = socket.create_connection(("127.0.0.1", srv.port))
        rf2 = conn2.makefile("rwb")
        rf2.write(msg)
        rf2.flush()
        second = float(rf2.readline())
        assert srv.reservations == 1  # no re-reserve
        assert second == first  # identical cached grant
        conn.close()
        conn2.close()
    finally:
        srv.close()


def test_escrow_warns_past_measured_ceiling():
    """The escrow's reservation ceiling is MEASURED
    (scripts/escrow_bench.py, SCALE.md); configuring a rate whose
    implied request rate exceeds half of it warns and points at a
    larger batch_size. Low rates stay silent."""
    import warnings

    import pytest

    def sink(chunk):
        pass

    with pytest.warns(RuntimeWarning, match="escrow"):
        foreach_batch_sink(
            sink, FlowControlConfig(tps=5000.0), distributed=True
        )
    # ips-implied request rate: ips / batch_size
    with pytest.warns(RuntimeWarning, match="reservations/sec"):
        foreach_batch_sink(
            sink,
            FlowControlConfig(ips=8_000_000.0, batch_size=1024),
            distributed=True,
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        foreach_batch_sink(
            sink, FlowControlConfig(tps=100.0), distributed=True
        )
        # tps binds before the huge implied-ips rate: no warning
        foreach_batch_sink(
            sink,
            FlowControlConfig(tps=100.0, ips=8_000_000.0, batch_size=1024),
            distributed=True,
        )


def test_escrow_server_closed_when_handle_dropped():
    """A user who drops the handle without close()
    previously leaked the server socket + accept thread for the
    process lifetime. A weakref finalizer now closes the server when
    the handle is garbage-collected (close() remains the contract)."""
    import gc

    from batchprocessor_spark.streaming.processor import _ensure_escrow

    def handle(df, epoch_id):
        pass

    handle.escrow_server = None
    handle.escrow_addr = None

    class _NoSpark:
        @property
        def sparkContext(self):
            raise RuntimeError("no session")

    addr, token = _ensure_escrow(
        handle, FlowControlConfig(tps=10.0), _NoSpark()
    )
    srv = handle.escrow_server
    assert addr is not None and token == srv.token
    assert not srv._closed
    del handle
    gc.collect()
    assert srv._closed
