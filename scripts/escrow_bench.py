"""Measure the TokenEscrowServer ceiling in flushes per second.

The escrow is one accept loop plus one thread and one lock per
connection. This bench measures its capacity: N client PROCESSES (the
same topology as N executor partitions mid-epoch — separate processes,
so the client-side GIL doesn't pollute the server-capacity number),
each with its own EscrowClient, drive the two round trips a flush
makes, take(batch items) then give(), over loopback for a fixed
window. The rates are set astronomically high and the permits equal
the client count, so no sleep is owed and no take waits for a permit:
the measurement isolates RPC + lock cost, which is the ceiling; the
token math runs either way.

Usage:
    python -m scripts.escrow_bench [--procs 4 8 16] [--seconds 4]

Output: one JSON line per process count. SCALE.md records the numbers
and the host; batchprocessor_spark.streaming.flow pins the sustained
figure as ESCROW_CEILING_FLUSHES_PER_SEC, and foreach_batch_sink warns
when a configured rate implies a flush rate past half of it (the safe
region), pointing at a larger batch_size (fewer flushes).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _worker(port: int, token: str, seconds: float, q) -> None:
    from batchprocessor_spark.streaming.flow import EscrowClient

    client = EscrowClient(("127.0.0.1", port), token)
    n = 0
    lats = []
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end:
        t0 = time.perf_counter()
        client.take(1024.0)
        client.give()
        lats.append(time.perf_counter() - t0)
        n += 1
    client.close()
    lats.sort()
    q.put(
        (
            n,
            lats[len(lats) // 2] if lats else 0.0,
            lats[int(0.99 * (len(lats) - 1))] if lats else 0.0,
        )
    )


def main() -> int:
    from batchprocessor_spark.streaming.flow import TokenEscrowServer

    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, nargs="*", default=[4, 8, 16])
    ap.add_argument("--seconds", type=float, default=4.0)
    args = ap.parse_args()

    for nproc in args.procs:
        server = TokenEscrowServer(
            tps=1e12, ips=1e12, tps_burst=1e12, ips_burst=1e12,
            bind_host="127.0.0.1", concurrency=nproc,
        )
        q: mp.Queue = mp.Queue()
        ps = [
            mp.Process(
                target=_worker,
                args=(server.port, server.token, args.seconds, q),
            )
            for _ in range(nproc)
        ]
        for p in ps:
            p.start()
        res = [q.get() for _ in ps]
        for p in ps:
            p.join()
        server.close()
        total = sum(r[0] for r in res)
        print(
            json.dumps(
                {
                    "metric": "escrow_flushes_per_sec",
                    "value": round(total / args.seconds, 1),
                    "unit": "flushes/sec",
                    "client_processes": nproc,
                    "seconds": args.seconds,
                    "total_flushes": total,
                    "latency_p50_us_mean": round(
                        1e6 * sum(r[1] for r in res) / nproc, 1
                    ),
                    "latency_p99_us_max": round(
                        1e6 * max(r[2] for r in res), 1
                    ),
                }
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
