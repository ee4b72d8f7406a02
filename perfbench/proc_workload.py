"""Processor workloads: ``BatchProcessor`` fed by one producer thread.

``burst`` is a closed loop: ``put_many()`` of 8,192-item chunks as fast
as the processor accepts them, against a sink that costs nothing and
only records. ``paced`` is an open loop: ``put()`` of one item at a time
on a fixed schedule, against a sink that sleeps 2 ms per call and
raises once on a seeded ~5% of calls. Both keep ``ProcessorConfig()``
defaults. Every item carries its id; its creation stamp (the chunk's
creation time, or the item's due time when paced) is kept here, and
latency is the sink's first successful receipt minus that stamp.
"""

from __future__ import annotations

import datetime
import math
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import arith
from perfbench.trace import ProgressRecorder, Tracer, group_jobs, job_stages, stage_totals

SCHEMA = "id bigint, created_s double, payload string"
CHUNK = 8192
PACED_RATE = 20_000          # items/s offered by the paced producer
PACED_SINK_COST_S = 0.002
PACED_FAIL_SHARE = 0.05
PAYLOADS = 4096
LANES = 2                    # measured processors per run, pooled by _e2e
WARM_SECONDS = 2.0           # load of the warm-up lane, which no metric includes


class SinkFault(RuntimeError):
    """The paced sink's injected, retryable failure."""


class RecordingSink:
    """Records each call's span, outcome and item ids. ``fail_share`` of
    calls, chosen by the seed and the first id of the chunk, raise the
    first time that chunk arrives and succeed on its retry."""

    def __init__(self, seed: int, cost_s: float = 0.0, fail_share: float = 0.0) -> None:
        self.seed, self.cost_s, self.fail_share = seed, cost_s, fail_share
        self.calls: list[tuple[float, float, bool, np.ndarray]] = []
        self._failed: set[int] = set()
        self._lock = threading.Lock()

    def _fails(self, key: int) -> bool:
        if not self.fail_share:
            return False
        with self._lock:
            if key in self._failed:
                return False
            if random.Random(self.seed * 1_000_003 + key).random() >= self.fail_share:
                return False
            self._failed.add(key)
            return True

    def __call__(self, pdf) -> None:
        start = time.time()
        ids = pdf["id"].to_numpy()
        if self._fails(int(ids[0])):
            self.calls.append((start, time.time(), False, ids))
            raise SinkFault(f"injected failure for chunk starting at id {ids[0]}")
        if self.cost_s:
            time.sleep(self.cost_s)
        self.calls.append((start, time.time(), True, ids))


def payloads(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 7])
    return [rng.bytes(int(n)).hex() for n in rng.integers(8, 33, PAYLOADS)]


def _burst(bp, pool, start_at: float, seconds: float, rec: dict) -> None:
    """Each ``put_many`` call is one entry of ``rec["puts"]``:
    ``[start, end, seconds inside the call, items]``."""
    n, created, puts = 0, [], []
    time.sleep(max(0.0, start_at - time.time()))
    end = start_at + seconds
    while time.time() < end:
        stamp = time.time()
        items = [(i, stamp, pool[i % PAYLOADS]) for i in range(n, n + CHUNK)]
        t0 = time.time()
        bp.put_many(items)
        t1 = time.time()
        puts.append([t0, t1, t1 - t0, CHUNK])
        created.append(stamp)
        n += CHUNK
    rec.update(n=n, created=np.repeat(np.asarray(created), CHUNK), puts=puts)


def _paced(bp, pool, start_at: float, seconds: float, rec: dict) -> None:
    """Puts every item whose due time has come; ``rec["puts"]`` has one
    entry per second of the schedule, like :func:`_burst`'s."""
    n = int(PACED_RATE * seconds)
    t0 = start_at
    due = t0 + np.arange(n) / PACED_RATE
    i, late, puts = 0, [], []
    while i < n:
        now = time.time()
        if now < due[i]:
            time.sleep(due[i] - now)
            continue
        upto = min(n, int((now - t0) * PACED_RATE) + 1)
        late.append(now - due[i])
        for k in range(i, upto):
            bp.put((k, float(due[k]), pool[k % PAYLOADS]))
        done = time.time()
        if not puts or now - puts[-1][0] >= 1.0:
            puts.append([now, done, 0.0, 0])
        puts[-1][1:] = [done, puts[-1][2] + done - now, puts[-1][3] + upto - i]
        i = upto
    rec.update(n=n, created=due, puts=puts, late=late)


def _e2e(lanes: list[dict]) -> dict:
    """End-to-end metrics over lanes: the median lane wall time (the load
    window, which is fixed, plus the drain in ``stop()``), items over
    summed wall time, and latency percentiles of all their items."""
    lat = [x for lane in lanes for x in lane["latencies"]]
    return {
        "suite_s": statistics.median(lane["wall_s"] for lane in lanes),
        "items_per_s": sum(lane["attempted"] for lane in lanes)
        / sum(lane["wall_s"] for lane in lanes),
        "latency_p50_s": arith.percentile(lat, 50),
        "latency_p99_s": arith.percentile(lat, 99),
    }


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _lane(spark, mode: str, seed: int, seconds: float, phase: float, traced: bool,
          workdir: str, cores: int, tracer: Tracer) -> dict:
    """One processor: ``start()``, load from ``phase`` seconds past a
    whole second of the wall clock for ``seconds``, ``stop()``, checks."""
    from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig

    paced = mode == "paced"
    sink = RecordingSink(seed, PACED_SINK_COST_S if paced else 0.0,
                         PACED_FAIL_SHARE if paced else 0.0)
    pool = payloads(seed)
    listener = None
    if traced:
        listener = ProgressRecorder()
        spark.streams.addListener(listener)
    bp = BatchProcessor(spark, SCHEMA, sink, ProcessorConfig(), workdir=workdir)
    try:
        t0 = time.time()
        bp.start()
        t1 = time.time()
        rec: dict = {}
        start_at = math.floor(t1) + 1 + phase
        prewarm: set[int] = set()
        if traced:
            # The jobs of the pre-warm trigger inside start(): the layer
            # numbers leave them out, like its progress event.
            time.sleep(max(0.0, start_at - 0.1 - time.time()))
            prewarm = set(group_jobs(spark, listener.run_ids[-1])) if listener.run_ids else set()
        with ThreadPoolExecutor(1, thread_name_prefix="perfbench-producer") as producer:
            producer.submit(_burst if not paced else _paced,
                            bp, pool, start_at, seconds, rec).result()
        t_stop = time.time()
        stat = bp.stop()
        t_end = time.time()
        dlq_rows = bp.dlq()
        dlq_rows = 0 if dlq_rows is None else dlq_rows.count()
        if listener is not None:
            listener.wait_terminated()
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
        bp.close()

    n = rec["n"]
    first = np.full(n, np.inf)
    for start, _, ok, ids in sink.calls:
        if ok:
            np.minimum.at(first, ids[(ids >= 0) & (ids < n)], start)
    lat = (first - rec["created"]).tolist()
    wall = t_end - rec["puts"][0][0]  # first put until stop() returned
    lost = int(np.count_nonzero(~np.isfinite(first)))
    checks = {
        "every_id_delivered": lost == 0,
        "dlq_empty": stat["dlq_items"] == 0 and dlq_rows == 0,
        "flushed_items_equal_put": stat["flushed_items"] == n,
    }
    out = {
        "start_s": t1 - t0,
        "align_wait_s": start_at - t1,
        "stop_s": t_end - t_stop,
        "attempted": n,
        "failed": lost,
        "checks": checks,
        "stat": {k: v for k, v in stat.items() if k != "workers"},
        "wall_s": wall,
        "latencies": lat,
    }
    out["e2e"] = _e2e([out])
    if paced:
        out["generator_late_s"] = {"max": max(rec["late"]),
                                   "p99": arith.percentile(rec["late"], 99)}
    if traced:
        out.update(_layers(spark, listener, sink, rec, stat, prewarm, t0, t1, t_stop, t_end,
                           wall, cores, tracer, mode))
    return out


def _layers(spark, listener, sink, rec, stat, prewarm, t0, t1, t_stop, t_end, wall, cores,
            tracer: Tracer, mode: str) -> dict:
    trace = f"{mode}-{listener.run_ids[-1] if listener.run_ids else 'run'}"
    root = tracer.add("processor.run", t0, t_end, trace)
    tracer.add("processor.start", t0, t1, trace, root)
    tracer.add("processor.stop", t_stop, t_end, trace, root)
    for s, e, busy, items in rec["puts"]:
        tracer.add("processor.put", s, e, trace, root, busy_s=busy, items=items)
    # Triggers of the load window only, for every figure below: the
    # pre-warm trigger inside start() ran before the first put
    # (timestamps are whole ms).
    first_put = rec["puts"][0][0]
    progress = [p for p in listener.progress if _epoch(p["timestamp"]) >= first_put - 0.001]
    batches, windows = [], []
    for p in progress:
        start = _epoch(p["timestamp"])
        dur = p["durationMs"]
        bid = tracer.add("stream.batch", start, start + dur.get("triggerExecution", 0) / 1000,
                         trace, root, batchId=p["batchId"], rows=p["numInputRows"])
        for name, s, e in arith.phase_layout(start, dur):
            tracer.add(f"stream.{name}", s, e, trace, bid)
            if name == "addBatch":
                windows.append((s, e))
        batches.append((bid, start, start + dur.get("triggerExecution", 0) / 1000))
    sink_spans = [(s, e) for s, e, _, _ in sink.calls]
    for (s, e, ok, ids) in sink.calls:
        parent = next((b for b, bs, be in batches if bs <= s <= be), root)
        tracer.add("flow.sink", s, e, trace, parent, ok=ok, items=len(ids))
    phase_ms = {name: sum(p["durationMs"].get(name, 0) for p in progress)
                for name in arith.PHASES}
    trigger_ms = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    # The stream's jobs run in the job group Spark names after the
    # query's run id.
    jobs = ([j for j in group_jobs(spark, listener.run_ids[-1]) if j not in prewarm]
            if listener.run_ids else [])
    stages = stage_totals(spark, job_stages(spark, jobs))
    execute_s = sum(trigger_ms) / 1000
    layers = {
        "processor.put_s": sum(busy for _, _, busy, _ in rec["puts"]),
        "processor.spool_files": stat["spool_files"],
        "processor.start_s": t1 - t0,
        "processor.stop_s": t_end - t_stop,
        "stream.batches": len(progress),
        "stream.rows_per_batch": (sum(p["numInputRows"] for p in progress) / len(progress)
                                  if progress else 0.0),
        "stream.trigger_ms": sum(trigger_ms),
        **{f"stream.{name}_ms": ms for name, ms in phase_ms.items()},
        "stream.trigger_wait_s": arith.trigger_wait(wall, trigger_ms),
        "flow.sink_calls": len(sink.calls),
        "flow.sink_s": sum(e - s for s, e in sink_spans),
        "flow.max_in_flight": arith.max_overlap(sink_spans),
        "flow.retries": stat["retries"],
        "flow.dlq_items": stat["dlq_items"],
        "flow.dispatch_s": phase_ms["addBatch"] / 1000 - arith.covered(sink_spans, windows),
        "spark.execute_s": execute_s,
        "spark.jobs": len(jobs),
        **{f"spark.{k}": v for k, v in stages.items()},
        "spark.busy_ratio": stages["task_run_s"] / (execute_s * cores) if execute_s else 0.0,
    }
    per_batch = [{"batchId": p["batchId"], "rows": p["numInputRows"],
                  "durationMs": p["durationMs"]} for p in progress]
    return {"layers": layers, "per_batch": per_batch}


def run(spark, mode: str, seed: int, seconds: float, traced: bool, workdir: str,
        cores: int, tracer: Tracer, session_s: float) -> dict:
    """A warm-up lane, then ``LANES`` lanes of ``seconds / LANES`` each,
    every lane a fresh processor in the same session; the end-to-end
    metrics pool the measured lanes (:func:`_e2e`). ``setup_s`` is the
    session's set-up plus the median ``start()`` over every lane. Traced,
    each measured lane has a traced twin, run after it on even lanes and
    before it on odd ones; the layer numbers are medians over the traced
    lanes."""
    warm = _lane(spark, mode, seed, WARM_SECONDS, 0.5, False, f"{workdir}/warm", cores, tracer)
    # The stream triggers on whole seconds of the wall clock, so a lane's
    # latency depends on where in the second its load starts: measured
    # lane k starts at (k + 0.5) / LANES, spreading the lanes evenly.
    pair = ((False, True), (True, False)) if traced else ((False,), (False,))
    plan = [(k, t) for k in range(LANES) for t in pair[k % 2]]
    lanes = [_lane(spark, mode, seed, seconds / LANES, (k + 0.5) / LANES, t,
                   f"{workdir}/lane{i}", cores, tracer) for i, (k, t) in enumerate(plan)]
    plan = [t for _, t in plan]
    plain = [lane for lane, t in zip(lanes, plan) if not t]
    every = [warm, *lanes]
    out = {
        "setup_s": session_s + statistics.median(lane["start_s"] for lane in every),
        "attempted": sum(lane["attempted"] for lane in every),
        "failed": sum(lane["failed"] for lane in every),
        "checks": {k: all(lane["checks"][k] for lane in every) for k in warm["checks"]},
        "latency_samples": sum(lane["attempted"] for lane in plain),
        "e2e": _e2e(plain),
        "lanes": [{k: v for k, v in lane.items() if k not in ("layers", "per_batch", "latencies")}
                  | {"lane": name} for lane, name in
                  zip(every, ["warm-up"] + ["traced" if t else "measured" for t in plan])],
    }
    if traced:
        marked = [lane for lane, t in zip(lanes, plan) if t]
        out["layers"] = {k: statistics.median(lane["layers"][k] for lane in marked)
                         for k in marked[0]["layers"]}
        out["per_batch"] = [lane["per_batch"] for lane in marked]
        key, higher = ("items_per_s", True) if mode == "burst" else ("latency_p50_s", False)
        a = out["e2e"][key]
        b = _e2e(marked)[key]
        out["trace_overhead"] = {"metric": key, "untraced": a, "traced": b,
                                 "pct": 100 * ((a - b) / a if higher else (b - a) / a)}
    return out
