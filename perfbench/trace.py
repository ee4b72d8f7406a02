"""Spans and Spark-side counters, recorded from outside the program.

Spans are kept in memory and written once when the run ends. Spark
counters come from two public surfaces: ``statusTracker`` (the job ids
of a job group) and a ``StreamingQueryListener`` this module registers
itself. Per-stage run time, CPU, GC, shuffle and spill come from the
driver's stage status store, which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import json
import threading
import time
import uuid

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import arith


class Tracer:
    """In-memory span list. Each span has a name, start, end (epoch
    seconds), the id of its parent span and the trace it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, trace: str,
            parent: str | None = None, **attrs) -> str:
        sid = uuid.uuid4().hex[:12]
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "trace": trace, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        part of it its children cover."""
        children: dict[str, list] = {}
        for sp in self.spans:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        out: dict[str, float] = {}
        for sp in self.spans:
            own = arith.self_time((sp["start"], sp["end"]), children.get(sp["id"], []))
            out[sp["name"]] = out.get(sp["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# Stage-store fields summed into the spark.* layer metrics.
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_stages(spark, job_ids) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    stages: list[int] = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.extend(info.stageIds)
    return stages


def stage_totals(spark, stage_ids) -> dict:
    """Sum the stage store's metrics over the stages that ran. A stage
    Spark skipped (its shuffle output was reused) has no attempt and
    adds nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["stages"] = out["tasks"] = 0
    for sid in set(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j raises NoSuchElementException for skipped stages
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        for key, (field, scale) in STAGE_FIELDS.items():
            out[key] += getattr(st, field)() * scale
    return out


class ProgressRecorder(StreamingQueryListener):
    """Keeps every progress event of the streaming queries it sees."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()

    def wait_terminated(self, timeout_s: float = 10.0) -> bool:
        """Listener events arrive asynchronously; wait for the last one."""
        ok = self.terminated.wait(timeout_s)
        time.sleep(0.2)  # progress of the final trigger precedes termination
        return ok
