#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result line.

    python3 perfbench/run.py --workload query_sf0.001 --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything the run writes stays under
``.perfbench/`` there: generated inputs, Spark's scratch space, the run
record ``.perfbench/out/<workload>-seed<N>-trace<T>.json`` and, when
traced, the span file next to it. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics traced). The
exit code is 0 only when every output check passed. README.md in this
directory describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "query_sf0.1": ("query", 0.1),
    "query_sf0.001": ("query", 0.001),
    "proc_burst": ("burst", None),
    "proc_paced": ("paced", None),
}
E2E = {"setup_s": "s", "suite_s": "s", "items_per_s": "1/s", "latency_p50_s": "s",
       "latency_p99_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_ratio": "ratio", "_pct": "%"}
# Every per-layer metric, reported by every traced run; a layer the
# workload does not exercise reads 0.
LAYERS = (
    "registry.build_s", "registry.build_jobs",
    "spark.execute_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.busy_ratio",
    "processor.put_s", "processor.spool_files", "processor.start_s", "processor.stop_s",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_ms", "stream.latestOffset_ms",
    "stream.walCommit_ms", "stream.getBatch_ms", "stream.queryPlanning_ms",
    "stream.addBatch_ms", "stream.commitOffsets_ms", "stream.trigger_wait_s",
    "flow.sink_calls", "flow.sink_s", "flow.max_in_flight", "flow.retries", "flow.dlq_items",
    "flow.dispatch_s",
    "trace.overhead_pct",
)
DEADLINE_S = 170
# A fixed driver heap, committed and touched from the start (-Xms,
# AlwaysPreTouch): the default lets the JVM grow toward 8 GB, and how far
# it grows, and how much of it is touched, before collecting varies run
# to run. peak_rss_mb then moves with memory outside the JVM heap.
DRIVER_MEMORY = "2g"


def layer_unit(name: str) -> str:
    return next((u for suffix, u in LAYER_UNITS.items() if name.endswith(suffix)), "count")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict:
    """Point every scratch location of Python, Spark and the JVM inside
    ``work``; returns the extra session config."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    return {
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={tmp}"),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired: make sure it ends
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "batchprocessor_spark")):
        print(f"perfbench: no batchprocessor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    kind, sf = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(ROOT, ".perfbench", "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):  # its run was killed
            shutil.rmtree(stale, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    extra = isolate(work)

    from perfbench import host
    from perfbench.trace import Tracer

    load_before, ticks_before = host.loadavg(), host.cpu_ticks()
    data_dir = None
    if kind == "query":
        from perfbench import datagen

        t = time.perf_counter()
        data_dir = datagen.write(args.seed, sf, os.path.join(work, "data"))
        gen_s = time.perf_counter() - t

    spark = None

    def overrun() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        proc = getattr(spark.sparkContext._gateway, "proc", None) if spark else None
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, overrun)
    watchdog.daemon = True
    watchdog.start()
    tracer = Tracer()
    try:
        with host.PeakRss() as rss:
            setup_start = time.perf_counter()
            from batchprocessor_spark.plans.registry import load_all
            from batchprocessor_spark.session import get_spark

            spark = get_spark(app_name="perfbench", cpus=cores, extra=extra)
            spark.sparkContext.setLogLevel("ERROR")
            registry = load_all()
            session_s = time.perf_counter() - setup_start
            if kind == "query":
                from perfbench import query_workload

                res = query_workload.run(spark, registry, data_dir, args.seconds,
                                         bool(args.trace), cores, tracer, setup_start)
            else:
                from perfbench import proc_workload

                res = proc_workload.run(spark, kind, args.seed, args.seconds, bool(args.trace),
                                        os.path.join(work, "proc"), cores, tracer, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)

    record = host.record()  # outside PeakRss: it starts a `java -version` child
    res["e2e"]["setup_s"] = res.pop("setup_s")
    res["e2e"]["peak_rss_mb"] = rss.peak_mb
    checks = res.get("checks", {})
    correct = res["failed"] == 0 and all(checks.values())
    if args.trace:
        layers = {k: 0 for k in LAYERS}
        layers.update(res["layers"])
        layers["trace.overhead_pct"] = res["trace_overhead"]["pct"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    payload = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "session_s": session_s,
        "input_gen_s": gen_s if kind == "query" else 0.0,
        "host": {**record, "loadavg_before": load_before, "loadavg_after": host.loadavg(),
                 "cpu_steal_pct": host.steal_pct(ticks_before, host.cpu_ticks()),
                 "peak_rss_mb_by_process": rss.at_peak},
        "ops_failed_ratio": res["failed"] / res["attempted"],
        "correct": correct, **res,
    }
    if args.trace:
        tracer.write(stem + "-spans.json")
        payload["spans_file"] = os.path.relpath(stem + "-spans.json", ROOT)
        payload["self_time_s"] = tracer.self_times()
    with open(stem + ".json", "w") as f:
        json.dump(payload, f, indent=1, default=str)
    for k, v in metrics.items():
        print(f"# {k:<28} {v['value']:>14.6g} {v['unit']}", file=sys.stderr)
    print(f"# ops_failed_ratio {payload['ops_failed_ratio']:.6g}  record -> "
          f"{os.path.relpath(stem + '.json', ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
