"""Query workloads: the 19 headline queries, closed loop, one client.

Each query is built with its registry builder and executed into the
``noop`` sink, in a fixed order; one pass runs all 19. The warm pass,
which ``suite_s`` leaves out, collects every result instead, and those
results are checked against each query's DuckDB oracle once the timed
passes end. Timed passes run until ``seconds`` have passed and at least
``MIN_PASSES`` ran: the first timed pass is still warming up, and with
three or more the median over passes leaves it out.
"""

from __future__ import annotations

import statistics
import time
import traceback

from perfbench import arith
from perfbench.trace import STAGE_FIELDS, Tracer, group_jobs, job_stages, stage_totals

# The headline set of bench.py (``HEADLINE``), pinned here so the
# benchmark's query mix changes only when the benchmark does.
HEADLINE = (
    "q_agg_basic",
    "q_filter_pred",
    "q_join_inner_broadcast",
    "q_join_inner_sortmerge",
    "q_join_asof",
    "q_join_multiway",
    "q_agg_rollup",
    "q_win_rank",
    "q_win_frame",
    "q_topk_per_group",
    "q_sort_limit",
    "q_dedup_exact",
    "q_llm_dedup_minhash",
    "q_llm_simsearch_topk",
    "q_llm_text_stats",
    "q_llm_quality_filter",
    "q_fn_json",
    "q_win_tumbling",
    "q_win_session",
)
MIN_PASSES = 3


class _Collected:
    """Stands in for a DataFrame in ``tests.oracle.compare``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - DataFrame method name
        return self._pdf


def _run_query(spark, registry, name: str, data_dir, tag: str | None, failures: dict):
    """Build one query and execute it into the noop sink; returns the
    times ``(start, built, done)``, or None when it raised. With ``tag``
    set, its build and execute run in job groups named after it."""
    sc = spark.sparkContext
    try:
        if tag:
            sc.setJobGroup(f"{tag}:{name}:build", name)
        t0 = time.time()
        df = registry[name].builder(spark, data_dir)
        t1 = time.time()
        if tag:
            sc.setJobGroup(f"{tag}:{name}:exec", name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    except Exception:  # noqa: BLE001 - a failing query is counted, the loop goes on
        failures.setdefault(name, traceback.format_exc(limit=3))
        return None
    finally:
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return t0, t1, t2


def _timed_pass(spark, registry, data_dir, tag: str | None, index: int,
                failures: dict) -> tuple[dict, dict]:
    """Run every query once untraced; with ``tag`` set, run each also
    once traced, before the untraced run on every other query and pass,
    so neither side always gets the warmer JVM. Returns the untraced and
    the traced times by query."""
    plain, traced = {}, {}
    for i, name in enumerate(HEADLINE):
        order = (None,) if not tag else (None, tag) if (i + index) % 2 == 0 else (tag, None)
        for t in order:
            times = _run_query(spark, registry, name, data_dir, t, failures)
            if times is not None:
                (traced if t else plain)[name] = times
    return plain, traced


def _layer_record(spark, tag: str, times: dict, tracer: Tracer) -> dict:
    """Per-query and summed layer numbers of one traced pass; also
    records the pass's spans."""
    time.sleep(1.0)  # let the status listener catch up with the last job
    per_query = {}
    for name, (t0, t1, t2) in times.items():
        build_jobs = group_jobs(spark, f"{tag}:{name}:build")
        exec_jobs = group_jobs(spark, f"{tag}:{name}:exec")
        stages = stage_totals(spark, job_stages(spark, exec_jobs))
        per_query[name] = {"build_s": t1 - t0, "execute_s": t2 - t1,
                           "build_jobs": len(build_jobs), "jobs": len(exec_jobs), **stages}
        trace = f"{tag}:{name}"
        qid = tracer.add("query", t0, t2, trace, query=name)
        tracer.add("registry.build", t0, t1, trace, qid, jobs=len(build_jobs))
        tracer.add("spark.execute", t1, t2, trace, qid, jobs=len(exec_jobs),
                   stages=stages["stages"], tasks=stages["tasks"])
    total = {k: sum(q[k] for q in per_query.values())
             for k in next(iter(per_query.values()), {})}
    return {"per_query": per_query, "total": total}


def run(spark, registry, data_dir: str, seconds: float, traced: bool,
        cores: int, tracer: Tracer, setup_start: float) -> dict:
    failures: dict[str, str] = {}
    collected = {}
    for name in HEADLINE:  # warm pass; its results are checked below
        try:
            collected[name] = registry[name].builder(spark, data_dir).toPandas()
        except Exception:  # noqa: BLE001 - counted as a failed query
            failures[name] = traceback.format_exc(limit=3)
    setup_s = time.perf_counter() - setup_start

    plain, traced_passes, layers = [], [], []
    end = time.time() + seconds
    while len(plain) < MIN_PASSES or time.time() < end:
        tag = f"pb{len(plain)}" if traced else None
        times, traced_times = _timed_pass(spark, registry, data_dir, tag, len(plain), failures)
        plain.append(times)
        if traced:
            traced_passes.append(traced_times)
            layers.append(_layer_record(spark, tag, traced_times, tracer))

    from tests.oracle import compare, duckdb_run

    mismatches = {}
    for name, pdf in collected.items():
        try:
            compare(_Collected(pdf), duckdb_run(registry[name].oracle, data_dir), name)
        except AssertionError as e:
            mismatches[name] = str(e)[:2000]

    def suites(passes):
        return [sum(t2 - t0 for t0, _, t2 in p.values()) for p in passes]

    # A query's latency is its median build + execute over the passes.
    samples = [statistics.median(p[name][2] - p[name][0] for p in plain if name in p)
               for name in HEADLINE if any(name in p for p in plain)]
    suite_s = statistics.median(suites(plain))
    failed = sorted(set(failures) | set(mismatches))
    out = {
        "setup_s": setup_s,
        "attempted": len(HEADLINE),
        "failed": len(failed),
        "errors": {"raised": failures, "mismatched": mismatches},
        "passes": len(plain),
        "latency_samples": len(samples),
        "per_pass": [{n: {"build_s": t1 - t0, "execute_s": t2 - t1}
                      for n, (t0, t1, t2) in p.items()} for p in plain],
        "e2e": {
            "suite_s": suite_s,
            "items_per_s": len(HEADLINE) / suite_s,
            "latency_p50_s": arith.percentile(samples, 50),
            "latency_p99_s": arith.percentile(samples, 99),
        },
    }
    if traced:
        n = len(layers)
        tot = {k: sum(layer["total"][k] for layer in layers) / n for k in layers[0]["total"]}
        out["layers"] = {
            "registry.build_s": tot["build_s"],
            "registry.build_jobs": tot["build_jobs"],
            "spark.execute_s": tot["execute_s"],
            "spark.jobs": tot["jobs"],
            **{f"spark.{k}": tot[k] for k in ("stages", "tasks", *STAGE_FIELDS)},
            "spark.busy_ratio": tot["task_run_s"] / (tot["execute_s"] * cores),
        }
        untraced, with_trace = statistics.median(suites(plain)), statistics.median(
            suites(traced_passes))
        out["trace_overhead"] = {"metric": "suite_s", "untraced": untraced,
                                 "traced": with_trace,
                                 "pct": 100 * (with_trace - untraced) / untraced}
        out["per_query_layers"] = [layer["per_query"] for layer in layers]
    return out
