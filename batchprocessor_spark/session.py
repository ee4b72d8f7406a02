"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness parity with the DuckDB oracle
(UTC session timezone — parquet timestamps are naive) and for scale
(AQE on, partition coalescing, Arrow for pandas UDF exchange). On a
real cluster the same settings apply; only master/memory change.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession

# Spark's own default for spark.sql.files.maxPartitionBytes — the
# engine keeps it in production and merely makes it explicit (and
# env-overridable) so the polarity is testable.
#
# History: rounds ≤7 also carried a FIXTURE_SPLIT_BYTES="4m" harness
# opt-in because the driver fixtures are single parquet files that
# scan as one task under 128m. Round 8 retired it (VERDICT r7 #3):
# the harness now mirrors those fixtures into directory-per-table
# layouts (scripts/fixture_layout.py), so every lane — tests, bench,
# parity, plan dumps — runs under this production default and scan
# parallelism comes from the file layout, as on a real cluster.
PRODUCTION_SPLIT_BYTES = "128m"


def engine_confs(
    cpus: int | str,
    shuffle_partitions: int | None = None,
    env: dict[str, str] | None = None,
) -> dict[str, str]:
    """The engine's session configuration as a plain dict.

    Split out of `get_spark` so the *default polarity* is unit-testable
    without building a JVM session (the live session is a process-wide
    singleton, so a test can't observe what a fresh default would be).
    `env` defaults to os.environ; inject a dict to test overrides.
    """
    env = os.environ if env is None else env
    return {
        # Correctness parity: interpret timestamps consistently with the
        # (timezone-naive) parquet test data and the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # Scale posture: adaptive execution re-plans at shuffle
        # boundaries (skew joins, partition coalescing, join demotion).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalescing floor (r12, guide §1.2 "configuration last"):
        # STAYS at Spark's 1m default. A 64k floor was tried this
        # round (it widens CPU-dense byte-light sort/window stages —
        # q_win_rank 0.87→0.76 s, q_win_session 0.86→0.67 s) but
        # re-measuring the ITERATIVE operator family reversed the
        # verdict: with the floor at 64k every tiny per-round shuffle
        # stops coalescing to 1-3 tasks, and multi-round operators pay
        # task/stage overhead dozens of times per query — measured at
        # sf0.1 local[32]: q_llm_simsearch_pq 17.2 s (64k) vs 4.5 s
        # (1m), q_ml_kmeans 7.4 vs 5.8, q_graph_ppr 20.6 vs 11.8,
        # while the window-query gain is ~0.5 s combined and inside
        # those queries' committed spreads. CPU-dense byte-light
        # stages that matter are pinned per-operator with
        # REPARTITION_BY_NUM instead (the rouge/minhash pattern).
        # Env-overridable for experiments.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": env.get(
            "SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 2 * int(cpus)),
        # Arrow for any pandas-UDF exchange (vectorized, not per-row).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # PRODUCTION default scan split: Spark's own 128m. Scan
        # parallelism is bounded by max(file count, bytes/split); on
        # real multi-file tables 128m yields one task per ~128 MB of
        # data, and on many-small-file tables the planner's
        # bytesPerCore packing keeps parallelism at defaultParallelism
        # — which is why the harness mirrors the single-file driver
        # fixtures into directory layouts instead of shrinking this
        # (see PRODUCTION_SPLIT_BYTES above).
        "spark.sql.files.maxPartitionBytes": env.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", PRODUCTION_SPLIT_BYTES
        ),
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by
        # default; read as raw nanos once here so readers stay
        # side-effect-free (catalog converts to micros with integer div).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Recursive-CTE parity (r12, caught by the sf1 twin sweep):
        # Spark 4.1 caps a recursion's CUMULATIVE row count at 1M
        # (RECURSION_ROW_LIMIT_EXCEEDED) on top of the 100-level cap;
        # DuckDB has neither, so a per-key recursive walk that fits at
        # sf0.1 dies at sf1 (q_ts_croston's SES walk emits 2×10^5 rows
        # per level-set; rouge's LCS walk similarly). Raise the row
        # cap to INT_MAX — runaway recursion stays bounded because the
        # dialect pass injects an explicit MAX RECURSION LEVEL on
        # every self-referencing CTE, so total rows ≤ levels × widest
        # level, both finite.
        "spark.sql.cteRecursionRowLimit": str(2**31 - 1),
        # Reference-tracked cleanup of reliable checkpoints: without
        # it, per-round checkpoints from iterative operators accumulate
        # in the checkpoint dir for the life of a long-lived Engine
        # (ADVICE r10).
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": env.get("SPARK_DRIVER_MEMORY", "8g"),
    }


# `local` / `local[N]` / `local[*]` — ONE JVM, where executor-local
# checkpoint blocks cannot be lost independently of the driver. Does
# NOT match `local-cluster[n,c,m]`, which launches real separate
# executor JVMs and must take the cluster path below.
_SINGLE_JVM_MASTER = re.compile(r"^local(\[[^\]]*\])?$")


def materialization_mode(master: str, checkpoint_dir_set: bool) -> str:
    """Which physical materialization `materialize` picks — pure
    function of (master URL, whether a checkpoint dir is configured)
    so the mode switch is unit-testable without a cluster.

    - ``local_checkpoint``: single-JVM masters. `localCheckpoint`
      stores blocks in the one local executor; nothing can be lost
      independently of the whole process, so it is both the fastest
      and a safe lineage truncation. (Today's behavior — zero change
      on local[*].)
    - ``reliable_checkpoint``: any cluster master with a checkpoint
      dir configured. `localCheckpoint` blocks live UNREPLICATED on
      executors — Spark's own docs flag it unsafe under executor loss
      / dynamic allocation, so at 100 TB a single lost executor would
      kill the query mid-lineage. `df.checkpoint()` writes to the
      reliable (HDFS/S3) checkpoint dir instead: executor-loss-safe
      AND pins nondeterministic outputs (block ids, sampled rows)
      exactly, which the determinism-critical call sites (SNM block
      pinning, pack_by_cumsum, reservoir sampling) require.
    - ``replicated_persist``: cluster master, no checkpoint dir.
      Best-effort fallback: MEMORY_AND_DISK_2 survives one executor
      loss per block; lineage is kept (not truncated) so a double
      loss recomputes — acceptable for bounded-round loops, but
      deployments should set a checkpoint dir (get_spark honors
      $SPARK_GRAFT_CHECKPOINT_DIR).
    """
    if _SINGLE_JVM_MASTER.match(master):
        return "local_checkpoint"
    return "reliable_checkpoint" if checkpoint_dir_set else "replicated_persist"


def _checkpoint_dir_set(spark: SparkSession) -> bool:
    # Public API (PySpark ≥3.1) — the former _jsc gateway probe broke
    # under Spark Connect and tracked JVM internals (ADVICE r10).
    return spark.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize an intermediate and truncate its lineage,
    cluster-safely (VERDICT r9 #1).

    The engine's iterative operators (graph rounds, SNM block
    pinning, winnowing, pack_by_cumsum) need a compute-once barrier:
    on `local[*]` that is `localCheckpoint` (executor == driver JVM,
    loss-equivalent), but on a real cluster localCheckpoint blocks
    are unreplicated executor state — one lost executor makes the
    truncated lineage unrecoverable. This helper is the single place
    that decision lives; call sites use ``df.transform(materialize)``
    wherever they previously called ``df.localCheckpoint()``.

    Freeing the result: ``unpersist()`` frees the replicated-persist
    cache and nothing else. On the two checkpoint modes the blocks
    belong to the plan's own ``LogicalRDD`` RDD, which
    ``unpersist()`` leaves registered (``getPersistentRDDs()`` stays
    at 1 on local[4]); the ContextCleaner reclaims them once the
    frame is unreachable. Unpersisting that RDD directly frees them
    at once, but breaks every later read of the frame.
    """
    spark = df.sparkSession
    mode = materialization_mode(
        spark.sparkContext.master, _checkpoint_dir_set(spark)
    )
    if mode == "local_checkpoint":
        return df.localCheckpoint(eager=True)
    if mode == "reliable_checkpoint":
        # checkpoint(eager=True) on an unpersisted plan runs the
        # subtree twice (once for the action, once for the checkpoint
        # write job); a scoped cache makes it compute-once, and the
        # cache is dropped as soon as the checkpoint files exist
        # (ADVICE r10). Checkpoint-file cleanup itself is
        # reference-tracked via cleanCheckpoints in engine_confs.
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return cached.checkpoint(eager=True)
        finally:
            cached.unpersist()
    _warn_replicated_persist_once()
    out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    out.count()
    return out



def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signature: list[Column],
    max_rounds: int,
) -> DataFrame:
    """The round barrier of every iterative DataFrame operator: a loop
    on the driver over distributed steps.

    Materializes ``init``, then for up to ``max_rounds`` rounds
    materializes ``step(state)`` and unpersists the state it
    replaced. Materializing truncates each state's lineage: a step
    that reads its input several times would otherwise grow the plan
    exponentially with the round count. ``signature`` is a list of aggregate columns that
    fold each state to one row (a count, a checksum, the sum of a
    monotone column); the loop stops early once that row repeats the
    previous round's. The row is gathered with ``observe`` inside each
    materialization job, so convergence costs no Spark job of its own.
    Stopping early is only sound when the step of a repeated state
    returns it again, and the signature must change whenever the state
    does (exactly for monotone columns, up to a 64-bit hash otherwise).

    Returns the final state, materialized and not released: the
    caller owns it, and must not release anything a plan built on it
    still reads.
    """

    def barrier(df: DataFrame) -> tuple[DataFrame, dict]:
        seen = Observation()
        out = df.observe(seen, *signature).transform(materialize)
        return out, seen.get

    state, sig = barrier(init)
    for _ in range(max_rounds):
        nxt, nxt_sig = barrier(step(state))
        state.unpersist()
        state = nxt
        if nxt_sig == sig:
            break
        sig = nxt_sig
    return state


_REPLICATED_WARNED = False


def _warn_replicated_persist_once() -> None:
    """The replicated-persist fallback neither truncates lineage nor
    frees superseded caches — on deep iterative operators (connected
    components, BFS, k-core) the untruncated lineage grows per round
    and can OOM the driver, and per-round MEMORY_AND_DISK_2 entries
    pin the CacheManager for the session lifetime (ADVICE r10). Warn
    loudly, once: production clusters should set
    $SPARK_GRAFT_CHECKPOINT_DIR so materialize() takes the reliable-
    checkpoint path instead."""
    global _REPLICATED_WARNED
    if _REPLICATED_WARNED:
        return
    _REPLICATED_WARNED = True
    import warnings

    warnings.warn(
        "batchprocessor_spark: running on a cluster master WITHOUT a "
        "checkpoint dir — materialize() falls back to replicated "
        "persist, which keeps full lineage (iterative operators grow "
        "it every round) and holds per-round caches for the session "
        "lifetime. Set SPARK_GRAFT_CHECKPOINT_DIR (or call "
        "sparkContext.setCheckpointDir) for the reliable path.",
        RuntimeWarning,
        stacklevel=3,
    )


def get_spark(
    app_name: str = "batchprocessor-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to 2×cores locally; AQE coalesces down at runtime,
    and on a real cluster this value would be sized to executor count.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in engine_confs(cpus, shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable-checkpoint dir for `materialize` on cluster masters
    # (no-op for the mode switch on local[*], but harmless to set).
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and not _checkpoint_dir_set(spark):
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
