"""The cluster-safe materialization helper (VERDICT r9 #1).

Every iterative operator in the engine needs a compute-once barrier
with truncated lineage. `localCheckpoint` is only safe when executor
and driver share one JVM; on a real cluster its blocks are
unreplicated executor state, so the engine routes every site through
`session.materialize`, whose mode switch is pinned here as a pure
function of (master URL, checkpoint-dir-configured). The reliable
path is exercised live — across real executor JVMs — in the
local-cluster lane (tests/test_local_cluster.py).
"""

from __future__ import annotations

import pytest

from batchprocessor_spark.session import materialization_mode, materialize


# ------------------------------------------------- pure mode switch

@pytest.mark.parametrize(
    "master",
    ["local", "local[4]", "local[*]", "local[32]"],
)
def test_single_jvm_masters_use_local_checkpoint(master):
    # one JVM: localCheckpoint blocks cannot be lost independently of
    # the driver, so it is both the fastest and a safe truncation —
    # with or without a checkpoint dir.
    assert materialization_mode(master, False) == "local_checkpoint"
    assert materialization_mode(master, True) == "local_checkpoint"


@pytest.mark.parametrize(
    "master",
    [
        "local-cluster[2,4,2048]",  # multi-JVM even though "local"-ish
        "spark://host:7077",
        "yarn",
        "k8s://https://host:6443",
    ],
)
def test_cluster_masters_never_local_checkpoint(master):
    # real executors can be lost: reliable checkpoint when a dir is
    # configured, replicated persist as the best-effort fallback.
    assert materialization_mode(master, True) == "reliable_checkpoint"
    assert materialization_mode(master, False) == "replicated_persist"


def test_local_cluster_is_not_mistaken_for_local():
    # the regex trap this helper exists to avoid: "local-cluster[...]"
    # starts with "local" but launches separate executor JVMs.
    assert materialization_mode("local-cluster[2,4,2048]", False) != (
        materialization_mode("local[2]", False)
    )


# --------------------------------------------- live local[*] behavior

def test_materialize_on_local_master_truncates_lineage(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS x")
    out = df.transform(materialize)
    # values survive the barrier ...
    assert out.count() == 100
    assert out.agg({"x": "sum"}).collect()[0][0] == 9900
    # ... and the plan is a scan of the materialized rows, not the
    # original range+project lineage (localCheckpoint on local[*]).
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_materialize_result_is_reusable_across_actions(spark):
    # the engine's loops reference one materialized frame from several
    # subsequent plans — the barrier must be stable across actions.
    out = spark.range(10).transform(materialize)
    a = out.where("id < 5").count()
    b = out.where("id >= 5").count()
    assert (a, b) == (5, 5)


def test_iterate_stops_on_repeated_signature_or_round_budget(spark):
    from pyspark.sql import functions as F

    from batchprocessor_spark.session import iterate

    rounds = []

    def step(df):
        rounds.append(1)
        return df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))

    init = spark.range(4).select(F.lit(0).cast("long").alias("x"))
    sig = [F.count(F.lit(1)), F.sum("x")]
    # x climbs 0 → 1 → 2 → 3 → 3: round 4 repeats round 3's signature.
    out = iterate(init, step, sig, 10)
    assert (len(rounds), {r.x for r in out.collect()}) == (4, {3})
    rounds.clear()
    out = iterate(init, step, sig, 2)
    assert (len(rounds), {r.x for r in out.collect()}) == (2, {2})

    # The result is a materialized state: its plan is the same size
    # after 2 rounds as after 8.
    def plan_lines(n):
        grow = iterate(init, lambda df: df.select((F.col("x") + 1).alias("x")), sig, n)
        assert grow.collect()[0].x == n
        return grow._jdf.queryExecution().analyzed().treeString().count("\n")

    assert plan_lines(2) == plan_lines(8)
