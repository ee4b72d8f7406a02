"""Primary correctness gate (SURVEY.md §5.2(1)): every registered
query with a SQL oracle must match DuckDB — the same check the driver
runs for CORRECTNESS_r{N}.json.

Lanes (r13, VERDICT r12 #2 — the 38-minute default suite outran the
driver's verification budget):

- DEFAULT (fast) lane: the driver's 50-query window at sf0.01 — the
  exact queries and SF the external driver re-checks, so the default
  ``pytest tests/ -q`` stays a faithful pre-flight of the driver's
  own correctness gate — plus the round-loop queries (ROUND_LOOPS),
  about a minute more at sf0.01, and the last rewritten builders
  outside the window (REWRITTEN).
- SLOW (opt-in) lane, ``-m slow``: the full registry at sf0.01 plus
  EVERYTHING at sf0.1 — a query whose parity holds at one SF but
  breaks at 10× (sampling thresholds, rounding drift under different
  aggregation orders, window-frame edge counts) is caught there. The
  committed PARITY_r{N}.json artifacts (scripts/gen_parity, pinned to
  the registry by tests/test_artifact_freshness.py) keep full-grid
  evidence per round regardless of which lane ran.

Run the whole grid with ``pytest tests/test_oracle_parity.py -m ""``."""

from __future__ import annotations

import pytest

from batchprocessor_spark.plans.registry import load_all
from tests.conftest import SF_ORACLE, SF_ORACLE_BIG
from tests.oracle import compare, duckdb_run

REGISTRY = load_all()
SQL_QUERIES = sorted(name for name, spec in REGISTRY.items() if spec.oracle)
ROWS_ONLY = sorted(name for name, spec in REGISTRY.items() if not spec.oracle)

# The driver's correctness window: the first 50 registry entries in
# iteration order (frozen by tests/test_registry_order.py).
DRIVER_WINDOW = frozenset(list(REGISTRY)[:50])

# The round-loop queries (session.iterate, pointer doubling, and the
# shared BFS, PageRank and BPE loops) also run in the default lane:
# one shared loop can break all of them at once.
ROUND_LOOPS = frozenset({
    "q_llm_dedup_clusters",
    "q_llm_dedup_clusters_star",
    "q_llm_dedup_canonical",
    "q_llm_curation_pipeline",
    "q_hier_ancestry",
    "q_hier_rollup",
    "q_graph_scc",
    "q_graph_bfs_layers",
    "q_graph_closeness_bfs",
    "q_graph_kcore",
    "q_graph_label_propagation",
    "q_graph_pagerank",
    "q_graph_ppr",
    "q_llm_bpe_train",
    "q_llm_bpe_apply",
})
# Queries outside the driver's window whose builders were rewritten
# last (the Arrow cogroup of q_udf_cogrouped, the sorted-run array fold
# of q_llm_repetition_stats) also run by default, not only in the
# committed grid.
REWRITTEN = frozenset({
    "q_udf_cogrouped",
    "q_llm_repetition_stats",
})
DEFAULT_LANE = DRIVER_WINDOW | ROUND_LOOPS | REWRITTEN


def _parity_params():
    for name in SQL_QUERIES:
        yield pytest.param(
            name,
            SF_ORACLE,
            id=f"{name}-sf0.01",
            marks=() if name in DEFAULT_LANE else (pytest.mark.slow,),
        )
        yield pytest.param(
            name, SF_ORACLE_BIG, id=f"{name}-sf0.1", marks=pytest.mark.slow
        )


@pytest.mark.parametrize("name,sf_dir", list(_parity_params()))
def test_oracle_parity(spark, name, sf_dir):
    spec = REGISTRY[name]
    spark_df = spec.builder(spark, sf_dir)
    oracle_pdf = duckdb_run(spec.oracle, sf_dir)
    compare(spark_df, oracle_pdf, name)


def test_every_query_is_sql_oracled():
    """Since round 5 every registered query carries a SQL oracle
    (q_agg_approx, the last rows-only entry, now oracles a derived
    deterministic projection). Pin that as an inventory invariant: a
    future rows-only registration must either gain an oracle or
    consciously revive the weaker runs-only check this test replaced
    (parametrize its builder over ROWS_ONLY, assert columns + count)."""
    assert ROWS_ONLY == [], (
        f"queries without oracles appeared: {ROWS_ONLY} — oracle them or "
        "restore the rows-only runs-check for them"
    )
