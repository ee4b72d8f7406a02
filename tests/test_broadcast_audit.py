"""Broadcast-hint audit gate (VERDICT r7 #7).

An explicit ``F.broadcast(...)`` is never demoted by AQE: if the
hinted frame turns out to be corpus-sized, the driver OOMs — the class
of bug round 7 found ONCE in the winnowing pair builder (forced
broadcast of per-doc fingerprint counts). This sweep makes the class
structurally impossible to reintroduce unnoticed:

- every ``F.broadcast`` call site in the package (located by AST, so
  formatting/aliasing can't hide one) must appear in the whitelist
  below with a stated BOUND — why the frame is provably small at any
  corpus size;
- a NEW call site (or one more call in an existing function) fails
  this test until its bound is written down here;
- a site whose bound cannot be stated (corpus-cardinality or an
  unchecked data-dependent fraction) has no whitelist entry to hide
  behind — the fix is to drop the hint and let AQE decide, as r8 did
  for the dedup-canonical membership maps, the incremental-dedup
  reject set, and the curation pipeline's dup/contamination flags.

Legitimate bound classes seen below: 1-row global aggregates; per-key
aggregates over enum-sized keys (event_type, lang, source, priority,
hour-of-day, lag set, band/bucket grids); model-sized tables
(centroids, vocabularies, encoder tables, Bloom words, probe lists,
driver-built search ranges); fixed dimension tables (nation, region,
part, customer at TPC-H dim scale); fixed query sets; and two
DECLARED exceptions whose residual risk the operator docstring
documents (the O(n²) exactness baseline, the >48 h interval long
tail).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "batchprocessor_spark",
)

# site -> (number of F.broadcast calls, stated bound)
WHITELIST: dict[str, tuple[int, str]] = {
    "functions/multimodal.py::q_llm_multimodal_pipeline": (1, "fixed query-clip set"),
    "functions/text.py::q_llm_adaptive_quality": (1, "1-row percentile threshold"),
    "functions/text.py::q_llm_bpe_apply": (1, "BPE encoder table — vocab-sized"),
    "functions/text.py::q_llm_distinctive_terms": (3, "global term stats + per-source totals — vocab/enum-sized"),
    "functions/text.py::q_llm_lm_perplexity": (1, "vocabulary model table"),
    "functions/text.py::q_llm_tfidf_topterms": (1, "document-frequency per token — vocab-sized"),
    "functions/text.py::q_llm_vocab_coverage": (1, "fixed vocabulary table"),
    "functions/text.py::q_text_bleu_pairs": (1, "1-row bigram clip aggregate"),
    "functions/text.py::q_text_collocation_lift": (4, "per-token unigram counts (vocab-sized) + two 1-row totals"),
    "operators/aggregates.py::exact_kth_units": (1, "driver-built live search ranges — one row per (group, target)"),
    "operators/aggregates.py::q_agg_freq_items": (1, "1-row total count"),
    "operators/aggregates.py::q_agg_winsorized_mean": (1, "per-returnflag percentile fences — enum-sized"),
    "operators/aggregates.py::q_sketch_countmin": (1, "CM sketch counters — fixed (rows x buckets) grid"),
    "operators/analytics.py::q_ab_bootstrap_ci": (1, "1-row CI order statistics"),
    "operators/analytics.py::q_ml_brier_score": (2, "bucket model (bounded histogram) + 1-row prior"),
    "operators/analytics.py::q_ml_mcc": (2, "bucket model (bounded histogram) + 1-row prior"),
    "operators/analytics.py::q_anomaly_iqr": (1, "per-event_type IQR fences — enum-sized"),
    "operators/analytics.py::q_dq_drift_psi": (1, "1-row totals"),
    "operators/analytics.py::q_dq_expectations": (1, "1-row row count"),
    "operators/analytics.py::q_dq_freshness": (1, "1-row global max ts"),
    "operators/analytics.py::q_dq_mahalanobis": (1, "per-group moment vector — enum-sized groups"),
    "operators/analytics.py::q_events_audience_overlap": (2, "per-event_type audience sizes — enum-sized"),
    "operators/analytics.py::q_events_cohort_ltv": (1, "per-cohort-week sizes — calendar-sized"),
    "operators/analytics.py::q_events_rfm_segmentation": (4, "1-row global max + three tercile-threshold rows"),
    "operators/analytics.py::q_events_lifecycle": (1, "1-row max-day horizon"),
    "operators/analytics.py::q_events_rolling_active_users": (1, "1-row day bounds"),
    "operators/analytics.py::q_merge_snapshot_diff.snapshot": (1, "1-row cutoff timestamps"),
    "operators/analytics.py::q_ml_calibration": (2, "per-score-bucket rates (fixed buckets) + 1-row prior"),
    "operators/analytics.py::q_ml_ks_statistic": (1, "1-row class totals"),
    "operators/analytics.py::q_ml_lift_gains": (1, "1-row totals"),
    "operators/analytics.py::q_ml_naive_bayes": (5, "1-row train count/prior/vocab + per-(lang,word) model — vocab-sized"),
    "operators/analytics.py::q_ml_pinball_loss": (2, "fixed quantile grid + per-(type,quantile) forecasts — enum-sized"),
    "operators/analytics.py::q_ml_pr_auc": (1, "1-row positive count"),
    "operators/analytics.py::q_ts_control_chart": (1, "per-event_type control limits — enum-sized"),
    "operators/dedup.py::q_dedup_fellegi_sunter": (5, "four 1-row u-statistic aggregates + their 1-row combination"),
    "operators/dedup.py::q_llm_cross_source_contamination": (2, "per-source doc counts — enum-sized"),
    "operators/dedup.py::q_llm_decontaminate": (1, "benchmark shingle set — benchmark-sized by definition"),
    "operators/dedup.py::q_llm_decontaminate_bloom": (2, "Bloom filter word array — fixed m/64 rows"),
    "operators/graph.py::q_graph_hits.half_step": (1, "1-row L1 mass total"),
    "operators/graph.py::q_graph_louvain_matching": (4, "1-row edge/node/community counts"),
    "operators/graph.py::q_graph_modularity": (2, "customer/supplier dimension tables"),
    "operators/hierarchy.py::_pagerank_rounds": (1, "1-row dangling mass"),
    "operators/joins.py::q_join_cross": (1, "nation dimension (25 rows)"),
    "operators/joins.py::q_join_inner_broadcast": (1, "part dimension table"),
    "operators/joins.py::q_join_interval_overlap": (1, "DECLARED: >48h interval long tail, rare by construction (docstring documents the residual)"),
    "operators/joins.py::q_join_multiway": (2, "nation + region dimensions"),
    "operators/joins.py::q_join_range_bands": (1, "fixed price-band grid"),
    "operators/layout.py::q_layout_zorder": (1, "1-row min/max bounds"),
    "operators/mining.py::q_agg_hhi": (2, "customer + nation dimensions"),
    "operators/mining.py::q_ml_assoc_rules": (4, "part dimension + per-item counts (catalog-sized) + 1-row basket count"),
    "operators/mining.py::q_ml_ndcg": (1, "nation dimension"),
    "operators/mining.py::q_ts_dtw": (1, "per-priority day series — enum-sized"),
    "operators/pipeline.py::q_llm_curation_pipeline": (1, "benchmark shingle set — benchmark-sized by definition"),
    "operators/sampling.py::q_llm_importance_resampling": (2, "per-word source/target counts — vocab-sized"),
    "operators/sampling.py::q_llm_sample_negatives": (1, "1-row count"),
    "operators/sampling.py::q_llm_sample_temperature": (2, "1-row min count + per-lang thresholds (enum-sized)"),
    "operators/sampling.py::q_sample_balanced_classes": (1, "1-row class minimum"),
    "operators/sampling.py::q_sample_neyman": (2, "1-row weight max + per-lang allocations (enum-sized)"),
    "operators/similarity.py::ivf_topk": (3, "query set + k centroids + (query x nprobe) probe list"),
    "operators/similarity.py::kmeans_assign": (1, "k centroid rows"),
    "operators/similarity.py::q_emb_standardize": (1, "per-dimension moments — dim-sized (64 rows)"),
    "operators/similarity.py::q_llm_hard_negatives": (1, "fixed query set"),
    "operators/similarity.py::q_llm_mmr_rerank": (1, "1-row query vector"),
    "operators/similarity.py::_pq_assign": (1, "per-subspace codebook structs — M rows (model-sized)"),
    "operators/similarity.py::_pq_adc_rank": (2, "M x K codebook + (n_queries x M x K) ADC lookup table — both model/query-sized"),
    "operators/similarity.py::q_llm_simsearch_neardup": (1, "DECLARED O(n^2) exactness baseline — docstring/VERDICT-documented, never the scale path"),
    "operators/similarity.py::q_llm_simsearch_sq": (2, "per-dimension quantization grid + query set"),
    "operators/similarity.py::q_llm_simsearch_topk": (1, "fixed query set"),
    "operators/similarity.py::q_ml_kmeans": (1, "k centroid rows"),
    "operators/similarity.py::q_ml_kmeans_init": (1, "k centroid rows"),
    "operators/similarity.py::q_ml_knn_classify": (1, "fixed query set"),
    "operators/similarity.py::spatial_eps_pairs": (1, "fixed 9-row neighbor-offset grid"),
    "operators/skew.py::hot_key_salted_equi_join": (2, "hot-key list (> threshold keys only) + salt_n-row range"),
    "operators/skew.py::salted_join": (1, "salt_n-row range"),
    "operators/timeseries.py::q_ts_acf": (1, "fixed lag set"),
    "operators/timeseries.py::q_ts_weekday_effect": (1, "1-row grand totals"),
    "operators/timeseries.py::q_sample_time_split": (1, "1-row boundary day"),
    "operators/timeseries.py::q_ts_changepoint": (1, "distinct event types — enum-sized"),
    "operators/timeseries.py::q_ts_cross_correlation": (1, "fixed lag set"),
    "operators/timeseries.py::q_ts_gapfill": (2, "1-row day-zero anchor + distinct event types"),
    "operators/timeseries.py::q_ts_interpolate": (2, "1-row day-zero anchor + distinct event types"),
    "operators/timeseries.py::q_ts_mad_outliers": (2, "per-event_type median + MAD — enum-sized"),
    "operators/timeseries.py::q_ts_sax": (1, "1-row day-zero anchor"),
    "operators/timeseries.py::q_ts_seasonal_decompose": (1, "per-(event_type, hour-of-day) means — enum x 24"),
    "operators/windows.py::q_win_ratio_to_report": (1, "nation dimension"),
    "streaming/queries.py::q_stream_static_join": (1, "customer dimension table"),
}


def _broadcast_sites() -> dict[str, int]:
    sites: dict[str, int] = {}
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self) -> None:
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr == "broadcast"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "F"
                    ):
                        key = f"{rel}::{'.'.join(self.stack) or '<module>'}"
                        sites[key] = sites.get(key, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
    return sites


def test_every_broadcast_hint_has_a_stated_bound():
    sites = _broadcast_sites()
    missing = {k: n for k, n in sites.items() if k not in WHITELIST}
    assert not missing, (
        "F.broadcast call sites with no stated bound — either write the "
        f"bound into tests/test_broadcast_audit.py or drop the hint: {missing}"
    )
    drifted = {
        k: (n, WHITELIST[k][0])
        for k, n in sites.items()
        if n != WHITELIST[k][0]
    }
    assert not drifted, (
        "broadcast call count changed inside whitelisted functions "
        f"(got, whitelisted): {drifted} — re-audit the new/removed call"
    )
    stale = set(WHITELIST) - set(sites)
    assert not stale, f"whitelist entries with no remaining call site: {stale}"


def test_known_unbounded_frames_carry_no_hint():
    """The r7/r8 fixes stay fixed: the builders whose hinted frames
    were corpus-cardinality (winnowing per-doc sizes) or data-dependent
    corpus fractions (dedup-canonical maps, incremental reject set,
    curation dup/contamination flags) must not reappear in the site
    list."""
    sites = _broadcast_sites()
    for site in (
        "functions/text.py::q_llm_winnowing_pairs",
        "functions/text.py::winnowing_pair_matches",
        "operators/dedup.py::q_llm_dedup_canonical",
        "operators/dedup.py::q_llm_dedup_incremental_near",
    ):
        assert site not in sites, site
    assert sites.get("operators/pipeline.py::q_llm_curation_pipeline") == 1
