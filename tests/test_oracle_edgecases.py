"""Engine-vs-oracle agreement on the edge regimes the driver fixtures
never produce (ADVICE r7): a NULL event_type reaching the snapshot
diff's classification, and coincident arm means (delta == 0) reaching
the power-analysis divisor. Both lanes run on the SAME synthetic
parquet, so these pin the shared classification/formula rules, not
fixture luck."""

from __future__ import annotations

import datetime

import duckdb

from batchprocessor_spark.plans.registry import load_all
from tests.oracle import canonical_rows

REGISTRY = load_all()


def _duck(sql: str, views: dict[str, str]):
    con = duckdb.connect()
    for t, p in views.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).df()


def _us(micros: int) -> datetime.datetime:
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=micros)


def test_snapshot_diff_null_state_classifies_by_join_key(spark, tmp_path):
    """A user whose as-of state is a NULL event_type is PRESENT in the
    snapshot: both lanes must classify off join-key nullness (added /
    removed only when the user is absent from a snapshot) and call a
    NULL-vs-NULL state 'unchanged' (SQL <> three-valued logic). The
    pre-fix engine branched on the state columns and read that user as
    'added'."""
    spec = REGISTRY["q_merge_snapshot_diff"]
    # span 0..90_000 us -> cutoffs t1=30_000, t2=60_000
    rows = [
        # u1: NULL state at both cutoffs -> unchanged (state NULL)
        (1, None, _us(0), 10),
        (1, None, _us(50_000), 11),
        # u2: appears only after t1 -> added
        (2, "view", _us(40_000), 20),
        # u3: state flips between cutoffs -> changed
        (3, "view", _us(10_000), 30),
        (3, "click", _us(55_000), 31),
        # u4: same non-null state -> unchanged
        (4, "view", _us(20_000), 40),
        # u5: non-null at t1, NULL at t2 -> NULL <> 'view' is NULL -> unchanged
        (5, "view", _us(5_000), 50),
        (5, None, _us(45_000), 51),
        # span anchors (also plain unchanged users)
        (6, "view", _us(0), 60),
        (7, "view", _us(90_000), 70),
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, event_type STRING, ts TIMESTAMP, event_id BIGINT"
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    as_dict = {
        r[0]: n for r in got for n in [r[1]]
    }  # columns sorted: change_type, n_states, n_users -> r=(type, n_states, n_users)
    # u1, u4, u5, u6, u7 unchanged; u2 added; u3 changed; none removed
    assert as_dict.keys() == {"unchanged", "added", "changed"}, got


def test_power_mde_zero_delta_is_null_on_both_engines(spark, tmp_path):
    """Coincident arm means: n_required divides by delta^2. Unguarded,
    Spark casts Infinity to Long.MaxValue while DuckDB raises on
    Infinity::BIGINT; the shared nullif(…, 0.0) makes both lanes emit
    NULL ('no finite n detects a zero effect')."""
    spec = REGISTRY["q_ab_power_mde"]
    rows = [
        ("click", 1.0),
        ("click", 3.0),
        ("purchase", 2.0),
        ("purchase", 2.0),
        ("view", 99.0),  # filtered out by the IN predicate
    ]
    df = spark.createDataFrame(rows, "event_type STRING, value DOUBLE")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    (row,) = got
    cols = sorted(["n1", "n2", "delta_cents", "mde_cents", "n_required"])
    vals = dict(zip(cols, row))
    assert vals["delta_cents"] == 0.0, vals
    assert vals["n_required"] is None, vals


def test_bootstrap_ci_empty_arm_is_null_on_both_engines(spark, tmp_path):
    """Only clicks, zero purchases: the observed delta divides by the
    purchase-arm count. Unguarded, ANSI Spark raises DIVIDE_BY_ZERO
    while DuckDB emits inf; the shared nullif makes both lanes emit
    NULL. Replicate deltas use the declared greatest(w, 1) floor on
    both sides, so the CI columns stay finite and equal."""
    spec = REGISTRY["q_ab_bootstrap_ci"]
    rows = [(i, "click", float(i + 1)) for i in range(12)]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, value DOUBLE"
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    (row,) = got
    cols = sorted(["n_click", "n_purchase", "n_boot", "delta_obs", "ci_lo", "ci_hi"])
    vals = dict(zip(cols, row))
    assert vals["n_purchase"] == 0, vals
    assert vals["delta_obs"] is None, vals


def test_fellegi_sunter_single_document_corpus(spark, tmp_path):
    """One document: u_den = N(N-1) = 0 and there are no candidate
    pairs — both lanes must return an EMPTY pattern table (the weight
    formulas never evaluate), not a division error."""
    spec = REGISTRY["q_dedup_fellegi_sunter"]
    df = spark.createDataFrame(
        [(1, "hello world", "en", "src0", 11)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    got = spec.builder(spark, str(tmp_path)).toPandas()
    want = _duck(spec.oracle, {"documents": f"{path}/*.parquet"})
    assert len(got) == 0 and len(want) == 0


def test_lifecycle_single_user_single_day(spark, tmp_path):
    """One user, one purchase day: exactly one 'new' row, no churn
    (day+1 is past the horizon — censoring), identical on both
    engines."""
    spec = REGISTRY["q_events_lifecycle"]
    df = spark.createDataFrame(
        [(1, _us(5_000_000), 7, "purchase", 1.0, "{}")],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want
    assert len(got) == 1
    # columns sorted: day, n_active, n_churned, n_new, n_resurrected, n_retained
    (day, n_active, n_churned, n_new, n_res, n_ret) = got[0]
    assert (n_new, n_ret, n_res, n_churned, n_active) == (1, 0, 0, 0, 1)


def test_kaplan_meier_all_censored(spark, tmp_path):
    """Views but zero purchases: every subject is censored, there are
    no event times, and the survival curve is EMPTY on both engines
    (not a crash in the fold over an empty series)."""
    spec = REGISTRY["q_ml_kaplan_meier"]
    rows = [
        (i, _us(i * 1_000_000), i % 3, "view", 1.0, "{}") for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    got = spec.builder(spark, str(tmp_path)).toPandas()
    want = _duck(spec.oracle, {"events": f"{path}/*.parquet"})
    assert len(got) == 0 and len(want) == 0


def test_page_hinkley_short_series_excluded_on_both_engines(spark, tmp_path):
    """A series with fewer than the 7 baseline days is undefined for
    the detector: the oracle's recursive seed requires rn = 7, and
    the engine now filters size(xs) >= 7 to match — before the fix
    the engine emitted a partial-baseline row the oracle never
    produced (a latent hash-parity break found by code review)."""
    spec = REGISTRY["q_ts_page_hinkley"]
    rows = []
    # 'click': 9 days (kept); 'error': 3 days (excluded on both)
    for d in range(9):
        rows.append((d, _us(d * 86_400_000_000), 1, "click", 10.0, "{}"))
    for d in range(3):
        rows.append((100 + d, _us(d * 86_400_000_000), 2, "error", 5.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    assert len(got) == 1  # only the 9-day series survives


def test_time_split_single_distinct_day_null_shares(spark, tmp_path):
    """A corpus whose events all land on ONE distinct day: the
    nearest-rank 80th-percentile boundary is that (minimum) day, so
    nothing is strictly before it and the train total is 0 — the
    share divisions must read NULL on BOTH engines (ANSI Spark would
    raise on DIV 0 while DuckDB diverges; ADVICE r8)."""
    spec = REGISTRY["q_sample_time_split"]
    rows = [
        (i, _us(3 * 86_400_000_000 + i * 1_000_000), i % 2,
         "click" if i % 3 else "view", 1.0, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: boundary_day, drift_bp, event_type, n_test,
    # n_train, test_share_bp, train_share_bp
    for boundary_day, drift, _etype, n_test, n_train, te_bp, tr_bp in got:
        assert boundary_day == 3 and n_train == 0 and n_test > 0
        assert tr_bp is None and drift is None  # train total is 0
        assert te_bp is not None  # test total is positive


def test_sorted_neighborhood_empty_documents_null_jaccard(spark, tmp_path):
    """Two rank-adjacent documents with EMPTY word sets (whitespace-
    only text) pass the 3*0 >= 0 survivor gate with a 0 union size:
    jaccard_bp must read NULL on BOTH engines instead of Spark
    raising on the division (ADVICE r8)."""
    spec = REGISTRY["q_dedup_sorted_neighborhood"]
    rows = [
        (1, "  ", "en", "s0", 2),
        (2, " ", "en", "s0", 1),
        (3, "alpha beta gamma", "en", "s0", 16),
        (4, "alpha beta gamma x", "en", "s0", 18),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: doc_a, doc_b, jaccard_bp, lang, n_common, words_a, words_b
    null_pairs = [r for r in got if r[2] is None]
    assert any(
        {r[0], r[1]} == {1, 2} for r in null_pairs
    ), got  # the empty-empty pair survives with a NULL score


def test_layout_sorted_skipping_sparse_month_single_bucket(spark, tmp_path):
    """A filter month whose only keys map to ONE o_orderkey % 8
    bucket: the scattered lane must report units_hit = 1 /
    reads_multiple_units = FALSE on both engines — the pre-fix
    oracle hard-coded TRUE and broke exactly here (ADVICE r8)."""
    import datetime as dt

    spec = REGISTRY["q_layout_sorted_skipping"]
    rows = [
        # March 1995: two orders, keys 8 and 16 — both bucket 0.
        (8, dt.date(1995, 3, 5), 100.0),
        (16, dt.date(1995, 3, 20), 250.0),
    ] + [
        # Other months fill the remaining buckets.
        (i, dt.date(1994, 6, 1 + (i % 27)), 10.0 * i) for i in range(1, 40)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE"
    )
    path = str(tmp_path / "orders.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: cents, layout, n_rows, reads_multiple_units, units_hit
    by_layout = {r[1]: r for r in got}
    assert by_layout["clustered"][4] == 1  # units_hit
    assert by_layout["shuffled"][4] == 1  # single bucket, provably
    assert by_layout["shuffled"][3] is False  # reads_multiple_units
    assert by_layout["shuffled"][0] == 35000  # cents: (100+250)*100


def test_sprt_immediate_and_no_crossing(spark, tmp_path):
    """q_ab_sprt sequential-state edges: an all-purchase corpus must
    cross the H1 boundary (status flips to accept_h1 at the crossing
    day and STAYS there), and a tiny mixed corpus with |LLR| under the
    boundary must read 'continue' everywhere — identical on both
    engines, including the NULL-crossing-day branch."""
    spec = REGISTRY["q_ab_sprt"]

    # all purchases: +510826/day-event; boundary 2944439 -> crossing
    # within the first day's 10 events
    rows = [
        (i, _us(i * 86_400_000_000 // 10), 1, "purchase", 1.0, "{}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    p1 = str(tmp_path / "a" / "events.parquet")
    df.coalesce(1).write.parquet(p1)
    got = canonical_rows(spec.builder(spark, str(tmp_path / "a")).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{p1}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: day, llr_micro, n_success, n_trials, status
    statuses = [r[4] for r in sorted(got)]
    assert "accept_h1" in statuses and "accept_h0" not in statuses
    # once stopped, stays stopped
    first = statuses.index("accept_h1")
    assert all(s == "accept_h1" for s in statuses[first:])

    # 2 views, 1 purchase on one day: LLR = 510826 - 2*125163 well
    # under the boundary -> continue, via the NULL crossing-day branch
    rows2 = [
        (1, _us(1000), 1, "view", 1.0, "{}"),
        (2, _us(2000), 1, "view", 1.0, "{}"),
        (3, _us(3000), 1, "purchase", 1.0, "{}"),
    ]
    df2 = spark.createDataFrame(
        rows2,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    p2 = str(tmp_path / "b" / "events.parquet")
    df2.coalesce(1).write.parquet(p2)
    got2 = canonical_rows(spec.builder(spark, str(tmp_path / "b")).toPandas())
    want2 = canonical_rows(_duck(spec.oracle, {"events": f"{p2}/*.parquet"}))
    assert got2 == want2, (got2, want2)
    assert [r[4] for r in got2] == ["continue"]


def test_isotropy_rank1_and_zero_vectors(spark, tmp_path):
    """q_emb_isotropy extremes: a label whose vectors all lie on one
    ray reads mean_mass_ppm = 1e6 (total collapse); an all-zero-vector
    label hits the nullif guard and reads NULL on BOTH engines."""
    spec = REGISTRY["q_emb_isotropy"]
    # identical vectors: (Σa)² = n·Σa² exactly (the Cauchy–Schwarz
    # equality case) — magnitude dispersion along the ray would read
    # < 1e6, which is the statistic working as defined
    ray = [0.25] * 4 + [0.0] * 60
    rows = [(i, ray, 0) for i in range(6)] + [
        (10 + i, [0.0] * 64, 1) for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"embeddings": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: isotropic_baseline_ppm, label, mean_mass_ppm, n_vecs
    by_label = {r[1]: r for r in got}
    assert by_label[0][2] == 1_000_000  # rank-1 cloud: all mass on the ray
    assert by_label[1][2] is None  # zero vectors: nullif, not a crash


def test_script_mix_empty_and_multiscript(spark, tmp_path):
    """q_text_script_mix edges: the empty document's latin_bp is NULL
    (nullif, ANSI Spark would raise) and a genuinely multi-script
    document counts each class exactly — both engines byte-identical
    on the shared \\x{{hhhh}} character classes."""
    spec = REGISTRY["q_text_script_mix"]
    rows = [
        (1, "", "en", "s0", 0),
        (2, "Abc где 漢字 123 !", "mix", "s0", 15),
        (3, "plain ascii text", "en", "s0", 16),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    by_id = {r[0]: r for r in got}
    # columns sorted: doc_id, is_ascii, lang, latin_bp, n_chars_calc,
    # n_cjk, n_cyrillic, n_digit, n_latin, n_other, n_space
    assert by_id[1][3] is None and by_id[1][1] is True  # empty doc
    assert by_id[2][5] == 2 and by_id[2][6] == 3 and by_id[2][7] == 3
    assert by_id[2][1] is False  # non-ascii present
    assert by_id[3][1] is True and by_id[3][3] > 0


def test_kruskal_wallis_all_tied_null_h(spark, tmp_path):
    """Every daily total identical -> the tie-correction denominator
    1 - Σ(t³-t)/(N³-N) is exactly 0, so H must read NULL on BOTH
    engines (nullif), never raise (ANSI Spark) or emit ±inf (DuckDB).
    Rank sums stay exact: all N days share midrank2 = N + 1."""
    spec = REGISTRY["q_ml_kruskal_wallis"]
    rows = [
        (_us(day * 86_400_000_000), 10.0) for day in range(14)
    ]
    df = spark.createDataFrame(rows, "o_orderdate TIMESTAMP, o_totalprice DOUBLE")
    path = str(tmp_path / "orders.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: dow7, h_stat, mean_rank_milli, n_days, sum_rank2
    assert len(got) == 7
    for dow7, h_stat, mean_rank_milli, n_days, sum_rank2 in got:
        assert h_stat is None or (isinstance(h_stat, float) and h_stat != h_stat)
        assert n_days == 2
        assert sum_rank2 == 2 * 15  # all 14 days share midrank2 = N + 1


def test_tukey_hsd_degenerate_within_variance(spark, tmp_path):
    """Two corpora the fixtures never produce: (a) one day per weekday
    (n == k, the MSW denominator is 0) and (b) identical days within
    each weekday (SSW exactly 0). Both must read q_ratio NULL and
    significant 0 on BOTH engines; the mean differences stay exact."""
    spec = REGISTRY["q_ml_tukey_hsd"]
    # (a) 7 days, one per weekday
    df = spark.createDataFrame(
        [(_us(day * 86_400_000_000), float(10 + day)) for day in range(7)],
        "o_orderdate TIMESTAMP, o_totalprice DOUBLE",
    )
    p1 = str(tmp_path / "a" / "orders.parquet")
    df.coalesce(1).write.parquet(p1)
    got = canonical_rows(spec.builder(spark, str(tmp_path / "a")).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{p1}/*.parquet"}))
    assert got == want, (got, want)
    assert len(got) == 21
    # columns sorted: diff_millicents, dow_a, dow_b, n_a, n_b, q_ratio, significant
    assert all(r[5] is None and r[6] == 0 for r in got)

    # (b) two identical days per weekday -> SSW == 0, n > k
    df = spark.createDataFrame(
        [
            (_us(day * 86_400_000_000), float(10 + day % 7))
            for day in range(14)
        ],
        "o_orderdate TIMESTAMP, o_totalprice DOUBLE",
    )
    p2 = str(tmp_path / "b" / "orders.parquet")
    df.coalesce(1).write.parquet(p2)
    got = canonical_rows(spec.builder(spark, str(tmp_path / "b")).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{p2}/*.parquet"}))
    assert got == want, (got, want)
    assert all(r[5] is None and r[6] == 0 for r in got)


def test_theta_forecast_single_day_series(spark, tmp_path):
    """A series with ONE observation: the OLS slope denominator
    n·Σt² − (Σt)² is exactly 0 -> slope and both forecasts NULL on
    BOTH engines; the SES level degenerates to that day's cents."""
    spec = REGISTRY["q_ts_theta_forecast"]
    df = spark.createDataFrame(
        [(_us(0), "solo", 12.34), (_us(1000), "solo", 0.66)],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: event_type, forecast_1, forecast_7, n_days, ses_level, slope
    assert got == [("solo", None, None, 1, 1300.0, None)]


def test_source_divergence_identical_and_disjoint_sources(spark, tmp_path):
    """The two distribution extremes: sources with IDENTICAL token
    multisets must read tv_ppm = 0 / jaccard = 1e6, and sources with
    DISJOINT vocabularies must read tv_ppm = 1e6 / jaccard = 0 — the
    exact-integer lane hits both bounds exactly, on both engines."""
    spec = REGISTRY["q_text_source_divergence"]
    df = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma", "sa"),
            (2, "beta gamma alpha beta", "sb"),   # same multiset as sa
            (3, "delta epsilon delta", "sc"),     # disjoint vocabulary
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: n_tokens_a, n_tokens_b, shared_types, source_a,
    #                 source_b, tv_ppm, union_types, vocab_jaccard_ppm
    by_pair = {(r[3], r[4]): r for r in got}
    ident = by_pair[("sa", "sb")]
    assert ident[5] == 0 and ident[7] == 1_000_000
    for pair in [("sa", "sc"), ("sb", "sc")]:
        dis = by_pair[pair]
        assert dis[5] == 1_000_000 and dis[7] == 0


def test_ljung_box_constant_series_null_acf(spark, tmp_path):
    """A CONSTANT daily series has zero variance: every acf and lb_q
    must read NULL on BOTH engines (nullif on the n²Σx² − nS²
    denominator), and the verdict must be 0, never NaN-poisoned."""
    spec = REGISTRY["q_ts_ljung_box"]
    df = spark.createDataFrame(
        [(_us(day * 86_400_000_000), 25.0) for day in range(20)],
        "o_orderdate TIMESTAMP, o_totalprice DOUBLE",
    )
    path = str(tmp_path / "orders.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    assert len(got) == 7
    # columns sorted: acf, lag_d, lb_q, n_days, reject_h0
    for acf, lag_d, lb_q, n_days, reject in got:
        assert acf is None and lb_q is None
        assert n_days == 20 and reject == 0


def test_theil_between_zero_revenue_nation(spark, tmp_path):
    """A nation whose customers never purchased: its Theil term is
    exactly 0 (the x·ln x → 0 convention, spelled as CASE on both
    engines — a bare ln(0) would raise/−inf), its share_bp is 0, and
    it still appears in the report (LEFT join semantics)."""
    spec = REGISTRY["q_agg_theil_between"]
    nation = spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA"), (2, "GAMMA")],
        "n_nationkey INT, n_name STRING",
    )
    customer = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 2)],
        "c_custkey BIGINT, c_nationkey INT",
    )
    orders = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (3, 85.0)],
        "o_custkey BIGINT, o_totalprice DOUBLE",
    )
    views = {}
    for name, df in [("nation", nation), ("customer", customer),
                     ("orders", orders)]:
        p = str(tmp_path / f"{name}.parquet")
        df.coalesce(1).write.parquet(p)
        views[name] = f"{p}/*.parquet"

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, views))
    assert got == want, (got, want)
    # columns sorted: n_customers, n_name, revenue_cents,
    #                 revenue_share_bp, theil_between
    by_name = {r[1]: r for r in got}
    assert set(by_name) == {"ALPHA", "BETA", "GAMMA"}
    assert by_name["GAMMA"][2] == 0 and by_name["GAMMA"][3] == 0
    assert by_name["ALPHA"][2] == 1500 and by_name["BETA"][2] == 8500
    # python cross-check of the two non-zero terms (N=4, Y=10000)
    import math as _m

    want_theil = (1500 / 10000) * _m.log((1500 * 4) / (10000 * 2)) + (
        8500 / 10000
    ) * _m.log((8500 * 4) / (10000 * 1))
    assert abs(by_name["ALPHA"][4] - want_theil) < 1e-6


def test_phonetic_block_single_word_and_typo_names(spark, tmp_path):
    """Names the part fixture never produces: single-word names
    (which block on their OWN sound — last-word semantics) and a
    typo'd noun ('smal ringg' vs 'small ring' — R52 run-collapse
    makes the codes collide, the family's reason to exist).
    Candidates and edit distances must agree exactly on BOTH
    engines."""
    spec = REGISTRY["q_dedup_phonetic_block"]
    df = spark.createDataFrame(
        [("small ring",), ("smal ringg",), ("red rng",), ("anvil",),
         ("anfil",), ("large bolt",)],
        "p_name STRING",
    )
    path = str(tmp_path / "part.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"part": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: block_code, edit_dist, is_near, n_parts_a,
    #                 n_parts_b, name_a, name_b
    pairs = {(r[5], r[6]): r for r in got}
    # ring / ringg / rng all code to R520; anvil/anfil are the
    # classic sound-alike pair (V and F share digit class 1);
    # 'large bolt' pairs with nothing
    assert set(pairs) == {
        ("red rng", "smal ringg"),
        ("red rng", "small ring"),
        ("smal ringg", "small ring"),
        ("anfil", "anvil"),
    }
    r = pairs[("smal ringg", "small ring")]
    assert r[1] == 2 and r[2] == 1  # two edits, near
    assert pairs[("anfil", "anvil")][2] == 1  # one edit, near


def test_rake_all_stopword_and_single_phrase_docs(spark, tmp_path):
    """Documents the fixture never produces: an all-stopword document
    contributes NO phrases (the prefix-sum segmentation emits no
    non-stop runs), and repeated multi-word phrases outscore a
    high-frequency single word (the RAKE degree property). Exact on
    both engines."""
    spec = REGISTRY["q_llm_keyword_rake"]
    df = spark.createDataFrame(
        [
            (1, "the of a and to"),                  # no phrases at all
            (2, "deep learning the deep learning"),  # repeated bigram
            (3, "deep learning of gradient descent"),
            (4, "gradient the gradient a gradient"), # frequent unigram
        ],
        "doc_id BIGINT, text STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: n_occurrences, n_words, phrase, phrase_score_ppm, rank
    by_phrase = {r[2]: r for r in got}
    assert "the" not in by_phrase and "of" not in by_phrase
    # deep appears 3x, always inside "deep learning" (degree 6,
    # freq 3 -> 2e6); learning likewise; gradient 4x with degree
    # 2+1+1+1 = 5 (one 2-word phrase, three singletons) -> 1.25e6
    assert by_phrase["deep learning"][3] == 2 * 2_000_000
    assert by_phrase["gradient"][3] == 1_250_000
    # the bigram ranks strictly above the more frequent unigram
    assert by_phrase["deep learning"][4] < by_phrase["gradient"][4]


def test_burrows_delta_identical_sources_zero(spark, tmp_path):
    """Two sources with IDENTICAL text have identical rates for every
    function word: with only those two sources each D_w is (r_a−r_b)²
    = 0, so n_words_used = 0 and delta = 0 exactly — the zero-variance
    CASE lane, not a NaN. A third, different source makes the other
    two pairs strictly positive on both engines."""
    spec = REGISTRY["q_text_burrows_delta"]
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "sa"),
            (2, "alpha beta gamma delta epsilon", "sb"),
            (3, "alpha alpha alpha beta zeta", "sc"),
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: delta, n_words_used, source_a, source_b
    by_pair = {(r[2], r[3]): r for r in got}
    assert by_pair[("sa", "sb")][0] == 0.0
    assert by_pair[("sa", "sc")][0] > 0.0
    assert by_pair[("sb", "sc")][0] > 0.0
    # identical sources still agree with sc on SOME words' variance
    assert by_pair[("sa", "sb")][1] == by_pair[("sa", "sc")][1]


def test_closeness_bfs_path_graph_and_isolated_seed(spark, tmp_path):
    """A 3-vertex path seeded at one end (harmonic 12·1 + 6·1 = 18)
    and an ISOLATED far-away seed (all zeros — the case classic
    closeness cannot represent and harmonic defines as 0). Exact on
    both engines."""
    spec = REGISTRY["q_graph_closeness_bfs"]
    rows = [
        (0, [0.00, 0.0], 0),    # seed (0 % 200 == 0)
        (1, [0.04, 0.0], 0),    # 1 hop from seed
        (2, [0.08, 0.0], 0),    # 2 hops (0.08 > eps from seed)
        (200, [5.0, 5.0], 0),   # isolated seed
    ]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"embeddings": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: harmonic_x12, n_h1, n_h2, n_h3, n_h4, n_reached, vec_id
    by_seed = {r[6]: r for r in got}
    assert set(by_seed) == {0, 200}
    assert by_seed[0] == (18, 1, 1, 0, 0, 2, 0)
    assert by_seed[200] == (0, 0, 0, 0, 0, 0, 200)


def test_effect_size_zero_variance_arms(spark, tmp_path):
    """Both arms constant at the same value: the pooled SD is exactly
    0, so d and g must read NULL on BOTH engines (nullif, not an ANSI
    raise or ±inf), while the rank-based CLES reads exactly 500000
    ppm — all ties split evenly."""
    spec = REGISTRY["q_ab_effect_size"]
    rows = [("click", 5.0)] * 4 + [("purchase", 5.0)] * 3
    df = spark.createDataFrame(rows, "event_type STRING, value DOUBLE")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: cles_ppm, cohens_d, hedges_g, n_click, n_purchase
    (cles, d, g, n1, n2) = got[0]
    assert (n1, n2) == (4, 3)
    assert d is None and g is None
    assert cles == 500_000


def test_f1_threshold_all_positive_test_set(spark, tmp_path):
    """Every test document is the positive class: FP is 0 at every
    threshold, the lowest threshold reaches recall 1 and is the best
    operating point with F1 exactly 1e6 ppm on both engines."""
    spec = REGISTRY["q_ml_f1_threshold"]
    rows = [
        # even doc_ids train: two buckets with different P(en)
        (0, "en", 50), (2, "en", 50), (4, "de", 150), (6, "en", 150),
        # odd doc_ids test: all en
        (1, "en", 50), (3, "en", 150), (5, "en", 150),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING, n_chars BIGINT")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: best_threshold_bp, f1_ppm, fn, fp, is_best,
    #                 threshold_bp, tp
    assert all(r[3] == 0 for r in got)  # fp always 0
    best_rows = [r for r in got if r[4] == 1]
    assert len(best_rows) == 1
    assert best_rows[0][1] == 1_000_000  # perfect F1 at full recall
    assert best_rows[0][5] == min(r[5] for r in got)


def test_decay_score_horizon_cap(spark, tmp_path):
    """An event 80 weeks older than the anchor hits the declared
    40-week cap: its contribution is cents DIV 2^40 (0 for any
    realistic cents), while a same-week event counts at full weight —
    exactly equal on both engines."""
    spec = REGISTRY["q_events_decay_score"]
    wk = 7 * 86_400_000_000
    rows = [
        (1, _us(80 * wk), 10.0),   # anchor-week event, full weight
        (1, _us(0), 10.0),         # 80 weeks old -> capped k = 40
        (2, _us(79 * wk), 20.0),   # 1 week old -> halved
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: decay_cents, n_events, raw_cents, user_id
    by_user = {r[3]: r for r in got}
    assert by_user[1] == (1000 + 0, 2, 2000, 1)   # 1000 DIV 2^40 == 0
    assert by_user[2] == (1000, 1, 2000, 2)       # halved once


def test_permutation_entropy_monotone_series(spark, tmp_path):
    """A strictly increasing daily series produces ONE ordinal
    pattern (code 0: a<b<c), so the entropy is exactly 0 on both
    engines — the log2(N) − Σc·log2(c)/N form hits its floor."""
    spec = REGISTRY["q_ts_permutation_entropy"]
    rows = [
        (_us(day * 86_400_000_000), float(10 + day)) for day in range(9)
    ]
    df = spark.createDataFrame(rows, "o_orderdate TIMESTAMP, o_totalprice DOUBLE")
    path = str(tmp_path / "orders.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: code, entropy_bits, entropy_norm, n_windows, share_ppm
    assert got == [(0, 0.0, 0.0, 7, 1_000_000)]


def test_ppr_two_node_graph_exact_recurrence(spark, tmp_path):
    """A single customer↔supplier pair with the customer as the only
    seed: both engines must walk the identical 5-round integer
    recurrence — pinned against a python loop, no tolerance."""
    spec = REGISTRY["q_graph_ppr"]
    li = spark.createDataFrame(
        [(1, 1)], "l_orderkey BIGINT, l_suppkey BIGINT"
    )
    od = spark.createDataFrame(
        [(1, 0)], "o_orderkey BIGINT, o_custkey BIGINT"
    )
    views = {}
    for name, df in [("lineitem", li), ("orders", od)]:
        p = str(tmp_path / f"{name}.parquet")
        df.coalesce(1).write.parquet(p)
        views[name] = f"{p}/*.parquet"

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, views))
    assert got == want, (got, want)
    # python recurrence: nodes {0 (seed), 3}, both outdeg 1, no dangling
    base = 10**12
    pr = {0: base, 3: 0}
    for _ in range(5):
        inflow = {0: pr[3], 3: pr[0]}
        pr = {
            0: (15 * base + 85 * inflow[0]) // 100,
            3: (85 * inflow[3]) // 100,
        }
    want_py = sorted((v, p) for v, p in pr.items() if p > 0)
    assert got == want_py


def test_learning_curve_all_positive_corpus(spark, tmp_path):
    """Every document is the positive class: each training subset
    predicts P(en) = 10000 everywhere, so accuracy is exactly 10000 bp
    at EVERY training size on both engines."""
    spec = REGISTRY["q_ml_learning_curve"]
    rows = [(i, "en", 50 + (i % 3) * 100) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING, n_chars BIGINT")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: accuracy_bp, n_test, n_train, train_frac_8th
    assert len(got) == 4
    assert all(r[0] == 10_000 for r in got)


def test_group_holdout_single_source_null_shift(spark, tmp_path):
    """One source: holding it out leaves an EMPTY training side, so
    the composition-shift is undefined — NULL on BOTH engines (nullif
    on n_total − n_src), never an ANSI divide error."""
    spec = REGISTRY["q_sample_group_holdout"]
    df = spark.createDataFrame(
        [(1, "en", "only"), (2, "de", "only"), (3, "en", "only")],
        "doc_id BIGINT, lang STRING, source STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: lang_shift_bp, n_test, n_train, source
    assert got == [(None, 3, 0, "only")]


def test_cramers_v_perfect_and_independent_tables(spark, tmp_path):
    """The V bounds, exactly: a diagonal 2×2 table (perfect
    association) reads V = 1.0 and an exactly-proportional table
    reads V = 0.0, with every expected count exact, on both
    engines."""
    spec = REGISTRY["q_agg_cramers_v"]
    perfect = [("en", "a")] * 5 + [("de", "b")] * 5
    indep = [("en", "a")] * 4 + [("en", "b")] * 4 + [("de", "a")] * 2 + [
        ("de", "b")
    ] * 2
    for rows, want_v in [(perfect, 1.0), (indep, 0.0)]:
        sub = tmp_path / ("p" if want_v else "i")
        df = spark.createDataFrame(rows, "lang STRING, source STRING")
        path = str(sub / "documents.parquet")
        df.coalesce(1).write.parquet(path)
        got = canonical_rows(spec.builder(spark, str(sub)).toPandas())
        want = canonical_rows(
            _duck(spec.oracle, {"documents": f"{path}/*.parquet"})
        )
        assert got == want, (got, want)
        # columns sorted: cramers_v, e_milli, lang, o, pearson_resid, source
        assert all(r[0] == want_v for r in got), got


def test_coverage_curve_single_token_corpus(spark, tmp_path):
    """One distinct token: the whole curve collapses to rank 1 and
    the head share is exactly 1e6 ppm on both engines."""
    spec = REGISTRY["q_text_coverage_curve"]
    df = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark")],
        "doc_id BIGINT, text STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: k50, k90, k99, n_tokens, top1_share_ppm, vocab_size
    assert got == [(1, 1, 1, 4, 1_000_000, 1)]


def test_stl_strength_constant_series_null(spark, tmp_path):
    """A constant dense hourly series: every deviation is exactly 0,
    both variance denominators are 0, and both strengths read NULL on
    BOTH engines (nullif), never NaN or a raise."""
    spec = REGISTRY["q_ts_stl_strength"]
    rows = [
        (_us(h * 3_600_000_000), "flat", 10.0) for h in range(48)
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING, value DOUBLE")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: event_type, n_hours, seasonal_strength, trend_strength
    assert len(got) == 1
    et, n_hours, fs, ft = got[0]
    assert fs is None
    # trend variance is also 0 here (constant cents, seasonal 0)
    assert ft is None
    assert n_hours > 0


def test_clustering_coeff_wedge_free_graph_null_transitivity(spark, tmp_path):
    """A graph of ISOLATED ε-pairs (every vertex degree 1): there are
    no wedges, so the global transitivity is undefined — NULL on BOTH
    engines (nullif), never an ANSI divide error; every local cc is
    NULL too (degree < 2). Code-review r9s2 finding #1."""
    spec = REGISTRY["q_graph_clustering_coeff"]
    rows = [
        (0, [0.00, 0.00], 0), (1, [0.04, 0.00], 0),   # pair A
        (10, [5.00, 5.00], 0), (11, [5.04, 5.00], 0), # pair B, far away
    ]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"embeddings": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: degree, local_cc_ppm, n_triangles, transitivity_ppm, vec_id
    assert len(got) == 4
    for degree, local_cc, n_tri, trans, vec_id in got:
        assert degree == 1 and n_tri == 0
        assert local_cc is None and trans is None


def test_ppr_empty_seed_set_empty_result(spark, tmp_path):
    """No node matches the seed predicate (a filtered corpus slice
    whose custkeys are all non-multiples of 10): the result is EMPTY
    on BOTH engines — the builder guards the SCALE DIV |S| division
    and the oracle's nullif turns the base NULL. Code-review r9s2
    finding #2 (the unguarded form raised ZeroDivisionError)."""
    spec = REGISTRY["q_graph_ppr"]
    li = spark.createDataFrame([(1, 1)], "l_orderkey BIGINT, l_suppkey BIGINT")
    od = spark.createDataFrame([(1, 1)], "o_orderkey BIGINT, o_custkey BIGINT")
    views = {}
    for name, df in [("lineitem", li), ("orders", od)]:
        p = str(tmp_path / f"{name}.parquet")
        df.coalesce(1).write.parquet(p)
        views[name] = f"{p}/*.parquet"

    got = spec.builder(spark, str(tmp_path)).toPandas()
    want = _duck(spec.oracle, views)
    assert len(got) == 0 and len(want) == 0
    assert sorted(got.columns) == sorted(want.columns) == ["node", "pr"]


def test_nelson_aalen_all_censored_and_single_event(spark, tmp_path):
    """All-censored corpus: no event times, EMPTY hazard table on
    both engines (the q_ml_kaplan_meier convention). One subject who
    converts same-day: a single row with hazard exactly 1e12."""
    spec = REGISTRY["q_ml_nelson_aalen"]
    rows = [
        (i, _us(i * 1_000_000), i % 3, "view", 1.0, "{}") for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    p1 = str(tmp_path / "a" / "events.parquet")
    df.coalesce(1).write.parquet(p1)
    got = spec.builder(spark, str(tmp_path / "a")).toPandas()
    want = _duck(spec.oracle, {"events": f"{p1}/*.parquet"})
    assert len(got) == 0 and len(want) == 0

    df = spark.createDataFrame(
        [(1, _us(0), 7, "view", 1.0, "{}"),
         (2, _us(5_000_000), 7, "purchase", 1.0, "{}")],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    p2 = str(tmp_path / "b" / "events.parquet")
    df.coalesce(1).write.parquet(p2)
    got = canonical_rows(spec.builder(spark, str(tmp_path / "b")).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"events": f"{p2}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: cum_hazard_e12, duration_days, hazard_e12,
    #                 n_events, n_risk
    assert got == [(10**12, 0, 10**12, 1, 1)]


def test_theil_sen_linear_constant_and_single_day(spark, tmp_path):
    """A perfectly linear daily series reads slope exactly 1e6·k, a
    constant one exactly 0, and a single-day corpus has no pairs —
    EMPTY on both engines (no NULL-division row leaks out)."""
    spec = REGISTRY["q_ts_theil_sen"]
    cases = [
        ("lin", [(d, 10.0 + 3.0 * d) for d in range(10)], 3_00 * 1_000_000),
        ("flat", [(d, 42.0) for d in range(10)], 0),
    ]
    for name, series, want_micro in cases:
        df = spark.createDataFrame(
            [(_us(d * 86_400_000_000), v) for d, v in series],
            "o_orderdate TIMESTAMP, o_totalprice DOUBLE",
        )
        path = str(tmp_path / name / "orders.parquet")
        df.coalesce(1).write.parquet(path)
        got = canonical_rows(
            spec.builder(spark, str(tmp_path / name)).toPandas()
        )
        want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
        assert got == want, (name, got, want)
        # columns sorted: n_days, n_pairs, ts_slope_micro
        assert got == [(10, 45, want_micro)], (name, got)

    df = spark.createDataFrame(
        [(_us(0), 5.0)], "o_orderdate TIMESTAMP, o_totalprice DOUBLE"
    )
    path = str(tmp_path / "one" / "orders.parquet")
    df.coalesce(1).write.parquet(path)
    got = spec.builder(spark, str(tmp_path / "one")).toPandas()
    want = _duck(spec.oracle, {"orders": f"{path}/*.parquet"})
    assert len(got) == 0 and len(want) == 0


def test_rouge_l_identical_disjoint_and_empty(spark, tmp_path):
    """The ROUGE-L extremes: an identical pair reads F = 1e6 exactly,
    a vocabulary-disjoint pair reads LCS 0 with NULL F (nullif on
    p+r), and an empty-text candidate reads NULL precision — all
    identical across engines."""
    spec = REGISTRY["q_text_rouge_l_pairs"]
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"), (1, "alpha beta gamma"),   # identical
            (2, "alpha beta gamma"), (3, "delta epsilon"),      # disjoint
            (4, ""), (5, "alpha"),                              # empty cand
            (6, "a x b y c"), (7, "a b c"),                     # subsequence
        ],
        "doc_id BIGINT, text STRING",
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = canonical_rows(spec.builder(spark, str(tmp_path)).toPandas())
    want = canonical_rows(_duck(spec.oracle, {"documents": f"{path}/*.parquet"}))
    assert got == want, (got, want)
    # columns sorted: f_ppm, lcs_len, len_cand, len_ref, p_ppm,
    #                 pair_id, r_ppm
    by_pair = {r[5]: r for r in got}
    assert by_pair[0] == (1_000_000, 3, 3, 3, 1_000_000, 0, 1_000_000)
    assert by_pair[1][:2] == (None, 0) and by_pair[1][4] == 0
    assert by_pair[2][2] == 0 and by_pair[2][4] is None
    # 'a b c' is a subsequence of 'a x b y c': LCS 3, recall 1e6
    assert by_pair[3][1] == 3 and by_pair[3][6] == 1_000_000


def test_goertzel_pure_weekly_and_constant(spark, tmp_path):
    """A period-7 square-ish wave concentrates power in the weekly
    bin (p7 ≫ p11) and a constant series reads NULL in both bins
    (zero variance, nullif) — identical on both engines."""
    spec = REGISTRY["q_ts_goertzel_weekly"]
    weekly = [
        (_us(d * 86_400_000_000), 100.0 if d % 7 == 0 else 10.0)
        for d in range(56)
    ]
    flat = [(_us(d * 86_400_000_000), 42.0) for d in range(56)]
    for name, rows in [("w", weekly), ("f", flat)]:
        df = spark.createDataFrame(
            rows, "o_orderdate TIMESTAMP, o_totalprice DOUBLE"
        )
        path = str(tmp_path / name / "orders.parquet")
        df.coalesce(1).write.parquet(path)
        got = canonical_rows(spec.builder(spark, str(tmp_path / name)).toPandas())
        want = canonical_rows(_duck(spec.oracle, {"orders": f"{path}/*.parquet"}))
        assert got == want, (name, got, want)
        # columns sorted: n_days, p11_norm, p7_norm
        (n_days, p11, p7) = got[0]
        assert n_days == 56
        if name == "w":
            assert p7 > 10 * p11 >= 0
        else:
            assert p7 is None and p11 is None
