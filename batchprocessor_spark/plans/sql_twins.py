"""Spark-SQL twins: the registered queries ``Engine.query_sql`` serves.

Every registered query carries a DuckDB oracle and a DataFrame
builder; ``Engine.query(name)`` serves every name.  This module holds
the Spark-SQL texts for the names whose SQL lane a test compares
against the builder (``tests/test_sql_twins.py`` runs each twin
through a real ``spark.sql()`` and asserts the result is
value-identical to the builder's):

- ``SPARK_SQL_TWINS``: hand-written twins for contract queries whose
  oracle uses DuckDB-only constructs;
- ``_extended_twins()``: hand-written twins for user-facing extended
  analytics;
- the rest of the SURVEY §2.2 contract set (``VERIFIED_TWINS``),
  served as the oracle text with ``//`` spelled ``DIV`` and bare
  decimal literals suffixed ``D``.

Every other name raises ``KeyError``.  Nothing is read from disk.

Twin-writing rules (learned the exact-hash way):
- numeric literals that the builder creates with ``F.lit(100.0)``
  must be DOUBLE literals (``100.0D``) — a bare ``100.0`` parses as
  DECIMAL(4,1) and turns double division into decimal division;
- integer division on the decimal(38,0) exact-cents accumulators is
  ``DIV`` (DuckDB spells it ``//``);
- fold order matters for float sums: ``aggregate(v, 0.0D, (a,x)->a+x)``
  reproduces the builder's ``F.aggregate`` left fold exactly.
"""

from __future__ import annotations

import re

from batchprocessor_spark.plans.registry import load_all

# Queries whose oracle text is NOT valid/equivalent Spark SQL and need
# a hand-written Spark-dialect twin (beyond the mechanical // -> DIV).
SPARK_SQL_TWINS: dict[str, str] = {
    "q_agg_approx": """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           TRUE AS approx_ok,
           round(percentile(l_extendedprice, 0.5), 2) AS p50_price,
           round(percentile(l_extendedprice, 0.95), 2) AS p95_price,
           TRUE AS pct_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    "q_win_analytic": """
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS first_val,
           last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS last_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "q_win_frame": """
    WITH c AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT o_orderkey, o_custkey,
           (sum(cents) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / 100.0D
             AS run_sum,
           (sum(cents) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 100.0D
             / (count(*) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS mov_avg3,
           (sum(cents) OVER (PARTITION BY o_orderstatus
                 ORDER BY o_orderkey
                 RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)) / 100.0D
             AS range_sum
    FROM c
    """,
    "q_fn_string": """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           lower(p_type) AS type_lower,
           substr(p_name, 1, 8) AS name_prefix,
           trim(p_name) AS name_trim,
           CAST(length(p_name) AS BIGINT) AS name_len,
           concat_ws(':', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           size(split(p_type, ' ')) AS type_words,
           (p_type LIKE '%BRASS%') AS is_brass,
           startswith(p_name, 'a') AS starts_a
    FROM part
    """,
    "q_fn_date": """
    SELECT o_orderkey,
           date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd') AS order_month,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_mon,
           dayofweek(o_orderdate) - 1 AS order_dow,
           date_format(add_months(o_orderdate, 3), 'yyyy-MM-dd') AS plus_3m,
           datediff(DATE'2002-01-01', o_orderdate) AS days_to_2002,
           date_format(o_orderdate, 'yyyy-MM-dd') AS order_day_str,
           date_format(last_day(o_orderdate), 'yyyy-MM-dd') AS month_end
    FROM orders
    """,
    "q_fn_array": """
    WITH e AS (
      SELECT vec_id, embedding,
             transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
    SELECT vec_id,
           size(embedding) AS dim,
           round(element_at(v, 1), 6) AS first_elem,
           round(aggregate(v, 0.0D, (a, x) -> a + x), 4) AS vec_sum,
           round(array_max(v), 6) AS vec_max,
           round(array_min(v), 6) AS vec_min,
           round(aggregate(transform(v, x -> x * x), 0.0D, (a, x) -> a + x), 4)
             AS vec_sq_sum,
           size(filter(v, x -> x > 0)) AS n_positive,
           round(aggregate(slice(v, 1, 8), 0.0D, (a, x) -> a + x), 4) AS head_sum
    FROM e
    """,
    "q_fn_json": """
    SELECT event_id,
           CAST(j.k AS INT) AS k_value,
           CAST(j.k AS INT) % 10 AS k_bucket,
           (j.missing IS NULL) AS missing_is_null
    FROM events
    LATERAL VIEW json_tuple(props, 'k', 'missing') j AS k, missing
    """,
}


def _extended_twins() -> dict[str, str]:
    """Spark-SQL twins for the most user-facing EXTENDED operators:
    the analytics an analyst reaches for first — funnels, rolling WAU,
    cohort LTV/retention, sessionization, stickiness, snapshot diff,
    A/B stats — exposed through ``engine.sql()`` with results
    value-identical to the DataFrame builders
    (tests/test_sql_twins.py::test_extended_twin_matches_builder).

    Same twin-writing discipline as the contract set: exact-integer
    lanes spelled with the builder's own operations (round→BIGINT
    cents, decimal(38,0) accumulators, DIV on non-negative operands),
    float stages copied operation-for-operation from the shared
    formula text so the doubles agree bit-for-bit. Built lazily so the
    module import stays light (the funnel window and power formulas
    are imported from the operator modules — ONE source of truth)."""
    from batchprocessor_spark.operators.analytics import (
        _FUNNEL_WINDOW_US,
        _POWER_FORMULAS,
    )

    from batchprocessor_spark.functions.text import _FLESCH
    from batchprocessor_spark.operators.similarity import (
        _JL_SCALE,
        _JL_SIGN,
        _JL_TARGET,
    )

    from batchprocessor_spark.functions.text import _GOPHER_STOPS
    from batchprocessor_spark.functions.text import _RAKE_STOPWORDS

    t_us = _FUNNEL_WINDOW_US
    _gopher_stop_list = ", ".join("'" + w + "'" for w in _GOPHER_STOPS)
    _rake_stop_list = ", ".join("'" + w + "'" for w in _RAKE_STOPWORDS)
    jl_sign = _JL_SIGN.format(h="i*64 + j + 1", div="div")
    # Shared shingle CTE for the two contamination twins: Spark
    # concat() is NULL on any NULL argument (concat_ws would SKIP the
    # missing leads and fabricate short shingles), reproducing the
    # oracle's || NULL-propagation + QUALIFY. ONE copy so a future
    # fix cannot diverge the twins.
    shingle_cte = """    WITH docs AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
    words AS (
      SELECT doc_id, i, w FROM docs LATERAL VIEW posexplode(ws) t AS i, w),
    shw AS (
      SELECT doc_id,
             concat(w, ' ', lead(w, 1) OVER win, ' ',
                    lead(w, 2) OVER win) AS shingle
      FROM words
      WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shw
           WHERE shingle IS NOT NULL)"""

    return {
        "q_text_lexical_richness": """
    WITH w AS (
      SELECT source, w FROM documents
      LATERAL VIEW explode(split(text, ' ')) t AS w
      WHERE w <> ''),
    f AS (
      SELECT source, w, CAST(count(1) AS BIGINT) AS c
      FROM w GROUP BY source, w)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(1) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((10000 * count(1)) DIV sum(c) AS BIGINT) AS ttr_bp,
           CAST((1000000 * sum(c * (c - 1)))
                DIV nullif(sum(c) * (sum(c) - 1), 0) AS BIGINT) AS simpson_ppm
    FROM f GROUP BY source
    """,
        "q_text_readability": f"""
    WITH d AS (
      SELECT source,
             CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_words,
             CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))
               AS BIGINT) AS n_sentences,
             CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))
               AS BIGINT) AS n_syllables
      FROM documents),
    s AS (
      SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_words,
             CAST(sum(n_sentences) AS BIGINT) AS n_sentences,
             CAST(sum(n_syllables) AS BIGINT) AS n_syllables
      FROM d GROUP BY source),
    x AS (
      SELECT source, n_docs, n_words, n_sentences, n_syllables,
             CAST(n_words AS DOUBLE) AS words,
             CAST(n_sentences AS DOUBLE) AS sentences,
             CAST(n_syllables AS DOUBLE) AS syllables
      FROM s)
    SELECT source, n_docs, n_words, n_sentences, n_syllables,
           round({_FLESCH}, 4) AS flesch
    FROM x
    """,
        "q_llm_dup_token_mass": """
    WITH d AS (
      SELECT md5(text) AS h,
             CAST(size(split(text, ' ')) AS BIGINT) AS toks
      FROM documents),
    g AS (
      SELECT h, CAST(count(1) AS BIGINT) AS dup_count,
             CAST(sum(toks) AS BIGINT) AS toks
      FROM d GROUP BY h),
    k AS (
      SELECT dup_count, CAST(count(1) AS BIGINT) AS n_groups,
             CAST(sum(dup_count) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS token_mass
      FROM g GROUP BY dup_count)
    SELECT dup_count, n_groups, n_docs, token_mass,
           CAST((10000 * token_mass) DIV (sum(token_mass) OVER ()) AS BIGINT)
             AS mass_bp
    FROM k
    """,
        "q_llm_normalize_dedup_gain": """
    WITH d AS (
      SELECT md5(text) AS h_raw,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' '), ' +', ' '))) AS h_norm
      FROM documents)
    SELECT CAST(count(1) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h_raw) AS BIGINT) AS distinct_raw,
           CAST(count(DISTINCT h_norm) AS BIGINT) AS distinct_norm,
           CAST(count(1) - count(DISTINCT h_raw) AS BIGINT) AS dup_raw,
           CAST(count(1) - count(DISTINCT h_norm) AS BIGINT) AS dup_norm,
           CAST((10000 * ((count(1) - count(DISTINCT h_norm))
                          - (count(1) - count(DISTINCT h_raw))))
                DIV count(1) AS BIGINT) AS gain_bp
    FROM d
    """,
        "q_emb_random_projection": f"""
    WITH v AS (
      SELECT vec_id,
             transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) * {_JL_SCALE}) AS BIGINT)) AS q
      FROM embeddings),
    p AS (
      SELECT vec_id, q,
             transform(sequence(0, {_JL_TARGET - 1}), j ->
               aggregate(zip_with(q, sequence(0, 63), (x, i) ->
                 x * {jl_sign}), CAST(0 AS BIGINT), (acc, v) -> acc + v)) AS y
      FROM v),
    pairs AS (
      SELECT a.vec_id,
             aggregate(zip_with(a.q, b.q, (x, z) -> (x - z) * (x - z)),
                       CAST(0 AS BIGINT), (acc, v) -> acc + v) AS d_orig,
             aggregate(zip_with(a.y, b.y, (x, z) -> (x - z) * (x - z)),
                       CAST(0 AS BIGINT), (acc, v) -> acc + v) AS d_proj
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1)
    SELECT vec_id, d_orig, d_proj,
           (10000 * d_proj) DIV nullif({_JL_TARGET} * d_orig, 0) AS ratio_bp
    FROM pairs
    """,
        "q_funnel_time_window": f"""
    WITH t AS (
      SELECT user_id, event_type, unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events),
    x AS (
      SELECT user_id, event_type, us, event_id,
             last_value(CASE WHEN event_type = 'view' THEN us END)
               IGNORE NULLS OVER w AS lv
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING)),
    y AS (
      SELECT user_id, event_type, us, lv,
             last_value(CASE WHEN event_type = 'click' THEN lv END)
               IGNORE NULLS OVER w AS c_lv
      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING)),
    d AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND c_lv IS NOT NULL
                       AND c_lv >= us - {t_us} THEN 3
                      WHEN event_type = 'click' AND lv IS NOT NULL
                       AND lv >= us - {t_us} THEN 2
                      WHEN event_type = 'view' THEN 1
                      ELSE 0 END) AS depth
      FROM y GROUP BY user_id)
    SELECT depth, CAST(count(*) AS BIGINT) AS n_users FROM d GROUP BY depth
    """,
        "q_funnel_conversion": """
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.v_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
      GROUP BY e.user_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS view_users,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS click_users,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS purchase_users
    """,
        "q_events_rolling_active_users": """
    WITH ud AS (
      SELECT DISTINCT user_id, to_date(date_trunc('day', ts)) AS day
      FROM events),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
    fan AS (
      SELECT DISTINCT user_id, date_add(day, x) AS d
      FROM ud CROSS JOIN b
      LATERAL VIEW explode(sequence(0, 6)) u AS x
      WHERE date_add(day, x) BETWEEN b.lo AND b.hi),
    wau AS (SELECT d, CAST(count(*) AS BIGINT) AS wau_7 FROM fan GROUP BY d),
    dau AS (
      SELECT day AS d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
    SELECT date_format(w.d, 'yyyy-MM-dd') AS day,
           CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau, w.wau_7,
           CAST((10000 * coalesce(dau.dau, 0)) DIV w.wau_7 AS BIGINT)
             AS dau_wau_bp
    FROM wau w LEFT JOIN dau ON dau.d = w.d
    """,
        "q_events_cohort_ltv": """
    WITH e AS (
      SELECT user_id, event_type,
             unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000 AS week,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    cohorts AS (
      SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY cohort_week),
    rev AS (
      SELECT c.cohort_week, CAST(e.week - c.cohort_week AS BIGINT) AS week_idx,
             CAST(sum(e.cents) AS BIGINT) AS cents
      FROM e JOIN cohorts c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_week, week_idx, cents,
             CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents
      FROM rev)
    SELECT CAST(cum.cohort_week AS BIGINT) AS cohort_week, cum.week_idx,
           s.n_users, cum.cents, cum.cum_cents,
           CAST((100 * cum.cum_cents) DIV s.n_users AS BIGINT)
             AS cum_cents_per_user_c2
    FROM cum JOIN sizes s ON s.cohort_week = cum.cohort_week
    """,
        "q_win_session": """
    SELECT user_id,
           unix_timestamp(CAST(session_window.start AS TIMESTAMP)) AS session_start,
           unix_timestamp(CAST(session_window.end AS TIMESTAMP)) AS session_end,
           cnt AS n_events,
           CAST(sv DIV 100 AS DOUBLE) + CAST(sv % 100 AS DOUBLE) / 100
             AS total_value
    FROM (
      SELECT user_id, session_window,
             sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0)))
               AS sv,
             count(*) AS cnt
      FROM events
      GROUP BY session_window(ts, '30 minutes'), user_id)
    """,
        "q_retention_cohorts": """
    WITH withc AS (
      SELECT user_id, ts,
             min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events)
    SELECT date_format(date_trunc('day', first_ts), 'yyyy-MM-dd')
             AS cohort_day,
           datediff(date_trunc('day', ts), date_trunc('day', first_ts))
             AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users
    FROM withc GROUP BY 1, 2
    """,
        "q_events_stickiness": """
    WITH t AS (
      SELECT DISTINCT date_format(ts, 'yyyy-MM') AS month,
             date_format(ts, 'yyyy-MM-dd') AS day,
             user_id
      FROM events)
    SELECT month,
           CAST(count(*) AS BIGINT) AS dau_sum,
           CAST(count(DISTINCT day) AS BIGINT) AS n_days,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
           CAST((10000 * count(*))
              DIV (count(DISTINCT day) * count(DISTINCT user_id)) AS BIGINT)
             AS stickiness_bp
    FROM t GROUP BY month
    """,
        "q_merge_snapshot_diff": """
    WITH b AS (
      SELECT min(unix_micros(CAST(ts AS TIMESTAMP))) AS mn,
             max(unix_micros(CAST(ts AS TIMESTAMP))) AS mx
      FROM events),
    c AS (
      SELECT mn + (mx - mn) DIV 3 AS t1,
             mn + ((mx - mn) * 2) DIV 3 AS t2
      FROM b),
    r1 AS (
      SELECT user_id, event_type AS state,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events CROSS JOIN c
      WHERE unix_micros(CAST(ts AS TIMESTAMP)) <= t1),
    s1 AS (SELECT user_id, state FROM r1 WHERE rn = 1),
    r2 AS (
      SELECT user_id, event_type AS state,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events CROSS JOIN c
      WHERE unix_micros(CAST(ts AS TIMESTAMP)) <= t2),
    s2 AS (SELECT user_id, state FROM r2 WHERE rn = 1),
    d AS (
      SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
                  WHEN s2.user_id IS NULL THEN 'removed'
                  WHEN s1.state <> s2.state THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
             s2.state AS state_now
      FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(DISTINCT state_now) AS BIGINT) AS n_states
    FROM d GROUP BY change_type
    """,
        "q_ab_welch_ttest": """
    WITH s AS (
      SELECT CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS n1,
             sum(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = 'click') AS sx1,
             sum(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = 'click') AS sxx1,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n2,
             sum(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = 'purchase') AS sx2,
             sum(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = 'purchase') AS sxx2
      FROM events
      WHERE event_type IN ('click', 'purchase')),
    m AS (
      SELECT n1, n2,
             CAST(sx1 AS DOUBLE) / n1 AS m1,
             CAST(sx2 AS DOUBLE) / n2 AS m2,
             (CAST(sxx1 AS DOUBLE)
               - (CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) / n1)
               / (n1 - 1) AS v1,
             (CAST(sxx2 AS DOUBLE)
               - (CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)) / n2)
               / (n2 - 1) AS v2
      FROM s)
    SELECT n1 AS n_click, n2 AS n_purchase,
           round(m1 / 100, 6) AS mean_click,
           round(m2 / 100, 6) AS mean_purchase,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat
    FROM m
    """,
        "q_ab_power_mde": f"""
    WITH s AS (
      SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1_i,
             CAST(sum(CASE WHEN event_type = 'click' THEN
                   CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
                 END) AS BIGINT) AS sx1_i,
             CAST(sum(CASE WHEN event_type = 'click' THEN
                   CAST(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)
                        AS DECIMAL(38,0))
                 END) AS BIGINT) AS sxx1_i,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2_i,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN
                   CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
                 END) AS BIGINT) AS sx2_i,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN
                   CAST(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)
                        AS DECIMAL(38,0))
                 END) AS BIGINT) AS sxx2_i
      FROM events WHERE event_type IN ('click', 'purchase')),
    d AS (
      SELECT n1_i AS n1_out, n2_i AS n2_out,
             CAST(n1_i AS DOUBLE) AS n1, CAST(sx1_i AS DOUBLE) AS sx1,
             CAST(sxx1_i AS DOUBLE) AS sxx1,
             CAST(n2_i AS DOUBLE) AS n2, CAST(sx2_i AS DOUBLE) AS sx2,
             CAST(sxx2_i AS DOUBLE) AS sxx2
      FROM s)
    SELECT n1_out AS n1, n2_out AS n2,
           round({_POWER_FORMULAS['delta']}, 6) AS delta_cents,
           round({_POWER_FORMULAS['mde']}, 6) AS mde_cents,
           CAST({_POWER_FORMULAS['n_required']} AS BIGINT) AS n_required
    FROM d
    """,
        "q_events_lifecycle": """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(unix_micros(cast(ts as timestamp))
                  DIV 86400000000 AS BIGINT) AS day
      FROM events WHERE event_type = 'purchase'),
    marked AS (
      SELECT user_id, day,
             min(day) OVER (PARTITION BY user_id) AS first_day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_d,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_d
      FROM uw),
    maxd AS (SELECT CAST(max(day) AS BIGINT) AS max_day FROM uw),
    status AS (
      SELECT day,
             CASE WHEN day = first_day THEN 1 ELSE 0 END AS is_new,
             CASE WHEN prev_d = day - 1 THEN 1 ELSE 0 END AS is_retained,
             CASE WHEN day > first_day
                   AND (prev_d IS NULL OR prev_d < day - 1)
                  THEN 1 ELSE 0 END AS is_resurrected,
             0 AS is_churned
      FROM marked
      UNION ALL
      SELECT m.day + 1, 0, 0, 0, 1
      FROM marked m CROSS JOIN maxd
      WHERE (m.next_d IS NULL OR m.next_d > m.day + 1)
        AND m.day + 1 <= maxd.max_day)
    SELECT day,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(sum(is_retained) AS BIGINT) AS n_retained,
           CAST(sum(is_resurrected) AS BIGINT) AS n_resurrected,
           CAST(sum(is_churned) AS BIGINT) AS n_churned,
           CAST(sum(is_new + is_retained + is_resurrected) AS BIGINT)
             AS n_active
    FROM status GROUP BY day
    """,
        "q_llm_gopher_rules": f"""
    WITH d AS (
      SELECT lang, source,
             CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_words,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc,
             CAST(size(filter(split(text, ' '),
                  w -> w rlike '[a-zA-Z]')) AS BIGINT) AS n_alpha,
             CAST(size(filter(split(lower(text), ' '),
                  w -> array_contains(array({_gopher_stop_list}), w)))
               AS BIGINT) AS n_stop,
             CAST(size(array_distinct(filter(split(text, ' '),
                  x -> x <> ''))) AS BIGINT) AS n_distinct
      FROM documents),
    r AS (
      SELECT lang, source,
             CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS p_wc,
             CASE WHEN 3 * n_words <= nc AND nc <= 10 * n_words
                  THEN 1 ELSE 0 END AS p_mwl,
             CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS p_alpha,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop,
             CASE WHEN 2 * n_distinct >= n_words THEN 1 ELSE 0 END AS p_rep
      FROM d)
    SELECT lang, source,
           CAST(count(1) AS BIGINT) AS n_docs,
           CAST(sum(p_wc) AS BIGINT) AS n_pass_wordcount,
           CAST(sum(p_mwl) AS BIGINT) AS n_pass_meanwordlen,
           CAST(sum(p_alpha) AS BIGINT) AS n_pass_alphawords,
           CAST(sum(p_stop) AS BIGINT) AS n_pass_stopwords,
           CAST(sum(p_rep) AS BIGINT) AS n_pass_repetition,
           CAST(sum(p_wc * p_mwl * p_alpha * p_stop * p_rep) AS BIGINT)
             AS n_pass_all,
           CAST((10000 * sum(p_wc * p_mwl * p_alpha * p_stop * p_rep))
                DIV count(1) AS BIGINT) AS pass_all_bp
    FROM r GROUP BY lang, source
    """,
        "q_ml_kaplan_meier": """
    WITH e AS (SELECT user_id, ts, event_type FROM events),
    vw AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS v_ts
      FROM e),
    per_user AS (
      SELECT user_id, v_ts,
             min(CASE WHEN event_type = 'purchase' AND ts >= v_ts
                      THEN ts END) AS p_ts,
             max(ts) AS t_max
      FROM vw WHERE v_ts IS NOT NULL
      GROUP BY user_id, v_ts),
    subj AS (
      SELECT CAST((unix_micros(cast(coalesce(p_ts, t_max) as timestamp))
                   - unix_micros(cast(v_ts as timestamp)))
                  DIV 86400000000 AS BIGINT) AS dur,
             CASE WHEN p_ts IS NULL THEN 0 ELSE 1 END AS evt
      FROM per_user),
    km AS (
      SELECT dur, CAST(sum(evt) AS BIGINT) AS e,
             CAST(count(1) AS BIGINT) AS leave
      FROM subj GROUP BY dur),
    risk AS (
      SELECT dur, e,
             CAST(sum(leave) OVER (ORDER BY dur
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
               AS n_risk
      FROM km),
    series AS (
      SELECT array_sort(collect_list(struct(dur, n_risk, e))) AS xs
      FROM risk WHERE e > 0),
    folded AS (
      SELECT aggregate(
        xs,
        struct(CAST(1000000000000 AS BIGINT) AS s,
               CAST(array() AS
                 ARRAY<STRUCT<dur: BIGINT, n: BIGINT,
                              e: BIGINT, surv: BIGINT>>) AS out),
        (acc, x) -> struct(
          CAST((CAST(acc.s AS DECIMAL(38, 0)) * (x.n_risk - x.e))
               DIV x.n_risk AS BIGINT) AS s,
          array_append(acc.out,
            struct(x.dur AS dur, x.n_risk AS n, x.e AS e,
                   CAST((CAST(acc.s AS DECIMAL(38, 0)) * (x.n_risk - x.e))
                        DIV x.n_risk AS BIGINT) AS surv))
            AS out)
      ).out AS out
      FROM series)
    SELECT st.dur AS duration_days, st.n AS n_risk, st.e AS n_events,
           st.surv AS survival_e12
    FROM folded LATERAL VIEW explode(out) t AS st
    """,
        "q_llm_text_stats": """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           size(split(text, ' ')) AS n_words,
           size(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) AS n_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / size(split(text, ' ')), 6) AS avg_word_len,
           size(regexp_extract_all(text, '[.!?]', 0)) AS n_sentences,
           CAST(length(text) - length(replace(text, 'e', ''))
                AS BIGINT) AS n_letter_e
    FROM documents
    """,
        "q_llm_dedup_minhash_banded": f"""
{shingle_cte},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
    SELECT d1, d2,
           round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.d1 = s1.doc_id
    JOIN sizes s2 ON p.d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.5
    """,
        "q_llm_decontaminate": f"""
{shingle_cte},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0)
    SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh JOIN bench USING (shingle)
    WHERE sh.doc_id % 37 <> 0
    GROUP BY sh.doc_id
    """,
        # sequence(1, n) descends when n < 1 (Spark fills [1, 0, ...])
        # — every explode below is guarded by a size() predicate in a
        # PRIOR CTE so the generator only ever sees ascending ranges.
        "q_llm_dedup_span_removal": """
    WITH w AS (
      SELECT doc_id, filter(split(text, ' '), x -> x <> '') AS ws
      FROM documents),
    w5 AS (SELECT doc_id, ws FROM w WHERE size(ws) >= 5),
    g AS (
      SELECT doc_id, i, array_join(slice(ws, i, 5), ' ') AS gram
      FROM w5 LATERAL VIEW explode(sequence(1, size(ws) - 4)) t AS i),
    dup AS (
      SELECT gram FROM g GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, pos
      FROM g JOIN dup USING (gram)
      LATERAL VIEW explode(sequence(g.i, g.i + 4)) t AS pos),
    posw AS (
      SELECT doc_id, pos, element_at(ws, pos) AS word
      FROM (SELECT doc_id, ws FROM w WHERE size(ws) >= 1)
      LATERAL VIEW explode(sequence(1, size(ws))) t AS pos),
    kept AS (
      SELECT p.doc_id, p.pos, p.word
      FROM posw p LEFT JOIN covered c
        ON c.doc_id = p.doc_id AND c.pos = p.pos
      WHERE c.pos IS NULL),
    k AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
             array_join(
               transform(array_sort(collect_list(struct(pos, word))),
                         x -> x.word), ' ') AS clean
      FROM kept GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(size(w.ws) AS BIGINT) AS n_words_before,
           CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_words_after,
           CAST(size(w.ws) - coalesce(k.n_after, 0) AS BIGINT) AS n_removed,
           md5(coalesce(k.clean, '')) AS clean_md5
    FROM w LEFT JOIN k ON k.doc_id = w.doc_id
    """,
        "q_dedup_sorted_neighborhood": """
    WITH k AS (SELECT doc_id, lang, n_chars FROM documents),
    nb AS (
      SELECT lang, doc_id AS doc_a,
             array(lead(doc_id, 1) OVER w,
                   lead(doc_id, 2) OVER w,
                   lead(doc_id, 3) OVER w) AS nbs
      FROM k
      WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
    cand AS (
      SELECT lang, doc_a, doc_b
      FROM nb LATERAL VIEW explode(nbs) t AS doc_b
      WHERE doc_b IS NOT NULL),
    ws AS (
      SELECT doc_id,
             array_distinct(filter(split(text, ' '), x -> x <> ''))
               AS words
      FROM documents),
    scored AS (
      SELECT c.lang, c.doc_a, c.doc_b,
             CAST(size(a.words) AS BIGINT) AS words_a,
             CAST(size(b.words) AS BIGINT) AS words_b,
             CAST(size(array_intersect(a.words, b.words)) AS BIGINT)
               AS n_common
      FROM cand c
      JOIN ws a ON a.doc_id = c.doc_a
      JOIN ws b ON b.doc_id = c.doc_b)
    SELECT lang, doc_a, doc_b, words_a, words_b, n_common,
           CAST((10000 * n_common)
                DIV nullif(words_a + words_b - n_common, 0) AS BIGINT)
             AS jaccard_bp
    FROM scored
    WHERE 3 * n_common >= words_a + words_b
    """,
        "q_llm_keyword_rake": f"""
    WITH tok AS (
      SELECT doc_id, pos, token
      FROM documents
      LATERAL VIEW posexplode(filter(split(lower(text), '[^a-z]+'),
                                     x -> x <> '')) t AS pos, token),
    marked AS (
      SELECT doc_id, pos, token,
             CASE WHEN token IN ({_rake_stop_list}) THEN 1 ELSE 0 END AS stop
      FROM tok),
    numbered AS (
      SELECT doc_id, pos, token, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS phrase_id
      FROM marked),
    pw AS (SELECT doc_id, phrase_id, pos, token
           FROM numbered WHERE stop = 0),
    plen AS (
      SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS n_words,
             array_join(transform(array_sort(collect_list(
               struct(pos, token))), x -> x.token), ' ') AS phrase
      FROM pw GROUP BY doc_id, phrase_id),
    wstat AS (
      SELECT pw.token, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen.n_words) AS BIGINT) AS degree
      FROM pw JOIN plen ON plen.doc_id = pw.doc_id
                       AND plen.phrase_id = pw.phrase_id
      GROUP BY pw.token),
    wscore AS (
      SELECT token, CAST((1000000 * degree) DIV freq AS BIGINT)
               AS score_ppm
      FROM wstat),
    phrases AS (
      SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM plen GROUP BY phrase),
    pw2 AS (
      SELECT p.phrase, p.n_words, p.n_occurrences, t.token
      FROM phrases p
      LATERAL VIEW explode(split(p.phrase, ' ')) t AS token),
    scored AS (
      SELECT pw2.phrase, pw2.n_words, pw2.n_occurrences,
             CAST(sum(w.score_ppm) AS BIGINT) AS phrase_score_ppm
      FROM pw2 JOIN wscore w ON w.token = pw2.token
      GROUP BY pw2.phrase, pw2.n_words, pw2.n_occurrences),
    top AS (SELECT * FROM scored
            ORDER BY phrase_score_ppm DESC, phrase LIMIT 15)
    SELECT phrase, n_words, n_occurrences, phrase_score_ppm,
           CAST(row_number() OVER (ORDER BY phrase_score_ppm DESC, phrase)
                AS BIGINT) AS rank
    FROM top
    """,
        "q_events_decay_score": """
    WITH e AS (
      SELECT user_id,
             CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000
                  AS BIGINT) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    anchor AS (SELECT max(day) AS d1 FROM e),
    w AS (
      SELECT user_id, cents,
             CAST(least((d1 - day) DIV 7, 40) AS BIGINT) AS k
      FROM e CROSS JOIN anchor)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS raw_cents,
           CAST(sum(cents DIV (CAST(1 AS BIGINT) << k)) AS BIGINT)
             AS decay_cents
    FROM w GROUP BY user_id
    """,
        "q_sample_group_holdout": """
    WITH cell AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang),
    src AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS n_src
      FROM cell GROUP BY source),
    lg AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
      FROM cell GROUP BY lang),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cell),
    shift AS (
      SELECT s.source,
             CAST(max(abs((10000 * (lg.n_lang - coalesce(c.n, 0)))
                          DIV nullif(t.n - s.n_src, 0)
                          - (10000 * coalesce(c.n, 0)) DIV s.n_src))
                  AS BIGINT) AS lang_shift_bp
      FROM src s
      CROSS JOIN tot t
      CROSS JOIN lg
      LEFT JOIN cell c ON c.source = s.source AND c.lang = lg.lang
      GROUP BY s.source)
    SELECT s.source, CAST(t.n - s.n_src AS BIGINT) AS n_train,
           s.n_src AS n_test, sh.lang_shift_bp
    FROM src s CROSS JOIN tot t JOIN shift sh ON sh.source = s.source
    """,
    }

# The SURVEY §2.2 contract set: every member's Spark-SQL lane is
# value-identical to its DataFrame builder (tests/test_sql_twins.py).
# Members without a hand-written twin serve their oracle text through
# the two rules below. The // -> DIV rule is only safe where the
# operands are non-negative (DuckDB // floors, Spark DIV truncates —
# they disagree on negative quotients); that is audited per member,
# so the rules are not applied to any name outside this set.
VERIFIED_TWINS: frozenset[str] = frozenset(
    {
        "q_scan_project", "q_filter_pred",
        "q_join_inner_broadcast", "q_join_inner_sortmerge", "q_join_left",
        "q_join_full", "q_join_semi", "q_join_anti", "q_join_cross",
        "q_join_theta_range", "q_join_asof",
        "q_agg_basic", "q_agg_distinct", "q_agg_approx", "q_agg_rollup",
        "q_agg_cube", "q_agg_gsets",
        "q_win_rank", "q_win_analytic", "q_win_frame",
        "q_sort_limit", "q_topk_per_group",
        "q_set_union_all", "q_set_union", "q_set_intersect", "q_set_except",
        "q_fn_string", "q_fn_date", "q_fn_math", "q_fn_array", "q_fn_json",
        "q_dedup_exact",
    }
)

# DuckDB's integer-division spelling; Spark's is DIV. The verified
# oracles only ever use // between parenthesized/identifier operands
# that are non-negative by construction (exact-cents sums), never
# inside string literals, so the token replace is exact FOR THIS SET.
_DIV_RE = re.compile(r"\s*//\s*")

# Bare decimal literals: Spark parses `100.0` as DECIMAL(4,1) (so
# bigint/100.0 becomes DECIMAL division → Decimal-typed results), while
# DuckDB's `/` always returns DOUBLE. Suffixing `D` reproduces DuckDB's
# semantics exactly.
_FLOAT_LIT_RE = re.compile(r"(?<![\w.'])(\d+\.\d+(?:[eE][+-]?\d+)?)(?![\w.'])")

# The extended-operator twin set (names only; texts built lazily by
# _extended_twins so importing this module stays cheap).
EXTENDED_TWIN_NAMES: frozenset[str] = frozenset(
    {
        "q_funnel_time_window",
        "q_text_lexical_richness",
        "q_text_readability",
        "q_llm_dup_token_mass",
        "q_llm_normalize_dedup_gain",
        "q_emb_random_projection",
        "q_funnel_conversion",
        "q_events_rolling_active_users",
        "q_events_cohort_ltv",
        "q_win_session",
        "q_retention_cohorts",
        "q_events_stickiness",
        "q_merge_snapshot_diff",
        "q_ab_welch_ttest",
        "q_ab_power_mde",
        "q_events_lifecycle",
        "q_llm_gopher_rules",
        "q_ml_kaplan_meier",
        "q_dedup_sorted_neighborhood",
        "q_llm_text_stats",
        "q_llm_dedup_minhash_banded",
        "q_llm_decontaminate",
        "q_llm_dedup_span_removal",
        "q_llm_keyword_rake",
        "q_events_decay_score",
        "q_sample_group_holdout",
    }
)


def spark_sql_for(name: str) -> str:
    """The Spark-SQL twin text for ``name``: the hand-written twin
    (contract or extended set), else, for the rest of the contract
    set, the oracle with ``//`` → ``DIV`` and ``D``-suffixed decimal
    literals. Every served text is value-checked against the builder
    by tests/test_sql_twins.py. Raises KeyError for any other name —
    its oracle is DuckDB dialect, and returning unchecked text would
    fail (or mis-answer) at run time; ``Engine.query(name)`` serves
    the same values."""
    if name in SPARK_SQL_TWINS:
        return SPARK_SQL_TWINS[name]
    if name in EXTENDED_TWIN_NAMES:
        return _extended_twins()[name]
    if name in VERIFIED_TWINS:
        oracle = load_all()[name].oracle
        return _FLOAT_LIT_RE.sub(r"\1D", _DIV_RE.sub(" DIV ", oracle))
    raise KeyError(
        f"{name} has no Spark-SQL twin; use Engine.query({name!r}) "
        "(the DataFrame builder), which serves every registered query"
    )
