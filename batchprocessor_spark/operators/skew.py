"""Skew-handling join utilities (SURVEY.md §4.3 / the 100 TB posture).

AQE's skew-join splitting handles moderate skew automatically
(enabled in session.py); explicit salting is the manual fallback when
one key dominates so heavily that even split partitions overwhelm a
task, or when AQE is unavailable (streaming joins).

``salted_join`` replicates the small side SALT_N ways and scatters the
big side's hot keys across salt buckets — same result set as a plain
equi join (proven by tests/test_skew.py against the unsalted join),
but the shuffle spreads the hot key over SALT_N reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_n: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi join ``big ⋈ small`` on ``key`` with salt-based skew
    mitigation. ``small`` is replicated ``salt_n``× (so it must be the
    dimension side); ``big`` rows get a random-but-deterministic salt
    from a hash of the full row position — here a hash of all columns,
    which needs no extra state and stays stable across retries.

    Only join shapes that never emit an unmatched SMALL-side row are
    allowed: with ``small`` replicated salt_n×, right/full joins would
    surface every unmatched replica (salt_n duplicate rows), silently
    breaking equivalence with the unsalted join."""
    safe = {"inner", "left", "left_outer", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in safe:
        raise ValueError(
            f"salted_join(how={how!r}) would duplicate unmatched small-side "
            f"rows {salt_n}x; supported shapes: {sorted(safe)}"
        )
    salt = (F.abs(F.xxhash64(*big.columns)) % salt_n).alias("__salt")
    big_salted = big.withColumn("__salt", salt)
    small_salted = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt_n).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    joined = big_salted.join(small_salted, [key, "__salt"], how)
    return joined.drop("__salt")


def capped_bucket_pairs(
    bands: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int | None,
    out1: str = "d1",
    out2: str = "d2",
    dedupe: bool = True,
) -> DataFrame:
    """All (id, id') pairs co-bucketed under ``key_cols`` with
    ``out1 < out2`` — LSH candidate generation — with a HOT-BUCKET
    CAP: buckets holding more than ``cap`` ids emit only a STAR
    (min-id anchor → every other member, O(k) edges) instead of all
    O(k²) pairs.

    Why: one degenerate bucket (boilerplate text, identical vectors)
    otherwise turns candidate generation quadratic — the 100 TB LSH
    failure mode AQE cannot fix, because the blowup is the OUTPUT,
    not a skewed shuffle partition. The star keeps every member of
    the hot bucket CONNECTED to the same anchor, so verification
    still marks the cluster and connected-component resolution
    recovers it whole; only redundant intra-cluster pair listings are
    dropped, and only for buckets past the cap (fixture maxima are
    ~22 docs vs the 1024 default, so capped and uncapped outputs
    coincide there — the adversarial regime is pinned in
    tests/test_skew.py).

    Shape: ONE shuffle (groupBy bucket → sorted id array), then pure
    array math — ≤cap buckets expand to ordered pairs with a nested
    transform, larger ones to the anchor star — and one distinct.
    That replaces the classic two-sided bucket self-join (two
    shuffles) AND needs no separate stats pass for hot detection: the
    per-bucket size is sitting right there in the array. Memory note:
    an oversized bucket materializes its member list as one row
    (8 B × k); a mass-duplication pathology big enough to hurt there
    (~100 M identical docs) is removed by the exact-dedup stage that
    precedes near-dup in the curation pipeline. ``cap=None`` keeps
    the textbook self-join as the exactness baseline.

    ``dedupe=False`` keeps one output row per (bucket, pair)
    co-occurrence instead of collapsing to distinct pairs — callers
    that COUNT shared buckets per pair (winnowing's n_shared =
    |shared fingerprint classes|) need the multiplicity; when each id
    appears at most once per bucket (a distinct (id, key) input) the
    per-pair row count IS the number of shared buckets for every pair
    the governor emits in full (hot >cap buckets contribute counts
    only to their anchor-star edges — the declared boundedness trade).
    """
    if cap is None:
        x = bands.select(*key_cols, F.col(id_col).alias(out1))
        y = bands.select(*key_cols, F.col(id_col).alias(out2))
        pairs = (
            x.join(y, key_cols)
            .where(F.col(out1) < F.col(out2))
            .select(out1, out2)
        )
        return pairs.distinct() if dedupe else pairs
    grouped = (
        bands.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    ids = F.col("__ids")
    n = F.size(ids)
    # Sorted ids ⇒ out1 < out2 by construction in both branches.
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), n),
                lambda y: F.struct(x.alias(out1), y.alias(out2)),
            ),
        )
    )
    star = F.transform(
        F.slice(ids, 2, n),
        lambda y: F.struct(F.element_at(ids, 1).alias(out1), y.alias(out2)),
    )
    pairs = grouped.select(
        F.explode(F.when(n <= cap, all_pairs).otherwise(star)).alias("__p")
    ).select(F.col(f"__p.{out1}").alias(out1), F.col(f"__p.{out2}").alias(out2))
    return pairs.distinct() if dedupe else pairs


def hot_key_salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_threshold: int = 256,
    salt_n: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Inner equi-join with PER-KEY salting of hot keys only — the
    result is row-for-row identical to ``left.join(right, key)``
    (proven in tests/test_skew.py), unlike capped_bucket_pairs, which
    trades completeness for boundedness.

    Keys whose RIGHT-side multiplicity exceeds ``hot_threshold`` are
    split: left hot rows take a deterministic salt from a hash of all
    their columns, right hot rows are replicated ``salt_n``×, and the
    hot join runs on (key, salt) — so a key held by 20% of all rows
    lands on ``salt_n`` reducers instead of one, each matching 1/salt_n
    of the left side. Cold keys never pay replication. This is the
    exact-semantics skew shape for inverted-index self-joins (shingle
    → doc-pair expansion), where the quadratic per-key output is
    REQUIRED by the query and the only freedom is spreading it.

    ``num_partitions`` (r10): when the join's OUTPUT work is CPU-bound
    per pair but its input bytes are small (cosine folds over a
    cluster key), AQE's byte-based coalescing folds the join back to
    a handful of tasks and the salting buys nothing. An explicit
    count repartitions the join inputs ON THE JOIN KEYS —
    EnsureRequirements reuses the user exchange (REPARTITION_BY_NUM,
    exempt from AQE coalescing) so the join itself runs that wide,
    and the pair rows are never shuffled a second time."""
    counts = right.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    hot = F.broadcast(counts.where(F.col("__n") > hot_threshold).select(key))

    def _part(df: DataFrame, *cols: str) -> DataFrame:
        return df.repartition(num_partitions, *cols) if num_partitions else df

    cold = _part(left.join(hot, key, "left_anti"), key).join(
        _part(right.join(hot, key, "left_anti"), key), key
    )
    salt = (F.abs(F.xxhash64(*left.columns)) % salt_n).cast("int")
    left_hot = left.join(hot, key, "left_semi").withColumn("__salt", salt)
    right_hot = right.join(hot, key, "left_semi").crossJoin(
        F.broadcast(
            right.sparkSession.range(salt_n).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    hot_joined = _part(left_hot, key, "__salt").join(
        _part(right_hot, key, "__salt"), [key, "__salt"]
    ).drop("__salt")
    return cold.unionByName(hot_joined)


def _register_query():
    """Deferred so this module keeps zero import-time Spark deps for
    the pure helpers above."""
    from pyspark.sql import SparkSession

    from batchprocessor_spark.plans.registry import register
    from batchprocessor_spark.sources.catalog import load_table

    @register(
        "q_join_skew_salted",
        oracle="""
        WITH j AS (
          SELECT s_nationkey,
                 round(l_quantity)::BIGINT AS qty,
                 round(l_extendedprice * 100)::BIGINT AS price_c
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
        s AS (
          SELECT s_nationkey, count(*)::BIGINT AS n_items,
                 sum(qty) AS sq, sum(price_c) AS sp
          FROM j GROUP BY s_nationkey)
        SELECT s_nationkey, n_items, sq::DOUBLE AS sum_qty,
               (sp // 100)::DOUBLE + (sp % 100)::DOUBLE / 100 AS revenue
        FROM s
        """,
        category="join",
    )
    def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Skew-mitigated fact⋈dim join: lineitem ⋈ supplier through
        ``salted_join`` (supplier replicated SALT_N×, lineitem scattered
        across salt buckets), aggregated per supplier nation. The result
        is identical to the plain equi join — which is exactly what the
        oracle checks — while the shuffle spreads any hot supplier key
        over SALT_N reducers. This is the manual fallback shape for the
        skew AQE can't split (streaming joins, or one catastrophic key).

        Money math uses the exact scaled-integer lanes (see
        q_agg_basic): cents products in long, decimal(38,0) accumulators,
        DIV/MOD descale."""
        l = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.round(F.col("l_quantity")).cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        )
        s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        joined = salted_join(l, s, "s_suppkey", salt_n=8, how="inner")
        return (
            joined.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("qty").alias("sq"),
                F.sum(F.col("price_c").cast("decimal(38,0)")).alias("sp"),
            )
            .select(
                "s_nationkey",
                "n_items",
                F.col("sq").cast("double").alias("sum_qty"),
                (
                    F.expr("CAST(sp DIV 100 AS DOUBLE)")
                    + F.expr("CAST(sp % 100 AS DOUBLE)") / 100
                ).alias("revenue"),
            )
        )


_register_query()
