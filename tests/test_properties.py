"""Property-based spot checks (SURVEY.md §5.2(4)) — an upgrade the
reference lacks entirely. Hypothesis generates small row sets; Spark
results are checked against python-computed ground truth.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from batchprocessor_spark.operators.dedup import connected_components

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-100, 100)), min_size=0, max_size=60
)


@given(rows=rows_strategy)
@SETTINGS
def test_dedup_idempotent_and_correct(spark, rows):
    """dropDuplicates is idempotent and equals the python set."""
    df = spark.createDataFrame(rows, "k INT, v INT") if rows else spark.createDataFrame([], "k INT, v INT")
    once = df.dropDuplicates()
    twice = once.dropDuplicates()
    got = {tuple(r) for r in once.collect()}
    assert got == set(rows)
    assert {tuple(r) for r in twice.collect()} == got


@given(a=rows_strategy, b=rows_strategy)
@SETTINGS
def test_setop_algebra(spark, a, b):
    """union/intersect/except match python multiset/set semantics."""
    schema = "k INT, v INT"
    da = spark.createDataFrame(a, schema) if a else spark.createDataFrame([], schema)
    db = spark.createDataFrame(b, schema) if b else spark.createDataFrame([], schema)
    sa, sb = set(a), set(b)
    assert {tuple(r) for r in da.union(db).distinct().collect()} == sa | sb
    assert {tuple(r) for r in da.intersect(db).collect()} == sa & sb
    assert {tuple(r) for r in da.subtract(db).collect()} == sa - sb
    # UNION ALL preserves multiplicity.
    assert da.unionAll(db).count() == len(a) + len(b)


@given(rows=rows_strategy)
@SETTINGS
def test_running_sum_frame_vs_bruteforce(spark, rows):
    """rowsBetween(unboundedPreceding, currentRow) running sum equals
    the brute-force prefix sum over the same total order."""
    # Unique ordering key: enumerate.
    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    schema = "k INT, i INT, v INT"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    w = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        (r.k, r.i): r.rs
        for r in df.select("k", "i", F.sum("v").over(w).alias("rs")).collect()
    }
    expected: dict[tuple[int, int], int] = {}
    acc: dict[int, int] = {}
    for k, i, v in sorted(data, key=lambda t: (t[0], t[1])):
        acc[k] = acc.get(k, 0) + v
        expected[(k, i)] = acc[k]
    assert got == expected


@given(rows=rows_strategy, k=st.integers(1, 5))
@SETTINGS
def test_topk_per_group_vs_bruteforce(spark, rows, k):
    """row_number()<=k returns exactly the first k per group under the
    same total order as python sorting."""
    data = [(key, i, v) for i, (key, v) in enumerate(rows)]
    schema = "k INT, i INT, v INT"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("i"))
    got = {
        (r.k, r.i)
        for r in df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).collect()
    }
    expected = set()
    by_group: dict[int, list[tuple[int, int, int]]] = {}
    for row in data:
        by_group.setdefault(row[0], []).append(row)
    for key, grp in by_group.items():
        for g in sorted(grp, key=lambda t: (-t[2], t[1]))[:k]:
            expected.add((key, g[1]))
    assert got == expected


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=10
    )
)
@SETTINGS
def test_shingle_sets_match_python(spark, texts):
    """The JVM array-expression shingler equals a python reference
    implementation (including empty/short documents)."""
    from batchprocessor_spark.operators.dedup import _SHINGLE_WIDTH, shingle_sets

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id INT, text STRING")
    got = {r.doc_id: set(r.sh) for r in shingle_sets(docs).collect()}
    for i, t in enumerate(texts):
        words = t.split(" ")
        expected = {
            " ".join(words[j : j + _SHINGLE_WIDTH])
            for j in range(max(len(words) - _SHINGLE_WIDTH + 1, 0))
        }
        assert got[i] == expected, (t, got[i], expected)


# The kernel must not rely on the (d1 < d2) orientation the Jaccard
# join emits, so each case runs on the pair list as given and with
# every edge reversed. The case ids keep the names these cases had
# when they ran the two former kernels.
CC_ORIENTATIONS = pytest.mark.parametrize(
    "reverse",
    [
        pytest.param(False, id="connected_components"),
        pytest.param(True, id="connected_components_star"),
    ],
)


def _oriented(pairs, reverse: bool):
    if reverse:
        return pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    return pairs


@CC_ORIENTATIONS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_connected_components_vs_union_find(spark, reverse, edges):
    """Large-star/small-star must agree with a python union-find on
    arbitrary small graphs (chains, cycles, stars, disconnected pieces
    — whatever hypothesis produces)."""
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "d1 BIGINT, d2 BIGINT"
    )
    got = {
        r.node: r.label
        for r in connected_components(_oriented(pairs, reverse), max_rounds=40).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 500)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    nparts=st.integers(2, 6),
)
@SETTINGS
def test_pack_cumsum_vs_python(spark, rows, nparts):
    """The distributed two-phase prefix sum must equal a sequential
    python cumsum in (rk, doc_id) order, for any partition count."""
    from batchprocessor_spark.operators.sampling import hash_bucket, pack_by_cumsum

    d = spark.createDataFrame(rows, "doc_id BIGINT, n_chars BIGINT").select(
        "doc_id", "n_chars", hash_bucket(F.col("doc_id"), "pack:", 1000000).alias("rk")
    )
    keyed = {r.doc_id: r.rk for r in d.collect()}
    got = {r.doc_id: (r.bin, r.crosses) for r in pack_by_cumsum(d, nparts).collect()}

    cum, want = 0, {}
    for doc_id, n in sorted(rows, key=lambda t: (keyed[t[0]], t[0])):
        start, cum = cum, cum + n
        want[doc_id] = (start // 4096, (cum - 1) // 4096 != start // 4096)
    assert got == want


def test_star_components_deep_chain(spark):
    """A 64-node chain collapses to one label within the default
    round cap: large-star/small-star needs O(log n) rounds, where
    moving labels one hop per round would need 63 — this is exactly
    why it is the billion-node-graph variant."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 BIGINT, d2 BIGINT"
    )
    labels = {r.node: r.label for r in connected_components(pairs).collect()}
    assert labels == {i: 0 for i in range(n)}


@CC_ORIENTATIONS
def test_connected_components_evaluates_pairs_once(spark, reverse):
    """The pair graph feeding CC can be an expensive join (Jaccard at
    100 TB); the kernel must evaluate it exactly once — not once per
    edge direction or per round. Pinned with an accumulator
    incremented on every evaluated pair row."""
    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "d1 BIGINT, d2 BIGINT"
    )

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    pairs = base.repartition(2).mapInPandas(count_rows, "d1 BIGINT, d2 BIGINT")
    labels = {
        r.node: r.label for r in connected_components(_oriented(pairs, reverse)).collect()
    }
    assert labels == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}
    assert acc.value == 3, f"pair graph evaluated {acc.value / 3:.1f}x"


# 2-decimal money values spanning the magnitudes in the fixtures plus
# adversarial tiny/large mixes; groups force partial aggregation.
money_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(-10_000_000, 10_000_000).map(lambda c: c / 100.0),
    ),
    min_size=1,
    max_size=80,
)


@given(rows=money_strategy, nparts=st.integers(1, 7))
@SETTINGS
def test_exactmath_lane_matches_decimal_ground_truth(spark, rows, nparts):
    """The scaled-integer money lane (functions/exactmath.py) must
    equal exact decimal.Decimal arithmetic for ANY partitioning of the
    input — summation order, partial-aggregate merges, and AQE splits
    must not be observable. This is the invariant ~20 queries'
    oracle-parity rests on."""
    from decimal import Decimal

    from batchprocessor_spark.functions.exactmath import dec_sum, descale, to_units

    df = (
        spark.createDataFrame(rows, "k INT, v DOUBLE")
        .repartition(nparts)
        .groupBy("k")
        .agg(dec_sum(to_units(F.col("v"), 100)).alias("s"))
        .select("k", descale("s", 100).alias("total"))
    )
    got = {r.k: r.total for r in df.collect()}
    want = {}
    for k, v in rows:
        want[k] = want.get(k, Decimal(0)) + Decimal(str(v)).quantize(Decimal("0.01"))
    assert set(got) == set(want)
    for k, cents_true in want.items():
        # descale is quotient + remainder/100: reproduce the same IEEE
        # steps on the exact integer cents to get the expected double.
        c = int(cents_true * 100)
        q, r = (c // 100, c % 100) if c >= 0 else (-((-c) // 100), -((-c) % 100))
        assert got[k] == float(q) + float(r) / 100.0, (k, got[k], cents_true)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_zorder_key_matches_python_interleave(spark, pairs):
    """zorder_key equals the python bit-interleave for any 16-bit
    pair (and is therefore bijective on distinct pairs)."""
    from batchprocessor_spark.operators.layout import zorder_key

    def morton(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a INT, b INT")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", zorder_key(F.col("a"), F.col("b"))).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == morton(a, b)


@given(
    vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=80),
    data=st.data(),
)
@SETTINGS
def test_exact_kth_matches_sorted(spark, vals, data):
    """exact_kth_units (iterative histogram selection) returns exactly
    sorted(vals)[k-1] for any k — against python ground truth, not an
    engine oracle."""
    from batchprocessor_spark.operators.aggregates import exact_kth_units

    k = data.draw(st.integers(1, len(vals)))
    df = spark.createDataFrame([("g", v) for v in vals], "grp STRING, u BIGINT")
    out = exact_kth_units(df, "grp", "u", {("g", 1): k})
    assert out[("g", 1)] == sorted(vals)[k - 1]


@given(
    doc_id=st.integers(0, 2**31),
    width=st.integers(1, 40),
    height=st.integers(1, 24),
)
@SETTINGS
def test_raster_codecs_roundtrip(doc_id, width, height):
    """Both serializations of the pixel law decode to the identical
    array for ANY (doc_id, width, height) — BMP's bottom-up BGR
    padded layout fully undone (pure-python property, no Spark)."""
    import numpy as np

    from batchprocessor_spark.functions.multimodal import (
        decode_image,
        make_bmp_bytes,
        make_ppm_bytes,
    )

    pw, ph, pimg = decode_image(make_ppm_bytes(doc_id, width, height))
    bw, bh, bimg = decode_image(make_bmp_bytes(doc_id, width, height))
    assert (pw, ph) == (bw, bh) == (width, height)
    assert np.array_equal(pimg, bimg)
    expect = ((doc_id * 31 + np.arange(width * height * 3)) % 256).astype(np.uint8)
    assert np.array_equal(pimg.reshape(-1), expect)


@given(
    units=st.integers(-10**9, 10**9),
    half=st.booleans(),
)
@SETTINGS
def test_pd_to_units_half_away_rounding(units, half):
    """pd_to_units must round half-AWAY-from-zero like F.round/DuckDB
    round — exercised on exact .5 boundaries where numpy's default
    half-to-even diverges (the ADVICE r2 one-cent-mismatch class).
    Inputs are constructed IN cents so the scaled value is exactly
    representable and the expectation is unambiguous."""
    import pandas as pd

    from batchprocessor_spark.functions.exactmath import pd_to_units

    if half:
        # x = (units + 0.5)/100 dollars: scaled value sits exactly on
        # the .5 boundary when representable; half-away expectation.
        scaled = units + (0.5 if units >= 0 else -0.5)
        value = scaled / 100.0
        expect = int(scaled + (0.5 if scaled >= 0 else -0.5))
        # Only assert when the decimal survived the float round-trip
        # exactly (otherwise the input wasn't a true boundary case).
        if value * 100.0 != scaled:
            return
    else:
        value = units / 100.0
        expect = round(value * 100.0)
    got = pd_to_units(pd.Series([value]), 100)[0]
    assert got == expect, (value, got, expect)


HEAVY = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EV_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _write_events(spark, rows, tmpdir):
    import os

    df = (
        spark.createDataFrame(rows, _EV_SCHEMA)
        if rows
        else spark.createDataFrame([], _EV_SCHEMA)
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmpdir, "events.parquet"))


events_strategy = st.lists(
    st.tuples(
        st.integers(0, 10**6),                       # event_id (may collide)
        st.integers(0, 3 * 86400 - 1),               # offset seconds in a 3-day span
        st.integers(0, 999_999),                     # microsecond component
        st.integers(0, 3),                           # user_id
        st.sampled_from(["a", "b"]),                 # event_type
        st.integers(-5, 200),                        # whole minutes / cents-free value
    ),
    min_size=1,
    max_size=40,
)


def _mk_events(raw):
    """Distinct event_ids (the kernels assume a key), µs-precision ts."""
    import datetime

    base = datetime.datetime(2024, 3, 1)
    rows, seen = [], set()
    for eid, off, us, uid, etype, minutes in raw:
        if eid in seen:
            continue
        seen.add(eid)
        ts = base + datetime.timedelta(seconds=off, microseconds=us)
        rows.append((eid, ts, uid, etype, float(minutes)))
    return rows


@given(raw=events_strategy)
@HEAVY
def test_interval_overlap_vs_bruteforce(spark, raw, tmp_path):
    """q_join_interval_overlap equals the brute-force O(n·w) python
    overlap over random µs-precision intervals, including clamped
    negative durations and boundary-touching windows."""
    import datetime

    from batchprocessor_spark.operators.joins import q_join_interval_overlap

    rows = _mk_events(raw)
    _write_events(spark, rows, str(tmp_path))
    got = {
        (r.event_id, r.day_s, r.overlap_s)
        for r in q_join_interval_overlap(spark, str(tmp_path)).collect()
    }
    days = {ts.replace(hour=0, minute=0, second=0, microsecond=0) for _, ts, *_ in rows}
    expect = set()
    for eid, ts, _uid, _et, minutes in rows:
        s = ts
        e = ts + datetime.timedelta(minutes=max(int(round(minutes)), 0))
        for d in days:
            ws, we = d, d + datetime.timedelta(hours=2)
            if s < we and ws < e:
                epoch = datetime.datetime(1970, 1, 1)
                us = lambda t: (t - epoch) // datetime.timedelta(microseconds=1)  # noqa: E731
                expect.add(
                    (
                        eid,
                        us(ws) // 1_000_000,
                        us(min(e, we)) // 1_000_000 - us(max(s, ws)) // 1_000_000,
                    )
                )
    assert got == expect


@given(raw=events_strategy)
@HEAVY
def test_m4_downsample_vs_bruteforce(spark, raw, tmp_path):
    """q_ts_downsample_m4 equals the python per-bucket min/max and the
    (ts, event_id)-ordered first/last, with duplicate timestamps
    resolved identically."""
    from batchprocessor_spark.operators.timeseries import q_ts_downsample_m4

    rows = _mk_events(raw)
    _write_events(spark, rows, str(tmp_path))
    got = {
        (r.event_type, r.bucket_s, r.n, r.min_cents, r.max_cents, r.first_cents, r.last_cents)
        for r in q_ts_downsample_m4(spark, str(tmp_path)).collect()
    }
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    buckets = {}
    for eid, ts, _uid, etype, minutes in rows:
        bucket = ts.replace(minute=0, second=0, microsecond=0)
        cents = int(round(minutes)) * 100
        key = (etype, (bucket - epoch) // datetime.timedelta(seconds=1))
        # Exact integer micros (a float .timestamp() round-trip can be
        # off by 1µs and flip first/last ties against the kernel).
        t_us = (ts - epoch) // datetime.timedelta(microseconds=1)
        buckets.setdefault(key, []).append(((t_us, eid), cents))
    expect = set()
    for (etype, bs), items in buckets.items():
        cs = [c for _, c in items]
        first = min(items)[1]
        last = max(items)[1]
        expect.add((etype, bs, len(items), min(cs), max(cs), first, last))
    assert got == expect


graph_strategy = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),  # (suppkey, custkey)
    min_size=1,
    max_size=30,
)


@given(pairs=graph_strategy)
@HEAVY
def test_pagerank_vs_python_fixed_point(spark, pairs, tmp_path):
    """q_graph_pagerank's fixed-point integer recurrence is replicated
    EXACTLY in python (same // arithmetic) on random bipartite graphs —
    byte-identical ranks, no tolerance."""
    import os
    from collections import Counter

    from batchprocessor_spark.operators.hierarchy import (
        _PR_ROUNDS,
        _PR_SCALE,
        q_graph_pagerank,
    )

    lineitem = [(i, s) for i, (s, _c) in enumerate(pairs)]
    orders = [(i, c) for i, (_s, c) in enumerate(pairs)]
    spark.createDataFrame(lineitem, "l_orderkey BIGINT, l_suppkey BIGINT").write.mode(
        "overwrite"
    ).parquet(os.path.join(str(tmp_path), "lineitem.parquet"))
    spark.createDataFrame(orders, "o_orderkey BIGINT, o_custkey BIGINT").write.mode(
        "overwrite"
    ).parquet(os.path.join(str(tmp_path), "orders.parquet"))

    got = {(r.node, r.pr) for r in q_graph_pagerank(spark, str(tmp_path)).collect()}

    edges = {(s * 2 + 1, c * 2) for s, c in pairs}
    nodes = sorted({v for e in edges for v in e})
    deg = Counter(src for src, _ in edges)
    n = len(nodes)
    base = _PR_SCALE // n
    pr = {v: base for v in nodes}
    for _ in range(_PR_ROUNDS):
        dang = sum(p for v, p in pr.items() if deg[v] == 0)
        inflow = Counter()
        for src, dst in edges:
            inflow[dst] += pr[src] // deg[src]
        pr = {
            v: (15 * base + 85 * (inflow.get(v, 0) + dang // n)) // 100
            for v in nodes
        }
    assert got == set(pr.items())


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(-500, 500)),
        min_size=1,
        max_size=80,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@SETTINGS
def test_ntile_decile_assignment_matches_python(spark, rows):
    """The q_agg_decile_summary kernel: ntile(10) over a total order
    must match python's equal-split-with-earlier-remainder rule —
    bucket sizes differ by at most 1, earlier buckets get the extras,
    assignment follows the (value, key) sort exactly."""
    df = spark.createDataFrame(rows, "g INT, k INT, v INT")
    w = Window.partitionBy("g").orderBy("v", "k")
    got = {
        (r.g, r.k): r.d
        for r in df.withColumn("d", F.ntile(10).over(w)).collect()
    }
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, k, v in rows:
        by_g[g].append((v, k))
    for g, items in by_g.items():
        items.sort()
        n = len(items)
        base, rem = divmod(n, 10)
        idx = 0
        for b in range(1, 11):
            size = base + (1 if b <= rem else 0)
            for _ in range(size):
                v, k = items[idx]
                assert got[(g, k)] == b, (g, k, v, got[(g, k)], b)
                idx += 1


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.sampled_from("abc")),
        min_size=0,
        max_size=60,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@SETTINGS
def test_markov_transition_counts_match_python(spark, rows):
    """The q_events_markov_transitions kernel: per-user lag over a
    total order, pair counts, integer-bp row shares — vs a python
    walk of each user's sorted sequence."""
    from collections import Counter, defaultdict

    schema = "u INT, t INT, e STRING"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    w = Window.partitionBy("u").orderBy("t")
    t = (
        df.select("e", F.lag("e").over(w).alias("prev"))
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "e")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("prev")
    got = {
        (r.prev, r.e): (r.n, r.bp)
        for r in t.withColumn(
            "bp", F.expr("(n * 10000) DIV sum(n) OVER (PARTITION BY prev)")
        ).collect()
    }
    seqs = defaultdict(list)
    for u, ts, e in rows:
        seqs[u].append((ts, e))
    pairs = Counter()
    for u, items in seqs.items():
        items.sort()
        for (_, a), (_, b) in zip(items, items[1:]):
            pairs[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in pairs.items():
        row_tot[a] += n
    expected = {
        (a, b): (n, (n * 10000) // row_tot[a]) for (a, b), n in pairs.items()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.integers(-999, 999)),
        min_size=1,
        max_size=60,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@SETTINGS
def test_ohlc_open_close_match_python(spark, rows):
    """The q_ts_resample_ohlc kernel: rn_asc/rn_desc conditional-max
    open/close per bucket vs python first/last of the sorted bucket."""
    from collections import defaultdict

    df = spark.createDataFrame(rows, "b INT, t INT, c INT")
    w_a = Window.partitionBy("b").orderBy("t")
    w_d = Window.partitionBy("b").orderBy(F.col("t").desc())
    got = {
        r.b: (r.open_c, r.close_c, r.hi, r.lo)
        for r in df.select(
            "b",
            "c",
            F.row_number().over(w_a).alias("ra"),
            F.row_number().over(w_d).alias("rd"),
        )
        .groupBy("b")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("c"))).alias("open_c"),
            F.max(F.when(F.col("rd") == 1, F.col("c"))).alias("close_c"),
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
        )
        .collect()
    }
    buckets = defaultdict(list)
    for b, t, c in rows:
        buckets[b].append((t, c))
    for b, items in buckets.items():
        items.sort()
        assert got[b] == (
            items[0][1],
            items[-1][1],
            max(c for _, c in items),
            min(c for _, c in items),
        ), (b, items, got[b])


# ---------------------------------------------------------------------------
# Cross-family blocking recall (VERDICT r8 #6): the ER surface now has
# three blocking families — sorted-neighborhood rank adjacency, hash
# blocking (first-word × length band), MinHash-LSH. A curation user
# picking one needs the audit that PLANTED near-duplicates are
# recovered by at least one family at its documented contract. Ground
# truth is by construction: each planted duplicate substitutes ONE
# word of its base with another of the SAME length, so jaccard =
# (k-1)/(k+1) >= 0.8 (> the 0.5 verify gates), n_chars is unchanged
# (SNM sort-key locality), the first word and the 40-char-prefix
# length band are unchanged and the prefix edit distance is <= 6
# (inside q_llm_dedup_fuzzy's block + <= 8 gate) — so the hash-block
# family alone already owes us every planted pair, and the union
# assertion cannot pass by luck.
# ---------------------------------------------------------------------------

ER_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(8, 24),
    n_planted=st.integers(1, 4),
)
@ER_SETTINGS
def test_blocking_families_recover_planted_duplicates(
    spark, tmp_path_factory, seed, n_docs, n_planted
):
    import random

    import pandas as pd

    from batchprocessor_spark.plans.registry import load_all

    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(5))
        for _ in range(60)
    ]
    docs = []
    for i in range(n_docs):
        words = rng.sample(vocab, rng.randint(9, 14))
        docs.append(" ".join(words))
    planted = []
    for j in range(min(n_planted, n_docs)):
        base_id = rng.randrange(len(docs))
        words = docs[base_id].split(" ")
        # substitute one non-first word with a SAME-LENGTH word not
        # already present (keeps n_chars, first word, prefix band)
        pos = rng.randrange(1, len(words))
        repl = next(w for w in vocab if w not in words)
        dup = words[:pos] + [repl] + words[pos + 1 :]
        docs.append(" ".join(dup))
        planted.append((base_id, len(docs) - 1))

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["s0"] * len(docs),
            "n_chars": [len(t) for t in docs],
        }
    )
    tmp = tmp_path_factory.mktemp("er")
    pdf.to_parquet(str(tmp / "documents.parquet"))

    reg = load_all()
    outs = {}
    for fam, q, cols in (
        ("snm", "q_dedup_sorted_neighborhood", ("doc_a", "doc_b")),
        ("fuzzy", "q_llm_dedup_fuzzy", ("d1", "d2")),
        ("minhash", "q_llm_dedup_minhash", ("d1", "d2")),
    ):
        out = reg[q].builder(spark, str(tmp)).toPandas()
        outs[fam] = {
            (min(a, b), max(a, b)) for a, b in zip(out[cols[0]], out[cols[1]])
        }

    # Recall: every planted pair is recovered by at least one family
    # (and by the hash-block family specifically — its contract is
    # deterministic for the planted construction).
    for a, b in planted:
        pair = (min(a, b), max(a, b))
        assert pair in outs["snm"] | outs["fuzzy"] | outs["minhash"], (
            pair,
            outs,
        )
        assert pair in outs["fuzzy"], (pair, sorted(outs["fuzzy"]))

    # Precision side of each contract, vs python ground truth:
    sets = {i: set(t.split(" ")) for i, t in enumerate(docs)}

    def jac(p):
        a, b = sets[p[0]], sets[p[1]]
        return len(a & b) / len(a | b)

    # minhash verifies exact jaccard > 0.5 on LSH candidates
    assert all(jac(p) > 0.5 for p in outs["minhash"]), outs["minhash"]
    # SNM verifies 3*|A∩B| >= |A|+|B| (jaccard >= 0.5 on distinct sets)
    assert all(jac(p) >= 0.5 for p in outs["snm"]), outs["snm"]
    # fuzzy pairs share the block key (first word + prefix length
    # band) and pass the prefix edit-distance gate — check the block
    # key invariant in python (no external editdistance lib needed:
    # the <= 8 gate itself is Spark-side levenshtein, JVM-checked)
    for a, b in outs["fuzzy"]:
        wa, wb = docs[a].split(" ")[0].lower(), docs[b].split(" ")[0].lower()
        assert wa == wb, (a, b, wa, wb)
        la, lb = len(docs[a][:40]) // 8, len(docs[b][:40]) // 8
        assert la == lb, (a, b, la, lb)
