"""Seeded generator for the engine's ten tables at a given scale factor.

The benchmark reads and writes only inside its own checkout, so it makes
its query inputs itself instead of reading a shared fixture directory.
The schemas, key domains and value distributions follow FIXTURES.md and
the TPC-H-ish fixtures the test suite uses (sf0.1: 600k lineitem rows,
100k events, 5k documents, 2k 64-d embeddings). Every table is written
as a directory of part files with the part-count rule of
``scripts.fixture_layout``, the layout the engine's bench and tests run
on. The same ``(seed, sf)`` always gives the same bytes of data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scripts.fixture_layout import _part_count

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "old", "blue", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05  # documents that are a one-word edit of an earlier one
EMB_DIM = 64


def _rows(sf: float) -> dict[str, int]:
    # documents/embeddings grow sub-linearly, like the fixtures:
    # 500/500 rows at sf0.001, 5,000/2,000 at sf0.1.
    ratio = sf / 0.001
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": round(500 * ratio**0.5),
        "embeddings": round(500 * ratio ** (np.log10(4) / 2)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return days.astype("datetime64[us]")


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> dict[str, pa.Array]:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            base = texts[rng.integers(0, i)].split()
            base[rng.integers(0, len(base))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = 0.5 * centers[labels] + rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)`` as arrow tables."""
    n = _rows(sf)
    names = ["customer", "supplier", "part", "orders", "lineitem", "events",
             "documents", "embeddings"]
    rngs = dict(zip(names, (np.random.default_rng(s) for s in
                            np.random.SeedSequence([seed, round(sf * 1e6)]).spawn(len(names)))))
    i32, i64 = np.int32, np.int64
    out: dict[str, dict[str, pa.Array]] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        },
    }
    r, k = rngs["customer"], n["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(k, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(i32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    }
    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(k, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(r.integers(0, 25, k).astype(i32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
    }
    r, k = rngs["part"], n["part"]
    keys = np.arange(k, dtype=i64)
    out["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, k), r.integers(0, 8, k))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2)),
    }
    r, k = rngs["orders"], n["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(k, dtype=i64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(i64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(r, 1000, 500_000, k)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", k)),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    }
    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(i64)),
        "l_partkey": pa.array(r.integers(0, n["part"], k).astype(i64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(i64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(i32)),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900, 105_000, k)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100),
        "l_tax": pa.array(r.integers(0, 9, k) / 100),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", k)),
    }
    r, k = rngs["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(i64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + r.integers(0, span_us, k)).astype("datetime64[us]")
    out["events"] = {
        "event_id": pa.array(np.arange(k, dtype=i64)),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, n["users"], k).astype(i64)),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": pa.array(np.round(r.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    }
    out["documents"] = _documents(rngs["documents"], n["documents"])
    out["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return {name: pa.table(cols) for name, cols in out.items()}


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write the tables for ``(seed, sf)`` under ``out_dir`` as
    ``<table>.parquet/part-*.parquet`` directories; returns ``out_dir``."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for name, tbl in tables(seed, sf).items():
        sink = pa.BufferOutputStream()
        pq.write_table(tbl, sink)
        parts = _part_count(tbl.num_rows, sink.getvalue().size)
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
        for i in range(parts):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
    return out_dir
