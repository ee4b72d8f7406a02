"""Parquet table catalog over a scale-factor directory.

The engine's tables are one parquet file/dir per table under an
``sf_dir`` (see /root/repo/TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and partition pruning for free — at 100 TB these would be
partitioned parquet/iceberg directories and nothing here changes.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Redistribute a DataFrame across the cluster before CPU-bound
    per-row work. Needed because a single parquet file with one row
    group scans as ONE task no matter the split config — on a real
    multi-file table this is a no-op decision, but the explicit hash
    repartition also lets downstream joins on the same key reuse the
    exchange."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of one table: a file, or a directory of part files
    walked recursively (Hive-partitioned tables nest them under
    ``key=value/`` directories). ``None`` — size unknown — for a table
    that is not on the local filesystem (an ``s3a://``, ``hdfs://``...
    URI)."""
    url = urlparse(sf_dir)
    if url.scheme not in ("", "file"):
        return None
    path = os.path.join(url.path, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(url.path, name)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.stat(path).st_size


# Size gate for explicit key-pin repartitions (guide §2.5, r13). An
# explicit REPARTITION_BY_NUM keeps a CPU-dense stage cluster-wide when
# AQE's byte-based coalescing would otherwise fold it to 1-3 tasks —
# but at small inputs the same pin is pure scheduling overhead: the
# r12 driver run measured q_dedup_exact 0.57x and q_win_session 0.88x
# at sf0.1, where the keyed shuffle is ~2-3 MB and a 64-task floor
# means ~40 KB/task. Pin only when the source table is large enough
# that the post-shuffle stage both needs every core and amortizes the
# task overhead; below the threshold return the input unchanged so the
# downstream window/groupBy establishes its own exchange and AQE sizes
# it. Thresholds are env-overridable so cluster deployments can tune
# them without code changes; the defaults are production values
# (256 MB gate, ~256 MB of source bytes per post-shuffle task).
_PIN_MIN_BYTES = int(os.environ.get("SPARK_GRAFT_PIN_MIN_BYTES", str(256 << 20)))
_PIN_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_PIN_TARGET_BYTES", str(256 << 20))
)


def spread_keyed(df: DataFrame, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Size-gated key-pinned redistribution of table ``name`` (already
    loaded as ``df``) before a CPU-dense keyed stage. No-op below
    ``_PIN_MIN_BYTES``; above it, an explicit hash repartition on
    ``cols`` whose width scales with input bytes (floor 2x cluster
    parallelism) so the stage stays cluster-wide past AQE coalescing
    at 100 TB without paying a fixed 64-task floor at test scale.
    A table of unknown size (not local) is not pinned."""
    nbytes = table_bytes(sf_dir, name)
    if nbytes is None or nbytes < _PIN_MIN_BYTES:
        return df
    sc = df.sparkSession.sparkContext
    width = max(2 * sc.defaultParallelism, nbytes // _PIN_TARGET_BYTES)
    return df.repartition(int(width), *cols)


# Catalog schema cache (r12, guide §1.2 "per-task work" at the driver):
# ``spark.read.parquet`` re-infers the schema (footer read + listing)
# on EVERY call — measured 0.10-0.20 s per table load at sf0.1 vs
# ~0.03 s with an explicit schema, and a typical query builds 1-5
# table reads per run. A real engine resolves tables through a
# catalog that stores schemas; this dict is that catalog metadata.
# It caches the inferred StructType ONLY (never data, plans, or
# results), keyed by (realpath, mtime) so a rewritten fixture
# invalidates its entry. The DataFrame is still constructed from the
# parquet files on every call.
_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def _dataset_mtime(path: str) -> float:
    """mtime that changes when a dataset changes: the file's own mtime
    for single-file tables; for directories, the max of the dir and
    its direct children (file add/remove touches the dir; in-place
    rewrite touches the child)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return st.st_mtime
    mt = st.st_mtime
    for entry in os.scandir(path):
        mt = max(mt, entry.stat().st_mtime)
    return mt


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Accepts both ``<sf>/<name>.parquet`` files and
    ``<sf>/<name>/`` directories so the same catalog works on real
    partitioned layouts.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    rejects by default; we read it as raw nanos (legacy conf, runtime
    settable) and convert to a microsecond TimestampType with integer
    division (nanos ≈ 1.7e18 exceed double precision — `div`, not `/`).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(sf_dir, name)
    if name == "events" and spark.conf.get(
        "spark.sql.legacy.parquet.nanosAsLong", "false"
    ) != "true":
        # Session factory (session.get_spark) sets this at build
        # time; sessions constructed elsewhere (driver harness,
        # bare tests) still need it — runtime-settable legacy conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (os.path.realpath(path), _dataset_mtime(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        # One inference per (dataset, version) per process; the
        # nanosAsLong conf above is set before this point so the
        # cached events schema is the nanos-as-bigint one.
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
