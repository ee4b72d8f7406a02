"""Engine facade — the single entry point tying the pieces together
(SURVEY.md §4.3 custom component (2)).

    from batchprocessor_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.1")
    eng.table("lineitem")                  # catalog access
    eng.sql("SELECT count(*) FROM orders") # SQL over registered views
    eng.query("q_agg_basic")               # any registered operator
    eng.explain("q_join_inner_broadcast")  # formatted physical plan
    proc = eng.processor("id BIGINT", my_sink)   # dataflow pipeline
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from batchprocessor_spark.plans.registry import QuerySpec, load_all
from batchprocessor_spark.session import get_spark
from batchprocessor_spark.sources import io as _io
from batchprocessor_spark.sources.catalog import load_table, register_views
from batchprocessor_spark.streaming.flow import Sink
from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self._registry: dict[str, QuerySpec] = load_all()
        self._views_registered = False

    # ---------------------------------------------------------- catalog

    def table(self, name: str) -> DataFrame:
        self._require_sf()
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """SQL over the catalog tables (views registered lazily once)."""
        self._require_sf()
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    def read(self, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
        return _io.read(self.spark, path, fmt, schema, **options)

    @staticmethod
    def write(df: DataFrame, path: str, fmt: str = "parquet", **kwargs) -> None:
        _io.write(df, path, fmt, **kwargs)

    # ---------------------------------------------------------- queries

    def queries(
        self, category: str | None = None, search: str | None = None
    ) -> list[str]:
        """Registered query names, optionally filtered.

        ``category`` restricts to one registry category (see
        :meth:`categories` for the vocabulary); ``search`` keeps names
        whose id or registered doc contains the substring
        (case-insensitive) — the discovery path for a 300+-query
        surface."""
        names = sorted(self._registry)
        if category is not None:
            names = [n for n in names if self._registry[n].category == category]
        if search is not None:
            s = search.lower()
            names = [
                n
                for n in names
                if s in n.lower() or s in (self._registry[n].doc or "").lower()
            ]
        return names

    def categories(self) -> dict[str, int]:
        """Category → number of registered queries in it."""
        out: dict[str, int] = {}
        for spec in self._registry.values():
            out[spec.category] = out.get(spec.category, 0) + 1
        return dict(sorted(out.items()))

    def describe(self, name: str) -> str:
        """Human-readable card for one registered query: category,
        oracle kind, defining module, the registered doc, and the
        DuckDB oracle SQL — everything a user needs without reading
        source."""
        from batchprocessor_spark.plans.registry import describe

        return describe(self._registry[name])  # KeyError is the right failure

    def query(self, name: str) -> DataFrame:
        self._require_sf()
        return self._registry[name].builder(self.spark, self.sf_dir)

    def query_sql(self, name: str) -> DataFrame:
        """The same registered query through Spark's SQL front end: runs
        the query's Spark-SQL twin text via :meth:`sql`. Only the
        hand-written and §2.2 contract twins are served (58 names, each
        value-checked against its builder by tests/test_sql_twins.py);
        any other name raises ``KeyError`` before a view is registered
        or a job runs. :meth:`query` serves every name."""
        from batchprocessor_spark.plans.sql_twins import spark_sql_for

        return self.sql(spark_sql_for(name))

    def explain(self, name: str) -> str:
        return (
            self.query(name)._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )

    # --------------------------------------------------------- dataflow

    def processor(
        self,
        schema,
        sink: Sink,
        config: ProcessorConfig | None = None,
        workdir: str | None = None,
    ) -> BatchProcessor:
        """A reference-semantics micro-batching pipeline (SURVEY §2.1)."""
        return BatchProcessor(self.spark, schema, sink, config, workdir)

    # ----------------------------------------------------------- intern

    def _require_sf(self) -> None:
        if self.sf_dir is None:
            raise ValueError("Engine needs sf_dir for catalog/query access")
