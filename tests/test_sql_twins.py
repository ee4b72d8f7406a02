"""engine.sql() lifecycle proof for the Spark-SQL twins: every twin
``spark_sql_for`` serves (the SURVEY §2.2 contract set plus the
extended analytics set), run through a real ``spark.sql()`` over the
registered catalog views, must be value-identical to the DataFrame
builder's result — same check the oracle parity lane applies, but with
Spark's OWN SQL front-end as the second engine instead of DuckDB. No
other name is served."""

from __future__ import annotations

import pytest

from batchprocessor_spark.plans.registry import load_all
from batchprocessor_spark.plans.sql_twins import spark_sql_for
from batchprocessor_spark.sources.catalog import register_views
from tests.conftest import SF_ORACLE
from tests.oracle import compare
from tests.test_registry_order import SEC_2_2

REGISTRY = load_all()


@pytest.fixture(scope="module")
def views(spark):
    register_views(spark, SF_ORACLE)
    return spark


@pytest.mark.parametrize("name", sorted(SEC_2_2))
def test_sql_twin_matches_builder(views, name):
    spark = views
    twin_pdf = spark.sql(spark_sql_for(name)).toPandas()
    builder_df = REGISTRY[name].builder(spark, SF_ORACLE)
    compare(builder_df, twin_pdf, f"{name} (sql twin)")


@pytest.mark.parametrize("name", sorted(__import__(
    "batchprocessor_spark.plans.sql_twins", fromlist=["EXTENDED_TWIN_NAMES"]
).EXTENDED_TWIN_NAMES))
def test_extended_twin_matches_builder(views, name):
    """The extended analytics twins (VERDICT r7 #6: funnels, rolling
    WAU, cohort LTV/retention, sessionization, stickiness, snapshot
    diff, A/B stats) run through a real spark.sql() and must be
    value-identical to the DataFrame builders."""
    spark = views
    twin_pdf = spark.sql(spark_sql_for(name)).toPandas()
    builder_df = REGISTRY[name].builder(spark, SF_ORACLE)
    compare(builder_df, twin_pdf, f"{name} (extended sql twin)")


def test_verified_set_matches_contract():
    from batchprocessor_spark.plans.sql_twins import (
        EXTENDED_TWIN_NAMES,
        SPARK_SQL_TWINS,
        VERIFIED_TWINS,
        _extended_twins,
    )

    assert VERIFIED_TWINS == SEC_2_2
    assert set(SPARK_SQL_TWINS) <= VERIFIED_TWINS
    assert set(_extended_twins()) == EXTENDED_TWIN_NAMES
    assert EXTENDED_TWIN_NAMES <= set(REGISTRY)
    assert not (EXTENDED_TWIN_NAMES & VERIFIED_TWINS)


def test_served_set_is_exactly_the_checked_twins(spark):
    """spark_sql_for serves text for exactly the 58 names the two
    builder-equality tests above check, and raises KeyError for every
    other registered name. Engine.query_sql on an unserved name raises
    before it registers a view or runs a Spark job."""
    from batchprocessor_spark.engine import Engine
    from batchprocessor_spark.plans.sql_twins import EXTENDED_TWIN_NAMES

    served = set()
    for name in REGISTRY:
        try:
            text = spark_sql_for(name)
        except KeyError:
            continue
        assert "SELECT" in text.upper(), name
        served.add(name)
    assert served == SEC_2_2 | EXTENDED_TWIN_NAMES
    assert len(served) == 58
    with pytest.raises(KeyError):
        spark_sql_for("q_definitely_not_registered")

    eng = Engine(spark=spark, sf_dir=SF_ORACLE)
    tracker = spark.sparkContext.statusTracker()
    group = "test_served_set_unserved_name"
    spark.sparkContext.setJobGroup(group, group)
    try:
        with pytest.raises(KeyError, match="Engine.query"):
            eng.query_sql("q_llm_dedup_clusters")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group) == []
    assert not eng._views_registered
