"""The façade's column-type map (``execute._catalog_column_types``).

The map is fingerprinted by one ``SHOW TABLE EXTENDED`` listing whose
per-relation ``information`` carries each relation's schema, and a
per-relation memo means a changed listing re-analyzes only the
relations it has not seen.  Analysis is counted by wrapping
``spark.table``, the only call that resolves a relation's schema.
"""

import time
import uuid

import pytest

from mcp_trino_spark import execute
from mcp_trino_spark.execute import (
    _catalog_column_types,
    column_types_counts,
    invalidate_column_types_cache,
)


@pytest.fixture
def analyzed(spark, monkeypatch):
    """The names ``spark.table`` was called with, in order."""
    names = []
    real = type(spark).table

    def counting(self, name):
        names.append(name)
        return real(self, name)

    monkeypatch.setattr(type(spark), "table", counting)
    return names


@pytest.fixture
def forty_views(spark):
    names = [f"ctv_{i}" for i in range(40)]
    for i, n in enumerate(names):
        spark.createDataFrame([(1,)], f"ctv_c{i} int").createOrReplaceTempView(n)
    yield names
    for n in names:
        spark.catalog.dropTempView(n)


def test_warm_call_analyzes_nothing(spark, forty_views, analyzed):
    cold = _catalog_column_types(spark)
    assert cold["ctv_c39"] == "int"
    analyzed.clear()
    before = column_types_counts()
    assert _catalog_column_types(spark) is cold
    assert analyzed == []
    after = column_types_counts()
    assert after["hits"] == before["hits"] + 1
    assert after["misses"] == before["misses"]


def test_new_view_analyzes_only_itself(spark, forty_views, analyzed):
    _catalog_column_types(spark)
    analyzed.clear()
    view = f"ctv_new_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(1.5,)], "ctv_fresh double").createOrReplaceTempView(view)
    try:
        m = _catalog_column_types(spark)
        assert analyzed == [view]
        assert m["ctv_fresh"] == "double" and m["ctv_c0"] == "int"
    finally:
        spark.catalog.dropTempView(view)
    analyzed.clear()
    m = _catalog_column_types(spark)  # dropped: the memo covers the rest
    assert analyzed == [] and "ctv_fresh" not in m
    # the memo holds only relations of the current listing
    fp, _, memo = execute._COLUMN_TYPES_CACHE[spark]
    assert set(memo) <= set(fp)
    assert not any(key[1] == view for key in memo)


def test_reregistering_same_schema_is_a_hit(spark, forty_views, analyzed):
    m = _catalog_column_types(spark)
    time.sleep(1.1)  # the listing's Created Time has second resolution
    spark.createDataFrame([(2,)], "ctv_c3 int").createOrReplaceTempView("ctv_3")
    analyzed.clear()
    assert _catalog_column_types(spark) is m
    assert analyzed == []


def test_out_of_band_alter_shows_without_hook(spark, tmp_path):
    name = f"ctv_alter_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {name} (ctv_k bigint) USING parquet"
        f" LOCATION '{tmp_path / name}'"
    )
    try:
        assert "ctv_added" not in _catalog_column_types(spark)
        spark.sql(f"ALTER TABLE {name} ADD COLUMNS (ctv_added decimal(10,2))")
        assert _catalog_column_types(spark)["ctv_added"] == "decimal(10,2)"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_invalidation_reanalyzes_everything(spark, forty_views, analyzed):
    _catalog_column_types(spark)
    invalidate_column_types_cache(spark)
    analyzed.clear()
    _catalog_column_types(spark)
    assert set(forty_views) <= set(analyzed)


def test_listing_runs_no_jobs(spark, forty_views):
    from tests.test_metadata_jobs import _jobs

    rows, n = _jobs(
        spark, lambda: spark.sql("SHOW TABLE EXTENDED LIKE '*'").collect(), settle_s=0.5
    )
    assert len(rows) >= 40
    assert n == 0
