"""Table metadata on request paths runs no Spark jobs.

PySpark's ``spark.catalog.listTables`` / ``listColumns`` /
``listCatalogs`` walk their result Dataset with ``toLocalIterator``,
which runs one Spark job per partition.  The façade's metadata tools,
the DML layer and the time-travel rewrites answer the same questions
from driver-side SQL commands (``DESCRIBE FORMATTED``, ``SHOW
CATALOGS``, ``SHOW TABLES``) and ``spark.catalog.getTable``.  Each call
here runs under its own job group, and the group's job ids are read
back from the status tracker.
"""

import re
import time
import uuid
from pathlib import Path

import pytest
from pyspark.sql import Row

from mcp_trino_spark import catalog_api
from mcp_trino_spark.config import EngineConfig
from mcp_trino_spark.sources.dml import (
    DmlError,
    TableMeta,
    _table_location,
    table_metadata,
    update_table,
)
from mcp_trino_spark.sources.timetravel import (
    rewrite_table_changes,
    rewrite_version_as_of,
)


def _jobs(spark, fn, settle_s=0.0):
    """(fn(), number of Spark jobs it started).  The status tracker is
    fed asynchronously by the listener bus, so a caller expecting jobs
    can wait ``settle_s`` for them to show up."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + settle_s
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    while n == 0 and time.monotonic() < deadline:
        time.sleep(0.05)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    return result, n


def _catalog_pcols(spark, name):
    return [c.name for c in spark.catalog.listColumns(name) if c.isPartition]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """name → location for an unpartitioned table, one partitioned on
    two columns, one in a non-default database (with a data column
    named ``Location``) and one whose partition column name holds a
    space."""
    root = tmp_path_factory.mktemp("meta")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS meta_db LOCATION '{root / 'meta_db'}'")
    specs = {
        "meta_flat": ("k bigint, v double", [], [(1, 1.0), (2, 2.0)]),
        "meta_two": (
            "k bigint, p1 bigint, p2 string", ["p1", "p2"],
            [(1, 0, "a"), (2, 1, "b"), (3, 1, "a")],
        ),
        "meta_db.meta_other": (
            "k bigint, Location string, p bigint", ["p"], [(1, "x", 0), (2, "y", 1)],
        ),
        "meta_space": (
            "`k v` bigint, `part key` string", ["part key"], [(1, "a"), (2, "b")],
        ),
    }
    out = {}
    for name, (ddl, pcols, rows) in specs.items():
        loc = str(root / name.replace(".", "_"))
        writer = spark.createDataFrame(rows, ddl).write
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(loc)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        parted = (
            f" PARTITIONED BY ({', '.join(f'`{c}`' for c in pcols)})" if pcols else ""
        )
        spark.sql(f"CREATE TABLE {name} ({ddl}) USING parquet{parted} LOCATION '{loc}'")
        if pcols:
            spark.sql(f"MSCK REPAIR TABLE {name}")
        out[name] = loc
    yield out
    for name in out:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql("DROP DATABASE IF EXISTS meta_db CASCADE")


@pytest.mark.parametrize(
    "name", ["meta_flat", "meta_two", "meta_db.meta_other", "meta_space"]
)
def test_lookup_matches_catalog_listing(spark, tables, name):
    meta = table_metadata(spark, name)
    assert Path(meta.location).resolve() == Path(tables[name]).resolve()
    assert meta.partition_columns == _catalog_pcols(spark, name)
    assert _table_location(spark, name) == meta.location


def test_lookup_on_temp_view(spark):
    spark.range(3).createOrReplaceTempView("meta_tv")
    try:
        assert table_metadata(spark, "meta_tv") == TableMeta(None, [])
        with pytest.raises(DmlError, match="no Location"):
            _table_location(spark, "meta_tv")
    finally:
        spark.catalog.dropTempView("meta_tv")


def test_lookup_runs_no_jobs(spark, tables):
    for name in tables:
        _, n = _jobs(spark, lambda: table_metadata(spark, name))
        assert n == 0, name
    # the counter sees the jobs the catalog listing runs
    _, n = _jobs(spark, lambda: _catalog_pcols(spark, "meta_two"), settle_s=5)
    assert n > 0


def test_facade_metadata_tools_run_no_jobs(spark, tables):
    cfg = EngineConfig()
    spark.range(3).createOrReplaceTempView("meta_tv2")
    try:
        for table in ("meta_tv2", "meta_two", "meta_db.meta_other"):
            cols, n = _jobs(
                spark, lambda: catalog_api.get_table_schema(spark, cfg, table)
            )
            assert cols and n == 0, table
    finally:
        spark.catalog.dropTempView("meta_tv2")
    cats, n = _jobs(spark, lambda: catalog_api.list_catalogs(spark, cfg))
    assert "spark_catalog" in cats and n == 0


@pytest.fixture(params=["flat", "parted"])
def versioned(spark, tmp_path, request):
    """An unpartitioned or a partitioned table with one UPDATE commit
    (versions 0 and 1)."""
    name = f"meta_tt_{request.param}"
    loc = tmp_path / name
    writer = spark.createDataFrame(
        [Row(k=i, v=float(i), p=i % 2) for i in range(6)]
    ).write
    parted = ""
    if request.param == "parted":
        writer, parted = writer.partitionBy("p"), " PARTITIONED BY (p)"
    writer.parquet(str(loc))
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k bigint, v double, p bigint) USING parquet"
        f"{parted} LOCATION '{loc}'"
    )
    if parted:
        spark.sql(f"MSCK REPAIR TABLE {name}")
    update_table(spark, name, {"v": "v + 10"}, "k = 1")
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_time_travel_rewrites_run_no_jobs(spark, versioned):
    views = []
    try:
        q, n = _jobs(spark, lambda: rewrite_version_as_of(
            spark, f"SELECT k, v FROM {versioned} FOR VERSION AS OF 0", views
        ))
        assert n == 0
        assert sorted(tuple(r) for r in spark.sql(q).collect()) == [
            (i, float(i)) for i in range(6)
        ]
        q, n = _jobs(spark, lambda: rewrite_table_changes(
            spark,
            f"SELECT k, v, _change_type FROM TABLE(system.table_changes("
            f"'{versioned}', 0, 1))",
            views,
        ))
        assert n == 0
        assert sorted(tuple(r) for r in spark.sql(q).collect()) == [
            (1, 1.0, "delete"), (1, 11.0, "insert"),
        ]
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


def test_no_catalog_listings_on_request_paths():
    root = Path(__file__).resolve().parents[1]
    listing = re.compile(r"\.(listTables|listColumns|listCatalogs)\(")
    hits = [
        f"{path.relative_to(root)}:{i}"
        for pkg in ("mcp_trino_spark", "server")
        for path in sorted((root / pkg).rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if listing.search(line)
    ]
    assert hits == []
