"""Cross-system federation: a second catalog over a JDBC database.

The reference's headline capability is querying external systems
(PostgreSQL, MySQL, S3/Hive, BigQuery, Kafka) through Trino catalogs
(reference README.md:47-50; the execute_query tool description
advertises "cross-system data exploration", handlers.go:290-297), with
3-part ``catalog.schema.table`` names resolved by client.go:736-757.

Spark's native twin is the **catalog plugin API**: a V2 catalog
registered under ``spark.sql.catalog.<name>`` routes all metadata and
scans for that name prefix to an external system.  Here we register
Spark's built-in ``JDBCTableCatalog`` over an embedded **Apache Derby**
database — Derby is the JDBC engine already on Spark's classpath (it
backs the Hive metastore), so the wiring is exactly what a deployment
would use for PostgreSQL/MySQL (swap url + driver), while remaining
runnable in this container:

    spark.sql.catalog.dimdb        = ...v2.jdbc.JDBCTableCatalog
    spark.sql.catalog.dimdb.url    = jdbc:derby:<path>;create=true
    spark.sql.catalog.dimdb.driver = org.apache.derby.jdbc.EmbeddedDriver

After registration, ``SHOW CATALOGS`` returns >1 catalog, 3-part names
(``dimdb.dim.nation``) resolve through F2-F5, and a join between a
session-catalog parquet table and a JDBC table is planned by Catalyst
with the JDBC side read through the DSv2 scan (filters and column
pruning push down into the remote SQL — at 100 TB the fact side stays
in parquet/distributed scans and the JDBC side is a broadcast-sized
dimension, which is the only sane federation shape anyway).

Scale notes: the JDBC catalog's scan supports predicate/projection
pushdown (Spark emits a SELECT with WHERE to the remote engine), and a
small dimension read lands under the broadcast threshold so the fact
table never shuffles — verified in the s9 plan (PushedFilters on the
parquet side, BroadcastHashJoin with the JDBC relation build-side).
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from mcp_trino_spark.registry import register

#: catalog name used by the registry entries; deployments pick their own
DIM_CATALOG = "dimdb"
#: namespace (schema) inside the JDBC catalog — gives true 3-part names
DIM_SCHEMA = "dim"

_JDBC_CATALOG_IMPL = (
    "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
)
_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def register_jdbc_catalog(
    spark: SparkSession,
    name: str,
    url: str,
    driver: str,
) -> None:
    """Register a V2 JDBC catalog under ``name`` (idempotent).

    ``pushDownLimit`` is force-disabled: probe-caught (round 10) — with
    it on, ``SELECT ... FROM <jdbc> ORDER BY k LIMIT 3`` against the
    embedded Derby catalog returns ALL rows.  The planner marks the
    TopN fully pushed (``PushedTopN`` in the scan, no Spark-side
    TakeOrderedAndProject remains), but the executed "JDBC v1 Relation
    from v2 scan" path never applies the clause remotely — a silent
    wrong answer on any federated LIMIT query.  Predicate, projection,
    and aggregate pushdown are unaffected (value-verified in
    tests/test_federation.py); losing remote LIMIT costs one dimension
    scan, losing correctness costs everything.  Options must be set
    BEFORE the catalog's first use — the catalog caches them at load."""
    spark.conf.set(f"spark.sql.catalog.{name}", _JDBC_CATALOG_IMPL)
    spark.conf.set(f"spark.sql.catalog.{name}.url", url)
    spark.conf.set(f"spark.sql.catalog.{name}.driver", driver)
    spark.conf.set(f"spark.sql.catalog.{name}.pushDownLimit", "false")


def _derby_path(sf_dir: str) -> str:
    # per-(sf, pid) path: embedded Derby allows one booting JVM per
    # database directory, so concurrent test/driver processes must not
    # share one; the dimension payload is tiny (25 rows)
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join("/tmp", "mcp_trino_spark_dimdb", f"{base}-pid{os.getpid()}")


def ensure_dim_catalog(spark: SparkSession, sf_dir: str) -> str:
    """Register ``dimdb`` and make sure ``dimdb.dim.nation`` exists,
    populated from the testdata nation parquet (idempotent per process).
    Returns the catalog name."""
    path = _derby_path(sf_dir)
    register_jdbc_catalog(
        spark, DIM_CATALOG, f"jdbc:derby:{path};create=true", _DERBY_DRIVER
    )
    full = f"{DIM_CATALOG}.{DIM_SCHEMA}.nation"
    try:
        if spark.catalog.tableExists(full):
            return DIM_CATALOG
    except Exception:
        pass  # catalog not bootable yet → create below
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {DIM_CATALOG}.{DIM_SCHEMA}")
    from mcp_trino_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "nation").writeTo(full).createOrReplace()
    return DIM_CATALOG


def loaded_catalogs(spark: SparkSession) -> List[str]:
    """Catalog names: the loaded ones (SHOW CATALOGS) plus every catalog
    configured via ``spark.sql.catalog.*`` that has not been touched yet
    — Spark only lists a plugin catalog after first use, but a user
    asking "what catalogs exist" wants the configured set (the
    reference's SHOW CATALOGS returns all configured connectors)."""
    names = {r.catalog for r in spark.sql("SHOW CATALOGS").collect()}
    # SET (no args) lists every explicitly-set SQL conf, including
    # runtime-registered spark.sql.catalog.<name> plugin bindings
    for row in spark.sql("SET").collect():
        k = row["key"]
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            names.add(k.rsplit(".", 1)[1])
    return sorted(names)


# ---------------------------------------------------------------------------
# registry entries


@register(
    "s9_cross_catalog_join",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def s9_cross_catalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-catalog join (reference README.md:47-50 federation,
    client.go:736-757 3-part names): customer lives in the session
    catalog (parquet), nation in the ``dimdb`` JDBC catalog (Derby via
    JDBCTableCatalog); the join crosses catalogs inside one Catalyst
    plan.  The oracle flattens both sides to the same parquet, which is
    exactly the data equivalence being asserted.

    Plan shape: parquet fact scan (pushed filters/pruned columns) ⋈
    broadcast JDBC dimension — the fact side never shuffles; the JDBC
    read is one dimension-sized pull, the only federation shape that
    survives 100 TB."""
    from mcp_trino_spark.sources.catalog import load_table

    ensure_dim_catalog(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = spark.table(f"{DIM_CATALOG}.{DIM_SCHEMA}.nation")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@register("f2b_list_catalogs_federated")
def f2b_list_catalogs_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW CATALOGS with a second (JDBC) catalog registered — returns
    >1 row, making F2 a real multi-catalog listing (rows-only check:
    catalog inventories have no DuckDB twin)."""
    ensure_dim_catalog(spark, sf_dir)
    spark.sql(f"SHOW TABLES IN {DIM_CATALOG}.{DIM_SCHEMA}").collect()  # load it
    return spark.createDataFrame(
        [(n,) for n in loaded_catalogs(spark)], "catalog string"
    )
