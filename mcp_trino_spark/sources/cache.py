"""In-memory tables + explicit cache control — SURVEY §2.2 S4.

The reference ships a Trino ``memory`` connector catalog (its
trino-conf/catalog/memory.properties; config.go:203 wires it) where
``CREATE TABLE memory.default.t AS SELECT …`` materializes a table in
cluster RAM.  Spark's native equivalent is the cache layer:

- ``CACHE TABLE name AS SELECT …`` creates a session-scoped view whose
  result is pinned in executor storage memory (deserialized columnar
  blocks, spill-to-disk by default) — exactly the memory-connector
  semantic, including cluster-wide distribution of the cached blocks.
- ``CACHE TABLE existing`` pins an existing table; reads after the
  first materialization become InMemoryTableScan (no parquet re-scan,
  still pruned/filtered by Catalyst).

Scale notes: cached blocks live on executors, partitioned like the
source plan — a 100 TB cache is bounded by cluster storage memory ×
``MEMORY_AND_DISK`` spill, the same contract as Trino's memory
connector (which simply fails when RAM runs out; Spark degrades to
disk instead).  Nothing is collected to the driver.

All entry points are allowlist-gated like the other catalog surfaces;
``create_memory_table`` additionally sits behind the write gate for
parity with the reference (memory-catalog DDL is still DDL there).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import SparkSession

from mcp_trino_spark.catalog_api import TableNotAllowed, _quote_ident
from mcp_trino_spark.config import EngineConfig
from mcp_trino_spark.execute import WriteQueryNotAllowed
from mcp_trino_spark.validate import is_read_only_query


def _check_table_allowed(config: EngineConfig, name: str) -> None:
    if not config.allowlists.is_table_allowed(
        config.default_catalog, config.default_schema, name
    ):
        raise TableNotAllowed(f"table not allowed: {name}")


def cache_table(
    spark: SparkSession,
    config: EngineConfig,
    name: str,
    *,
    lazy: bool = True,
    storage_level: Optional[str] = None,
) -> None:
    """Pin a table/view in executor memory (``CACHE TABLE``).

    ``lazy=True`` (default) defers materialization to first use — the
    right call server-side, where an eager cache would charge a full
    scan to whichever request happened to issue it.  ``storage_level``
    accepts Spark names like ``MEMORY_ONLY``; default is Spark's
    ``MEMORY_AND_DISK`` (spills instead of failing — the safe choice
    at scale).
    """
    _check_table_allowed(config, name)
    opts = f" OPTIONS ('storageLevel' '{storage_level}')" if storage_level else ""
    lazy_kw = "LAZY " if lazy else ""
    spark.sql(f"CACHE {lazy_kw}TABLE {_quote_ident(name)}{opts}")


def uncache_table(spark: SparkSession, config: EngineConfig, name: str) -> None:
    _check_table_allowed(config, name)
    spark.sql(f"UNCACHE TABLE IF EXISTS {_quote_ident(name)}")


def is_cached(spark: SparkSession, name: str) -> bool:
    return spark.catalog.isCached(name)


def clear_cache(spark: SparkSession) -> None:
    """Drop every cached relation (admin surface; no data is deleted)."""
    spark.catalog.clearCache()


def create_memory_table(
    spark: SparkSession,
    config: EngineConfig,
    name: str,
    select_sql: str,
    *,
    replace: bool = False,
) -> None:
    """``CREATE TABLE memory.default.<name> AS <select>`` equivalent:
    a session-scoped table materialized in cluster memory
    (``CACHE TABLE … AS SELECT``).

    Write-gated like the reference's memory-catalog DDL; the SELECT
    body must itself be read-only (no smuggling writes through the
    definition).
    """
    if not config.allow_write_queries:
        raise WriteQueryNotAllowed(
            "memory-table creation requires allow_write_queries "
            "(reference: memory catalog DDL is gated the same way)"
        )
    _check_table_allowed(config, name)
    if not is_read_only_query(select_sql):
        raise WriteQueryNotAllowed(
            "memory-table definition must be a read-only SELECT"
        )
    if replace:
        drop_memory_table(spark, config, name)
    # CACHE TABLE … AS SELECT: session-scoped view + pinned result
    # (eager by definition — the materialization IS the table)
    spark.sql(f"CACHE TABLE {_quote_ident(name)} AS {select_sql}")


def drop_memory_table(spark: SparkSession, config: EngineConfig, name: str) -> None:
    """Drop a memory table: uncache + drop the session view."""
    _check_table_allowed(config, name)
    spark.sql(f"UNCACHE TABLE IF EXISTS {_quote_ident(name)}")
    spark.catalog.dropTempView(name)


def list_cached_tables(spark: SparkSession, config: EngineConfig) -> List[str]:
    """Names of currently-cached catalog tables/views (the memory
    'catalog' listing), allowlist-filtered like list_tables."""
    names = [
        r.tableName
        for r in spark.sql("SHOW TABLES").collect()
        if spark.catalog.isCached(r.tableName)
    ]
    return [
        n
        for n in sorted(names)
        if config.allowlists.is_table_allowed(
            config.default_catalog, config.default_schema, n
        )
    ]
