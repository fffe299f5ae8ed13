"""Metadata tools — SURVEY §2.1 F2-F5 (reference
internal/mcp/handlers.go:94-238, internal/trino/client.go:640-769).

list_catalogs / list_schemas / list_tables / get_table_schema over the
Spark catalog, with the reference's 1/2/3-part table-name resolution
and allowlist gating.  These are driver-side metadata calls — no Spark
jobs run, which is exactly the reference's "metadata scoping" cost
model (docs/allowlists.md).  That rules out PySpark's
``spark.catalog.list*`` helpers, which run one job per partition of
their result; tests/test_metadata_jobs.py counts the jobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import SparkSession

from mcp_trino_spark.config import EngineConfig


class TableNotAllowed(PermissionError):
    pass


class InvalidTableName(ValueError):
    pass


def _quote_ident(name: str) -> str:
    """Backtick-quote a client-supplied identifier for SQL interpolation.

    Names come from MCP tool arguments — attacker-shaped strings must
    never splice into statement text as raw SQL.  Embedded backticks are
    doubled (Spark's escape); other characters are inert inside quotes.
    """
    if not name or "\x00" in name:
        raise InvalidTableName(f"invalid identifier: {name!r}")
    return "`" + name.replace("`", "``") + "`"


def list_catalogs(spark: SparkSession, config: EngineConfig) -> List[str]:
    """All catalogs: loaded ones plus configured-but-untouched V2 plugin
    catalogs (Spark only 'loads' a plugin catalog on first use, but the
    reference's SHOW CATALOGS lists every configured connector —
    client.go:640-659)."""
    from mcp_trino_spark.sources.federation import loaded_catalogs

    return config.allowlists.filter_catalogs(loaded_catalogs(spark))


def list_schemas(
    spark: SparkSession, config: EngineConfig, catalog: Optional[str] = None
) -> List[str]:
    catalog = catalog or config.default_catalog
    rows = spark.sql(f"SHOW SCHEMAS IN {_quote_ident(catalog)}").collect()
    names = sorted(r[0] for r in rows)
    return config.allowlists.filter_schemas(names, catalog)


def list_tables(
    spark: SparkSession,
    config: EngineConfig,
    catalog: Optional[str] = None,
    schema: Optional[str] = None,
) -> List[str]:
    catalog = catalog or config.default_catalog
    schema = schema or config.default_schema
    rows = spark.sql(
        f"SHOW TABLES IN {_quote_ident(catalog)}.{_quote_ident(schema)}"
    ).collect()
    names = sorted(r["tableName"] for r in rows)
    # temp views surface with an empty namespace; include them (the
    # testdata catalog registers as temp views)
    return config.allowlists.filter_tables(names, catalog, schema)


def resolve_table_name(
    config: EngineConfig,
    catalog: Optional[str],
    schema: Optional[str],
    table: str,
) -> Tuple[str, str, str]:
    """1/2/3-part resolution against configured defaults (reference
    client.go:736-757): ``table`` may itself be dotted."""
    if not table:
        raise InvalidTableName("table name is required")
    parts = table.split(".")
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    if len(parts) == 2:
        return (catalog or config.default_catalog), parts[0], parts[1]
    if len(parts) == 1:
        return (
            catalog or config.default_catalog,
            schema or config.default_schema,
            parts[0],
        )
    raise InvalidTableName(f"invalid table name: {table!r}")


@dataclass
class ColumnInfo:
    name: str
    type: str
    nullable: bool


def get_table_schema(
    spark: SparkSession,
    config: EngineConfig,
    table: str,
    catalog: Optional[str] = None,
    schema: Optional[str] = None,
) -> List[ColumnInfo]:
    cat, sch, tbl = resolve_table_name(config, catalog, schema, table)
    if not config.allowlists.is_table_allowed(cat, sch, tbl):
        raise TableNotAllowed(
            f"access to table {cat}.{sch}.{tbl} is not allowed by the configured allowlists"
        )
    # temp views resolve by bare name; catalog tables by qualified name
    target = (
        _quote_ident(tbl)
        if _is_temp_view(spark, tbl)
        else f"{_quote_ident(cat)}.{_quote_ident(sch)}.{_quote_ident(tbl)}"
    )
    df = spark.table(target)
    return [
        ColumnInfo(name=f.name, type=f.dataType.simpleString(), nullable=f.nullable)
        for f in df.schema.fields
    ]


def _is_temp_view(spark: SparkSession, name: str) -> bool:
    try:
        return spark.catalog.getTable(name).isTemporary
    except Exception:  # noqa: BLE001 — unknown or unparsable name
        return False
