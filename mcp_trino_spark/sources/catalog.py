"""Testdata catalog: parquet files → DataFrames / temp views.

Mirrors the reference's catalog model (catalog → schema → table,
reference internal/trino/client.go:736-757) in its minimum concrete
form: one directory of parquet files per scale factor, each file a
table, registered as temp views under the bare table name so that both
``spark.sql`` queries and the DuckDB oracle address the same names.

Scale notes (100 TB posture): each table here is a single parquet file
only because the driver materializes it that way; ``spark.read.parquet``
accepts a directory of thousands of files identically, and everything
downstream (pushdown, pruning, AQE) is agnostic to file count.  On a
real deployment these would be external tables with partition columns
(date for the fact tables) — see ``register_tables(analyze=...)`` for
the CBO stats hook.
"""

from __future__ import annotations

import os
import weakref
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

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

#: Small dimension tables that should always broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: session → {(sf_dir, name, stat_fingerprint): DataFrame} — plan
#: (metadata) reuse only, r15: ``spark.read.parquet`` eagerly lists the
#: path and reads footers for schema inference (~0.1 s per table,
#: driver-side), and the harnesses re-derive every table's frame once
#: per benched rep, so the footer tax was paid 10× per register_tables
#: call.  A DataFrame is an immutable logical plan — reusing the object
#: never reuses RESULTS (every action still scans parquet); the
#: (mtime_ns, size) fingerprint drops the entry the moment the file
#: changes on disk, and the WeakKeyDictionary can't alias a collected
#: session's entry via id() reuse (same pattern as execute's
#: _COLUMN_TYPES_CACHE).
_TABLE_PLAN_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _path_fingerprint(path: str):
    """(mtime_ns, size) of a REGULAR file, or None when the path is
    missing or a directory.  Directories return None on purpose
    (ADVICE r15): rewriting a nested part file in place changes neither
    the directory's mtime_ns nor its size, so a directory fingerprint
    would serve a stale cached plan — directory-of-parquet tables
    simply bypass the plan cache (load_table below skips caching on
    None)."""
    import stat as _stat

    try:
        st = os.stat(path)
        if not _stat.S_ISREG(st.st_mode):
            return None
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; schema comes from the parquet footer (schema-on-read).

    ``events.ts`` is nanosecond-precision in the parquet (TESTDATA /
    FIXTURES); Spark's TimestampType is µs, so the session reads nanos
    as long (session.py) and this layer exposes both views of it:
    ``ts``  — TimestampType, truncated to µs (what SQL functions want;
    also the finest precision DuckDB 1.x sees — it reads the ns parquet
    column as a µs TIMESTAMP, so oracle-checked operators order/gap on
    µs + an id tiebreak, never on ns)
    ``ts_ns`` — the exact int64 nanos, kept for consumers that need
    sub-µs exactness (not oracle-comparable).
    """
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS).  Spark ≤4.0
        # only reads that type with nanosAsLong on (else
        # PARQUET_TYPE_ILLEGAL); newer Spark reads it natively as
        # timestamp_ntz (µs-truncated) and ignores the conf.  Set it
        # defensively on the CALLER's session (the driver passes its own,
        # vanilla SparkSession) — harmless where ignored, required where
        # not — and let normalize_events handle whichever shape comes back.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = table_path(sf_dir, name)
    fp = _path_fingerprint(path)
    if fp is None:
        # missing path (let spark.read raise its own error) or a
        # directory table (no reliable cheap fingerprint — see
        # _path_fingerprint): never cache, always re-list
        df = spark.read.parquet(path)
        return normalize_events(df) if name == "events" else df
    key = (sf_dir, name, fp)
    cached = _TABLE_PLAN_CACHE.setdefault(spark, {})
    df = cached.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events":
            df = normalize_events(df)
        # evict stale fingerprints of the same table, then memoize
        # (pop: tolerant of a concurrent thread racing the eviction)
        for k in [k for k in cached if k[:2] == (sf_dir, name)]:
            cached.pop(k, None)
        cached[key] = df
    return df


#: session → {(sql_text, sf_dir, table fingerprints): DataFrame} — the
#: r16 ANALYZED-PLAN cache for translate-routed SQL entries (VERDICT
#: r15 #1).  Catalyst analysis of the big UNION batches costs
#: 0.3–0.5 s per entry per call (measured, OPTIMIZATION_r16.md);
#: the analyzed DataFrame is an immutable logical plan, so reusing it
#: is compilation reuse only — every action still scans parquet.
#:
#: Key contract (the documented temp-view re-pointing trap,
#: OPTIMIZATION_r15.md "Not yet optimized" #3): the key is the
#: TRANSLATED SQL text plus the resolved FILE fingerprints of every
#: testdata table under ``sf_dir`` — never schemas.
#: ``register_tables(other_sf_dir)`` re-points the same view names at
#: different files with identical schemas; the fingerprint tuple
#: changes and the entry misses, exactly as required.  Callers must
#: have (re-)registered the sf_dir's views before the first analysis
#: of a given key — every registry entry does (it registers its own
#: sf_dir), so a cached plan is always bound to the files its sf_dir
#: argument names.  A directory-backed table (fingerprint None while
#: the path exists) disables caching entirely — same rationale as
#: _path_fingerprint above.
_ANALYZED_SQL_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def analyzed_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """``spark.sql(sql)`` memoized per (session, translated text,
    sf_dir, testdata file fingerprints) — see _ANALYZED_SQL_CACHE."""
    fps = []
    for t in TABLES:
        p = table_path(sf_dir, t)
        fp = _path_fingerprint(p)
        if fp is None and os.path.exists(p):
            # directory table — no reliable cheap fingerprint; bypass
            return spark.sql(sql)
        fps.append(fp)
    key = (sql, sf_dir, tuple(fps))
    cached = _ANALYZED_SQL_CACHE.setdefault(spark, {})
    df = cached.get(key)
    if df is None:
        df = spark.sql(sql)
        # evict stale fingerprints of the same (sql, sf_dir); pop() is
        # tolerant of a concurrent thread racing the same eviction
        for k in [k for k in cached if k[:2] == (sql, sf_dir)]:
            cached.pop(k, None)
        cached[key] = df
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events table to ``ts`` TimestampType (µs) + ``ts_ns`` long.

    Handles both reader behaviors for INT64 TIMESTAMP(NANOS) parquet:
    - legacy ``nanosAsLong``: ``ts`` arrives as bigint nanos → exact
      ``ts_ns``, µs-truncated TimestampType ``ts``.
    - native (Spark 4.1+): ``ts`` arrives as timestamp_ntz already
      µs-truncated by the reader → cast to session-tz TimestampType
      (sessions here pin UTC); ``ts_ns`` is reconstructed at µs
      resolution (sub-µs digits are gone before Spark sees the value,
      and every oracle-checked operator orders/gaps on µs + id tiebreak
      by design — see the load_table docstring).
    """
    dt = dict(df.dtypes)
    if dt.get("ts") == "bigint":
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    elif dt.get("ts") == "timestamp_ntz":
        ts_ltz = F.col("ts").cast("timestamp")
        df = df.withColumn("ts_ns", F.unix_micros(ts_ltz) * F.lit(1000)).withColumn(
            "ts", ts_ltz
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES if os.path.exists(table_path(sf_dir, t))}


def register_tables(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """Register every testdata table as a temp view under its bare name.

    Temp views are metadata-only (no data copied); Catalyst resolves them
    like catalog tables, so predicate pushdown / column pruning reach the
    parquet scan unchanged.
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
