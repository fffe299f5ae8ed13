"""SparkSession builder tuned for the engine.

Replaces the reference's connection pool (reference
internal/trino/client.go:157-181 — 10 open / 5 idle conns): a single
resident SparkSession *is* the pool.  Session-level settings encode the
cross-engine semantics SURVEY §5.2 calls out (UTC timezone) and the
scale posture (AQE on, skew-join on, partition coalescing on) so the
same logical plans survive a 1000-executor cluster.
"""

from __future__ import annotations

import os
from typing import Dict

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Shuffle partitions: on local[N] match core count so every shuffle
# round-trips once; on a real cluster this is overridden per-deploy
# (rule of thumb: 2-3× total executor cores, or rely on AQE coalescing
# from a high initial value).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory() -> str:
    """24g, or half the machine's RAM when that is less: the JVM grows
    its heap toward the maximum before collecting hard, so a maximum
    above physical RAM gets the driver OOM-killed instead of
    collected."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):  # sysconf name unknown on this platform
        return "24g"
    return f"{min(24 * 1024, ram_mb // 2)}m"


def get_spark(app_name: str = "mcp_trino_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the resident SparkSession.

    All engine semantics that affect correctness are pinned here:
    - ``spark.sql.session.timeZone=UTC``: Trino's timestamp-with-tz and
      DuckDB's oracle runs are both UTC-normalized.
    - AQE + skew-join + coalescing: runtime re-planning stands in for
      Trino's cost-based fragment scheduling at scale.
    - ANSI mode is left at Spark 4's default, which is **ON**
      (``spark.sql.ansi.enabled=true``): runtime errors raise instead
      of yielding NULL.  Where Trino's semantics differ (NULL
      out-of-bounds element_at, IEEE log of non-positives, …) the
      dialect layer rewrites to ``try_``/CASE forms (x36–x40 in
      trino_compat.py) rather than flipping this engine-wide switch —
      so do NOT "fix" a per-function mismatch by disabling ANSI here.
    - ``spark.sql.codegen.cache.maxEntries=2000``: Spark keeps the
      classes whole-stage codegen compiles in one JVM-wide cache of
      100 entries by default.  The resident session re-runs the same
      plans, and one pass of the six pipeline_batch entries compiles
      more classes than that, so at 100 every pass evicts what the next
      one needs and recompiles it.  Spark's ``CodegenMetrics`` over
      five passes (sf0.01, 4 cores): 464 compiles at 100, ~80 on every
      pass after the first; 125 at 2000, all but 2 on the first pass.
      Metaspace at the end read 162.7 MB at 100 and 159.7 MB at
      2000: evicted classes are loaded again when recompiled, so
      keeping them costs no extra class space.  The conf is static
      (read when the cache is built) and internal, so a Spark upgrade
      could drop it silently; tests/test_codegen_cache.py checks at
      runtime that a plan re-run after 100+ other plans compiles
      nothing.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.cbo.enabled", "true")
        # the engine's generated classes outgrow Spark's default 100-
        # entry cache within one pipeline pass (see docstring)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
        # TimestampType (µs) can't hold; read as long and convert in the
        # catalog layer (sources/catalog.py) — lossless, and keeps the
        # vectorized reader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counts() -> Dict[str, int]:
    """Process totals of Spark's ``CodegenMetrics``: classes compiled
    (each one a miss of the generated-class cache) and the compile
    time, estimated as the count times the histogram's sampled mean
    (the histogram keeps a decaying sample, not a running sum).  Both
    read 0 until the JVM is up."""
    jvm = SparkContext._jvm
    if jvm is None:
        return {"codegen_compiles": 0, "codegen_compile_ms": 0}
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    return {
        "codegen_compiles": n,
        "codegen_compile_ms": round(hist.getSnapshot().getMean() * n),
    }
