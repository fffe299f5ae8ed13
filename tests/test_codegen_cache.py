"""The resident session keeps its compiled plans.

Spark caches the classes whole-stage codegen compiles in one JVM-wide
cache sized by ``spark.sql.codegen.cache.maxEntries`` (default 100).
``session.get_spark`` raises it so that a plan re-run after many other
plans finds its classes still compiled.  The conf is internal, so this
test is the runtime check that it still takes effect: it fails if a
Spark upgrade drops or renames it.
"""

from mcp_trino_spark.session import codegen_counts


def _compiles(fn) -> int:
    before = codegen_counts()["codegen_compiles"]
    fn()
    return codegen_counts()["codegen_compiles"] - before


def test_plan_rerun_after_many_plans_compiles_nothing(spark):
    def plan_a():
        spark.range(200).selectExpr(
            "id % 7 AS cgc_k", "id * 3 + 1 AS cgc_v"
        ).groupBy("cgc_k").sum("cgc_v").collect()

    assert _compiles(plan_a) > 0  # the metric sees A's classes
    # 120 distinct plans, each compiling at least one class of its own
    # (the literal is inlined into the generated source), overflow
    # Spark's default 100-entry cache
    others = 0
    for i in range(120):
        others += _compiles(
            lambda i=i: spark.range(10).selectExpr(f"id * {i + 1000} + {i} AS x").collect()
        )
    assert others > 100
    assert _compiles(plan_a) == 0
