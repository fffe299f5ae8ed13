"""The distributed rank helper behind w3/w3b/w4 and l35b
(``operators.windows.range_rank``), checked against Spark's own
ranking windows on small hand-built frames."""

import pytest
from pyspark.sql import Window, functions as F

from mcp_trino_spark.operators import opcache, windows
from mcp_trino_spark.operators.llm_text import quality_percentile_scaled_plan


def _docs(spark, groups):
    """(doc_id, source, text) with ``n`` docs per source; the text's
    word diversity varies with doc_id so every rank is distinct."""
    rows, doc_id = [], 0
    for source, n in groups:
        for _ in range(n):
            words = [f"w{doc_id % 7}"] * (doc_id % 5 + 1) + [f"u{doc_id}", "x"]
            rows.append((doc_id, source, " ".join(words)))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _window_percentile(docs):
    """l35's spelling: percent_rank over a per-source window."""
    ws = F.split(F.lower("text"), " ")
    diversity = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    w = Window.partitionBy("source").orderBy("diversity", "doc_id")
    return (
        docs.select("doc_id", "source", diversity.alias("diversity"))
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.8)
        .select(
            "doc_id",
            "source",
            F.round("diversity", 6).alias("diversity"),
            F.round("pr", 6).alias("pr"),
        )
    )


def test_null_group_keeps_its_rows(spark):
    """A NULL source is a window partition of its own; the offsets join
    must match it null-safely instead of dropping its rows."""
    docs = _docs(spark, [("a", 20), ("b", 20), (None, 20)])
    try:
        got = sorted(map(tuple, quality_percentile_scaled_plan(docs).collect()))
        want = sorted(map(tuple, _window_percentile(docs).collect()))
    finally:
        opcache.release_operator_caches()
    assert len(want) == 12
    assert got == want
    assert sum(1 for r in got if r[1] is None) == 4


def _capture_persisted(monkeypatch):
    """Record the frames range_rank persists (looked up on the opcache
    module at call time, as the traced benchmark run relies on)."""
    seen = []
    real = opcache.persist_tracked

    def capture(df):
        out = real(df)
        seen.append(out)
        return out

    monkeypatch.setattr(opcache, "persist_tracked", capture)
    return seen


def test_rn_matches_row_number_across_partitions(spark, monkeypatch):
    """Grouped and ungrouped rn equal row_number(), with groups that
    span several range partitions and a NULL group key."""
    # g=0 holds 180 of 240 rows, so it must span several of 6 partitions
    rows = [
        (i, [0, 1, None][i % 3] if i < 90 else 0, (i * 37) % 101) for i in range(240)
    ]
    df = spark.createDataFrame(rows, "id long, g int, v long")
    order = [F.col("v").desc(), F.col("id").asc()]
    persisted = _capture_persisted(monkeypatch)
    try:
        ranked, sizes = windows.range_rank(df, order, ["g"], nparts=6)
        parts_per_group = {
            r["g"]: r["p"]
            for r in persisted[-1]
            .groupBy("g")
            .agg(F.countDistinct("__pid").alias("p"))
            .collect()
        }
        want = df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("g").orderBy(*order))
        ).withColumn("n", F.count("*").over(Window.partitionBy("g")))
        cols = ["id", "g", "rn", "n"]
        assert sorted(map(tuple, ranked.select(cols).collect())) == sorted(
            map(tuple, want.select(cols).collect())
        )

        flat, total = windows._global_rank(spark, df, order)
        want_flat = df.withColumn("rn", F.row_number().over(Window.orderBy(*order)))
        assert sorted(map(tuple, flat.select("id", "rn").collect())) == sorted(
            map(tuple, want_flat.select("id", "rn").collect())
        )
    finally:
        opcache.release_operator_caches()
    assert parts_per_group[0] > 1
    assert sizes == {(0,): 180, (1,): 30, (None,): 30}
    assert total == 240


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, g string, v double")
    try:
        ranked, total = windows._global_rank(spark, df, ["v", "id"])
        assert total == 0
        assert ranked.count() == 0
        grouped, sizes = windows.range_rank(df, ["v", "id"], ["g"])
        assert sizes == {}
        assert grouped.count() == 0
    finally:
        opcache.release_operator_caches()


def test_single_row_group(spark):
    """A one-row group ranks 1 of 1 (percent_rank 0.0, no 0/0), and
    l35b drops it exactly as the window spelling does."""
    docs = _docs(spark, [("solo", 1), ("many", 10)])
    scored = docs.select("doc_id", "source", F.length("text").alias("len"))
    try:
        ranked, sizes = windows.range_rank(scored, ["len", "doc_id"], ["source"])
        solo = ranked.filter(F.col("source") == "solo").collect()
        got = sorted(map(tuple, quality_percentile_scaled_plan(docs).collect()))
        want = sorted(map(tuple, _window_percentile(docs).collect()))
    finally:
        opcache.release_operator_caches()
    assert [(r["rn"], r["n"]) for r in solo] == [(1, 1)]
    assert sizes[("solo",)] == 1
    assert got == want
    assert all(r[1] == "many" for r in got) and len(got) == 2


def test_non_consecutive_ids_raise(spark, monkeypatch):
    """Consecutive ids within a partition are an implementation detail
    of monotonically_increasing_id; if they ever have gaps, range_rank
    must refuse rather than return wrong ranks."""
    real = F.monotonically_increasing_id
    monkeypatch.setattr(F, "monotonically_increasing_id", lambda: real() * 2)
    df = spark.createDataFrame([(i, i % 2) for i in range(20)], "id long, g int")
    try:
        with pytest.raises(RuntimeError, match="not consecutive"):
            windows.range_rank(df, ["id"], ["g"], nparts=2)
    finally:
        opcache.release_operator_caches()
