"""Misra-Gries heavy-hitter sketches (functions/heavyhitters.py).

The sketch contract, asserted against exact counts: every kept
counter's estimate satisfies ``est ≤ true ≤ est + err``, every dropped
value's true count is ``≤ err``, ``err ≤ W/(capacity+1)`` per level,
and merging is order-independent.  These are the properties that make
the summary a safe approx_most_frequent backend at cardinalities where
the exact rewrite's per-(group, value) shuffle stops being viable.
"""

import random
from collections import Counter

import pytest

from mcp_trino_spark.functions.heavyhitters import (
    compress,
    heavy_hitters_by,
    heavy_hitters_merge_by,
    merge_summaries,
    top_k,
)


def zipfy(n, seed):
    rng = random.Random(seed)
    # skewed stream: value v appears with weight ~ 1/rank
    vals = [f"v{i}" for i in range(50)]
    return [vals[min(int(rng.paretovariate(1.0)), 49)] for _ in range(n)]


def summarize_stream(stream, cap):
    return compress(dict(Counter(stream)), cap)


def test_compress_bounds_and_determinism():
    stream = zipfy(20_000, seed=7)
    true = Counter(stream)
    counters, err = summarize_stream(stream, cap=20)
    assert len(counters) <= 20
    assert err <= len(stream) // (20 + 1) + 1
    kept = dict(counters)
    for v, c in kept.items():
        assert c <= true[v] <= c + err, v
    for v, t in true.items():
        if v not in kept:
            assert t <= err, f"dropped {v} with true count {t} > err {err}"
    # deterministic: same input, same summary
    assert summarize_stream(stream, cap=20) == (counters, err)


def test_merge_preserves_bounds_and_order_invariance():
    streams = [zipfy(5_000, seed=s) for s in range(6)]
    true = Counter(x for s in streams for x in s)
    w = sum(len(s) for s in streams)
    parts = [summarize_stream(s, cap=15) for s in streams]
    merged = merge_summaries(parts, capacity=15)
    counters, err = merged
    # per-level bounds compound: 6 partials (each ≤ len/16) + one merge
    assert err <= 2 * (w // 16 + 6)
    for v, c in counters:
        assert c <= true[v] <= c + err, v
    kept = {v for v, _ in counters}
    for v, t in true.items():
        if v not in kept:
            assert t <= err
    # any permutation of the inputs merges to the identical summary
    rng = random.Random(0)
    for _ in range(5):
        shuffled = parts[:]
        rng.shuffle(shuffled)
        assert merge_summaries(shuffled, capacity=15) == merged


def test_heavy_value_guaranteed_present():
    # a value above the total error bound can never be evicted
    stream = ["hot"] * 3_000 + zipfy(9_000, seed=3)
    parts = [summarize_stream(stream[i::4], cap=10) for i in range(4)]
    counters, err = merge_summaries(parts, capacity=10)
    kept = dict(counters)
    assert "hot" in kept
    assert kept["hot"] <= stream.count("hot") <= kept["hot"] + err


def test_spark_two_level_build_matches_contract(spark):
    rows = []
    rng = random.Random(11)
    for g in (0, 1):
        hot = f"hot{g}"
        vals = [hot] * 2_000 + [f"g{g}v{rng.randrange(40)}" for _ in range(4_000)]
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g int, v string").repartition(8)
    summ = heavy_hitters_by(df, "v", ["g"], capacity=12, n_shards=8)
    out = {
        (r.g, r.value): (r.est_count, r.max_count)
        for r in top_k(summ, 12).collect()
    }
    true = Counter(rows)
    for (g, v), (est, mx) in out.items():
        assert est <= true[(g, v)] <= mx, (g, v)
    # the planted heavy hitter survives per group
    assert any(v == "hot0" for (g, v) in out if g == 0)
    assert any(v == "hot1" for (g, v) in out if g == 1)


def test_spark_rollup_merges_without_rescan(spark):
    rows = [(0, g, f"x{i % 5}") for g in (0, 1) for i in range(500)]
    df = spark.createDataFrame(rows, "region int, g int, v string").repartition(4)
    per_g = heavy_hitters_by(df, "v", ["region", "g"], capacity=10, n_shards=4)
    per_region = heavy_hitters_merge_by(
        per_g.select("region", "hh_vals", "hh_counts", "hh_err"),
        ["region"], capacity=10,
    )
    out = {r.value: (r.est_count, r.max_count) for r in top_k(per_region, 10).collect()}
    true = Counter(v for _, _, v in rows)
    assert set(out) == set(true)  # 5 distinct ≤ capacity: all kept
    for v, (est, mx) in out.items():
        assert est <= true[v] <= mx


def test_registry_entry_rows(spark):
    from mcp_trino_spark import registry

    df = registry.queries()["a22_misra_gries_rollup"](
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert len(rows) > 0
    assert {c for c in df.columns} == {"n_regionkey", "value", "est_count", "max_count"}
    assert all(r.est_count <= r.max_count for r in rows)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_sql_sketch_route_high_cardinality(spark):
    """VERDICT r10 item 5: the Misra-Gries path must be REACHABLE from
    the SQL surface.  A high-cardinality input (per-group distinct
    values >> capacity — exactly the wall the exact rewrite's
    (group, value) counts hit at scale) is served by the sketch route
    under set_approx_most_frequent_mode("sketch"), with every emitted
    count inside the MG additive-error bound and the planted heavy
    hitters guaranteed present; the default mode stays "exact" so the
    x20 oracle entry is untouched."""
    from mcp_trino_spark.execute import execute_query
    from mcp_trino_spark.trino_compat import (
        approx_most_frequent_mode,
        set_approx_most_frequent_mode,
    )

    assert approx_most_frequent_mode() == "exact"  # default untouched

    rng = random.Random(7)
    rows = []
    for g in (0, 1):
        hot = f"hot{g}"
        vals = [hot] * 3_000 + [f"u{g}_{rng.randrange(100_000)}" for _ in range(6_000)]
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g int, v string").repartition(8)
    df.createOrReplaceTempView("amf_hc")
    true = Counter(rows)
    w_per_group = 9_000
    capacity = 50

    set_approx_most_frequent_mode("sketch")
    try:
        res = execute_query(
            spark,
            f"SELECT g, approx_most_frequent(5, v, {capacity}) AS hh "
            "FROM amf_hc GROUP BY g",
            dialect="trino",
        )
        out = {r["g"]: r["hh"] for r in res.rows}
    finally:
        set_approx_most_frequent_mode(None)  # clear the explicit session knob
        spark.catalog.dropTempView("amf_hc")

    assert set(out) == {0, 1}
    # two-level build: err accumulates once per level -> 2*W/(cap+1)
    bound = 2 * w_per_group / (capacity + 1)
    for g, hh in out.items():
        assert f"hot{g}" in hh, hh
        assert len(hh) <= 5
        for v, est in hh.items():
            assert est <= true[(g, v)] <= est + bound, (g, v, est)
    # the temp view the route registered is dropped by the façade
    leftovers = [t.name for t in spark.catalog.listTables()
                 if t.name.startswith("__amf_sketch_")]
    assert leftovers == []


def test_sql_sketch_route_grand_aggregate(spark):
    from mcp_trino_spark.execute import execute_query
    from mcp_trino_spark.trino_compat import set_approx_most_frequent_mode

    rows = [(f"v{i % 7}",) for i in range(700)]
    spark.createDataFrame(rows, "v string").createOrReplaceTempView("amf_g")
    set_approx_most_frequent_mode("sketch")
    try:
        res = execute_query(
            spark,
            "SELECT approx_most_frequent(3, v, 20) AS hh FROM amf_g",
            dialect="trino",
        )
    finally:
        set_approx_most_frequent_mode(None)  # clear the explicit session knob
        spark.catalog.dropTempView("amf_g")
    (row,) = res.rows
    assert len(row["hh"]) == 3
    assert all(est == 100 for est in row["hh"].values())  # 7 ≤ capacity: exact


def test_sketch_mode_via_engine_config_env(spark, monkeypatch):
    """The MG route is reachable without a Python call (VERDICT r11
    item 8): SPARK_ENGINE_APPROX_MOST_FREQUENT_MODE=sketch flows
    through EngineConfig.from_env into the façade; unknown values
    defer to the session knob (warn-and-default idiom)."""
    from mcp_trino_spark.config import EngineConfig
    from mcp_trino_spark.execute import execute_query
    from mcp_trino_spark.trino_compat import approx_most_frequent_mode

    monkeypatch.setenv("SPARK_ENGINE_APPROX_MOST_FREQUENT_MODE", "sketch")
    cfg = EngineConfig.from_env()
    assert cfg.approx_most_frequent_mode == "sketch"
    monkeypatch.setenv("SPARK_ENGINE_APPROX_MOST_FREQUENT_MODE", "bogus")
    assert EngineConfig.from_env().approx_most_frequent_mode is None
    monkeypatch.delenv("SPARK_ENGINE_APPROX_MOST_FREQUENT_MODE")
    assert EngineConfig.from_env().approx_most_frequent_mode is None

    assert approx_most_frequent_mode() == "exact"  # session knob untouched
    rows = [(f"v{i % 5}",) for i in range(500)]
    spark.createDataFrame(rows, "v string").createOrReplaceTempView("amf_cfg")
    try:
        res = execute_query(
            spark,
            "SELECT approx_most_frequent(2, v, 20) AS hh FROM amf_cfg",
            cfg,
            dialect="trino",
        )
    finally:
        spark.catalog.dropTempView("amf_cfg")
    (row,) = res.rows
    assert len(row["hh"]) == 2
    assert all(est == 100 for est in row["hh"].values())


def test_explicit_session_knob_wins_over_env_default():
    """Precedence contract (ADVICE r12): an EXPLICIT runtime
    set_approx_most_frequent_mode call wins over the env-derived config
    default; clearing with None lets the config default apply again."""
    from mcp_trino_spark.trino_compat import (
        approx_most_frequent_mode,
        set_approx_most_frequent_mode,
    )

    assert approx_most_frequent_mode(default="exact") == "exact"
    assert approx_most_frequent_mode(default="sketch") == "sketch"
    set_approx_most_frequent_mode("exact")
    try:
        # explicit 'exact' suppresses an env default of 'sketch'
        assert approx_most_frequent_mode(default="sketch") == "exact"
        set_approx_most_frequent_mode("sketch")
        assert approx_most_frequent_mode(default="exact") == "sketch"
    finally:
        set_approx_most_frequent_mode(None)
    assert approx_most_frequent_mode(default="sketch") == "sketch"


# ---------------------------------------------------------------------------
# r16 vectorized compress: differential equality vs the pure reference
# (the qdigest test pattern — tie order and exact int arithmetic pinned)


def test_vectorized_compress_matches_pure_reference_random():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mcp_trino_spark.functions.heavyhitters import (
        _compress_arrays,
        _compress_py,
        compress,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(min_size=0, max_size=8),
            st.integers(1, 10_000),
            min_size=0,
            max_size=300,
        ),
        st.integers(1, 50),
        st.integers(0, 5),
    )
    def run(counts, capacity, err_in):
        ref = _compress_py(counts, capacity, err_in)
        assert compress(counts, capacity, err_in) == ref
        # the array kernel itself, under the same NUL guard the
        # dispatcher applies ('<U' storage NUL-pads — guarded keys
        # never reach it)
        if counts and "\x00" not in "".join(counts.keys()):
            vals = np.array(list(counts.keys()))
            if vals.dtype.kind == "U":
                cnts = np.fromiter(
                    counts.values(), dtype=np.int64, count=len(counts)
                )
                assert _compress_arrays(vals, cnts, capacity, err_in) == ref

    run()


def test_vectorized_compress_tie_and_unicode_order():
    """Ties on count break on the value ascending — including non-ASCII
    and prefix-of-each-other keys (numpy '<U' padding must not reorder
    them vs Python str)."""
    from mcp_trino_spark.functions.heavyhitters import _compress_py, compress

    counts = {"ab": 5, "abc": 5, "a": 5, "λx": 5, "Z": 5, "": 5}
    counts.update({f"f{i}": 3 for i in range(70)})  # past the ndarray gate
    for cap in (2, 5, 7, 100):
        assert compress(counts, cap) == _compress_py(counts, cap)


def test_all_null_group_keeps_its_row(spark):
    """A key whose values are all NULL keeps its output row, with an
    empty summary: both approx_most_frequent routes return the GROUP BY
    cardinality and keys (NULL values never count)."""
    from mcp_trino_spark.execute import execute_query
    from mcp_trino_spark.trino_compat import set_approx_most_frequent_mode

    rows = [(1, "a"), (1, "a"), (1, "b"), (1, None), (2, None), (2, None), (3, None)]
    df = spark.createDataFrame(rows, "g int, v string").repartition(3)
    summaries = {r.g: r for r in heavy_hitters_by(df, "v", ["g"], capacity=4).collect()}
    assert set(summaries) == {1, 2, 3}
    assert (summaries[2].hh_vals, summaries[2].hh_counts, summaries[2].hh_err) == ([], [], 0)

    df.createOrReplaceTempView("amf_nulls")
    q = "SELECT g, approx_most_frequent(2, v, 10) AS hh FROM amf_nulls GROUP BY g"
    out = {}
    try:
        for mode in ("exact", "sketch"):
            set_approx_most_frequent_mode(mode)
            res = execute_query(spark, q, dialect="trino")
            out[mode] = sorted((r["g"], r["hh"]) for r in res.rows)
    finally:
        set_approx_most_frequent_mode(None)  # clear the explicit session knob
        spark.catalog.dropTempView("amf_nulls")
    assert out["sketch"] == out["exact"]
    assert out["exact"] == [(1, {"a": 2, "b": 1}), (2, {}), (3, {})]
