"""Mergeable heavy-hitter sketches — Misra-Gries, Spark-first.

Reference surface: Trino's ``approx_most_frequent(buckets, value,
capacity)`` (passed through to Trino by the reference,
client.go:501-617), whose engine-side implementation is a
capacity-bounded counter summary.  The dialect layer already rewrites
the SQL spelling to an EXACT distributed plan (trino_compat.py) —
correct and one-shuffle up to the point where the per-group distinct
VALUE count itself explodes.  This module is the documented upgrade
path past that cardinality wall, and completes the engine's mergeable
sketch trio (HLL → distinct counts, qdigest → quantiles, Misra-Gries →
frequencies): per-group summaries are ≤ ``capacity`` counters,
materializable, and any coarser rollup — nation → region → global —
merges KB-sized summaries instead of re-reading the fact table.

Sketch and guarantees
---------------------
A Misra-Gries summary of capacity ``c`` over total weight ``W`` keeps
at most ``c`` ``(value, count)`` counters plus a deficit bound ``err``:
every kept value's TRUE count lies in ``[count, count + err]``, every
dropped value's true count is ``≤ err``, and ``err ≤ W/(c+1)`` (the
classic bound; Agarwal et al., "Mergeable Summaries", PODS'12 — public
result — shows merging preserves it).  Any value with true frequency
above ``W/(c+1)`` is therefore guaranteed present.

Compression: from exact in-shard counts, keep the ``c`` largest and
subtract the ``(c+1)``-th largest count from each — that subtraction is
exactly the accumulated decrement of the streaming algorithm, recorded
in ``err``.  Merge: sum counters value-wise, add the inputs' ``err``
bounds, re-compress.  Deterministic: ties between equal counts break
on the value, so the same data always yields the same summary.

Distributed shape (the part that must survive 100 TB)
-----------------------------------------------------
``heavy_hitters_by`` mirrors qdigest's two-level build:

1. partial: group by ``(key, shard)`` with ``shard`` = input partition
   id — exact ``value_counts`` within a group bounded by what one scan
   partition contributes, compressed to ``capacity`` counters before
   anything shuffles;
2. final: value-wise merge of ≤ ``n_shards`` summaries per key —
   ``capacity``-sized rows, KB per group regardless of fact size.

The fact-table shuffle carries compressed summaries, never raw
values.  ``tests/test_heavyhitters.py`` asserts the error bound
against exact counts, guaranteed-presence of true heavy hitters,
merge-order invariance, and rollup-vs-rescan agreement.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

#: Trino's default approx_most_frequent capacity knob has no fixed
#: default (it is a required argument); 100 counters bounds the error
#: at 1% of total weight per level
DEFAULT_CAPACITY = 100


# ---------------------------------------------------------------------------
# pure sketch core


def _compress_py(
    counts: Dict[str, int], capacity: int, err_in: int = 0
) -> Tuple[List[Tuple[str, int]], int]:
    """Pure-Python reference of ``compress`` — retained (like qdigest's
    pure ``_cluster``) as the differential-test anchor for the
    vectorized twin below."""
    items = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    if len(items) <= capacity:
        return items, err_in
    pivot = items[capacity][1]  # the (capacity+1)-th largest count
    kept = [
        (v, c - pivot) for v, c in items[:capacity] if c - pivot > 0
    ]
    return kept, err_in + pivot


def _compress_arrays(
    vals: "np.ndarray", cnts: "np.ndarray", capacity: int, err_in: int = 0
) -> Tuple[List[Tuple[str, int]], int]:
    """Vectorized ``compress`` over parallel (values, counts) arrays —
    r16, guide §4.2 (the same treatment qdigest's kernel got).
    BIT-IDENTICAL to the pure sort by construction: values are UNIQUE
    (counter summaries key on the value), so ``(-count, value)`` is a
    total order and ``np.lexsort((vals, -cnts))`` — last key primary —
    reproduces ``sorted(..., key=(-c, v))`` exactly; counts are exact
    int64 arithmetic throughout; numpy '<U' comparison is
    code-point-wise like Python ``str`` (and '\\0'-padding preserves
    the shorter-prefix-first order).  ``vals`` must be a unicode
    array; callers fall back to ``_compress_py`` otherwise."""
    order = np.lexsort((vals, -cnts))
    vals, cnts = vals[order], cnts[order]
    if len(vals) <= capacity:
        return list(zip(vals.tolist(), cnts.tolist())), err_in
    pivot = int(cnts[capacity])  # the (capacity+1)-th largest count
    kept_c = cnts[:capacity] - pivot
    keep = kept_c > 0
    return (
        list(zip(vals[:capacity][keep].tolist(), kept_c[keep].tolist())),
        err_in + pivot,
    )


def compress(
    counts: Dict[str, int], capacity: int, err_in: int = 0
) -> Tuple[List[Tuple[str, int]], int]:
    """Compress exact/summed counters to ≤ ``capacity`` entries.
    Returns ``(sorted counters, err)`` where err bounds every entry's
    undercount (and every dropped value's true count).  Sorting is
    (count desc, value asc) — fully deterministic.  Dispatches to the
    vectorized kernel for string-keyed counters (the engine's only
    shape); anything else keeps the pure reference path."""
    if len(counts) > 64:  # below that the ndarray setup costs more
        keys = list(counts.keys())
        # NUL guard: numpy '<U' storage NUL-pads, so a key with any
        # '\x00' can round-trip stripped or compare equal to a distinct
        # key — one C-level substring scan over the joined keys decides
        if all(isinstance(k, str) for k in keys) and "\x00" not in "".join(keys):
            vals = np.array(keys)
            if vals.dtype.kind == "U":
                cnts = np.fromiter(
                    counts.values(), dtype=np.int64, count=len(counts)
                )
                return _compress_arrays(vals, cnts, capacity, err_in)
    return _compress_py(counts, capacity, err_in)


def merge_summaries(
    summaries: Sequence[Tuple[Sequence[Tuple[str, int]], int]], capacity: int
) -> Tuple[List[Tuple[str, int]], int]:
    """Merge any number of ``(counters, err)`` summaries: value-wise
    count sum, err sum, re-compress.  Order-independent."""
    acc: Dict[str, int] = {}
    err = 0
    for counters, e in summaries:
        err += int(e)
        for v, c in counters:
            acc[v] = acc.get(v, 0) + int(c)
    return compress(acc, capacity, err)


# ---------------------------------------------------------------------------
# Spark plumbing: summary columns are parallel arrays (hh_vals:
# array<string>, hh_counts: array<long>) + hh_err long


def _schema(key_fields: str) -> str:
    return (
        f"{key_fields}, hh_vals array<string>, hh_counts array<long>, "
        "hh_err bigint"
    )


def _key_fields(df: DataFrame, keys: Sequence[str]) -> str:
    return ", ".join(
        f"{kc} {df.schema[kc].dataType.simpleString()}" for kc in keys
    )


def heavy_hitters_partial(
    df: DataFrame, value_col: str, keys: Sequence[str],
    capacity: int = DEFAULT_CAPACITY, n_shards: int = 32,
) -> DataFrame:
    """Level 1: per-(key, shard) summaries.  Sharding by input
    partition id (not value hash) keeps every ``applyInPandas`` group
    bounded by one scan partition's contribution — a value-hash shard
    would send every duplicate of the heaviest value to one worker,
    which is exactly the value a heavy-hitter sketch exists for."""
    out_schema = _schema(_key_fields(df, keys))
    cap = int(capacity)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        # pdf rows are DISTINCT values with their exact in-shard counts
        # (the JVM aggregation below) — compress consumes them directly.
        # The NULL value's row is dropped here, not before the JVM
        # aggregation, so a key whose values are all NULL still emits
        # an (empty) summary and keeps its output row.
        vals = pdf[pdf["__hv"].notna()]
        # Same NUL guard as compress(): '<U' storage NUL-pads.
        if len(vals) and "\x00" not in "".join(vals["__hv"]):
            counters, err = _compress_arrays(
                vals["__hv"].to_numpy(dtype=str),
                vals["__c"].to_numpy(dtype=np.int64),
                cap,
            )
        else:
            counters, err = _compress_py(
                {str(v): int(c) for v, c in zip(vals["__hv"], vals["__c"])},
                cap,
            )
        row = {kc: pdf[kc].iloc[0] for kc in keys}
        row["hh_vals"] = [v for v, _ in counters]
        row["hh_counts"] = [c for _, c in counters]
        row["hh_err"] = err
        return pd.DataFrame([row])

    # Exact in-shard counting moved INTO the JVM (r16, guide §2.3
    # "aggregate before you shuffle"): groupBy(key, shard, value) is a
    # codegen hash aggregate with MAP-SIDE partial aggregation, so the
    # shuffle carries one row per distinct (key, shard, value) combo —
    # the old shape shipped EVERY raw row through the applyInPandas
    # exchange and into Python.  The Python stage now receives the
    # counted combos (identical exact counts value_counts produced)
    # and only runs compress.  The shard-bounding property is
    # unchanged: a (key, shard) group still holds at most one scan
    # partition's distinct values.
    return (
        df.select(*keys, F.col(value_col).cast("string").alias("__hv"))
        .withColumn("__shard", F.pmod(F.spark_partition_id(), F.lit(n_shards)))
        .groupBy(*keys, "__shard", "__hv")
        .agg(F.count("*").alias("__c"))
        .groupBy(*keys, "__shard")
        .applyInPandas(build, out_schema)
    )


def heavy_hitters_merge_by(
    df: DataFrame, keys: Sequence[str], capacity: int = DEFAULT_CAPACITY
) -> DataFrame:
    """Merge summary rows grouped by ``keys`` — the final build level,
    or any coarser rollup.  Groups are ≤ capacity-counter summaries."""
    out_schema = _schema(_key_fields(df, keys))
    cap = int(capacity)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        summaries = [
            (list(zip(vs, cs)), e)
            for vs, cs, e in zip(pdf["hh_vals"], pdf["hh_counts"], pdf["hh_err"])
        ]
        counters, err = merge_summaries(summaries, cap)
        row = {kc: pdf[kc].iloc[0] for kc in keys}
        row["hh_vals"] = [v for v, _ in counters]
        row["hh_counts"] = [c for _, c in counters]
        row["hh_err"] = err
        return pd.DataFrame([row])

    return df.groupBy(*keys).applyInPandas(merge, out_schema)


def heavy_hitters_by(
    df: DataFrame, value_col: str, keys: Sequence[str],
    capacity: int = DEFAULT_CAPACITY, n_shards: int = 32,
) -> DataFrame:
    """Per-key summaries via the two-level (partial → merge) build."""
    return heavy_hitters_merge_by(
        heavy_hitters_partial(df, value_col, keys, capacity, n_shards),
        keys, capacity,
    )


def top_k(df: DataFrame, k: int) -> DataFrame:
    """Explode a summary frame to ``(keys..., value, est_count,
    max_count)`` rows, keeping each summary's top ``k`` counters (they
    are stored count-desc).  ``est_count ≤ true ≤ max_count``."""
    keys = [c for c in df.columns if c not in ("hh_vals", "hh_counts", "hh_err")]
    return df.select(
        *keys,
        F.posexplode(F.arrays_zip("hh_vals", "hh_counts")).alias("__i", "__e"),
        F.col("hh_err"),
    ).filter(F.col("__i") < k).select(
        *keys,
        F.col("__e.hh_vals").alias("value"),
        F.col("__e.hh_counts").alias("est_count"),
        (F.col("__e.hh_counts") + F.col("hh_err")).alias("max_count"),
    )
