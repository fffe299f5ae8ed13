"""Scaling evidence: does the flagship plan scale linearly?

Synthesizes ~sf1 (6M lineitem rows) in-memory by unioning the sf0.1
fact tables 10× with shifted keys (no files written — testdata is
read-only), then times the flagship star-join+agg at 1× and 10× and
reports the scaling exponent.  A plan that survives 100 TB shows
time ratio ≈ data ratio (shuffle and agg state stay bounded per key);
a superlinear ratio exposes a plan that accumulates state or loses
partial aggregation.

Usage: python tools/scaling_check.py
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from mcp_trino_spark.flagship import flagship_plan  # noqa: E402
from mcp_trino_spark.operators.opcache import (  # noqa: E402
    release_all_operator_caches,
)
from mcp_trino_spark.session import get_spark  # noqa: E402
from mcp_trino_spark.sources.catalog import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
COPIES = 10


def clear_caches(spark) -> None:
    """Drop persisted frames AND the opcache-tracked handles — the
    tracked Python refs (and their JVM plan refs) would otherwise
    accumulate for the life of the probe sweep."""
    release_all_operator_caches()
    spark.catalog.clearCache()


def replicate(df: DataFrame, key_cols: list[str], copies: int) -> DataFrame:
    """Union `copies` key-shifted replicas — same key distribution per
    replica, distinct key spaces, so join/agg cardinality scales with
    the data exactly as real growth would."""
    shift = 10_000_000
    out = None
    for i in range(copies):
        rep = df
        for k in key_cols:
            rep = rep.withColumn(k, F.col(k) + F.lit(i * shift))
        out = rep if out is None else out.unionByName(rep)
    return out


_AZ = "abcdefghijklmnopqrstuvwxyz"


def suffixed_replicas(docs: DataFrame, copies: int) -> DataFrame:
    """Doc-corpus replicas with shifted ids and a per-copy CHARACTER
    ROTATION of the letters (replica i maps a..z → rotate-by-i,
    likewise A..Z).  A bijection applied uniformly preserves every
    WITHIN-replica near-dup relationship exactly — shingle/word sets
    transform 1:1, so Jaccard, signatures-collide-or-not, and
    fingerprint structure are unchanged per copy — while ACROSS
    replicas nearly every shingle contains a letter and therefore
    differs, so replicas cannot near-match each other and
    candidate-pair cardinality grows like real corpus growth
    (×copies).  Round 10 replaced the old text-SUFFIX replicas after
    the l33 verify probe exposed them: a ~10-char suffix changes only
    ~10 of a document's hundreds of 8-char shingles, so replica
    signatures still collided in essentially every band and the "10×"
    corpus actually produced 109× the candidate pairs — every probe
    downstream of the pair graph was silently measured at ~11× its
    nominal workload.  Shared by every LSH-pipeline probe so they all
    measure the same corpus."""
    shift = 10_000_000
    digits = "0123456789"
    reps = []
    for i in range(copies):
        rot = _AZ[i:] + _AZ[:i]
        drot = digits[i:] + digits[:i]  # digit-only shingles too
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * shift)).alias("doc_id"),
                F.translate(
                    F.col("text"),
                    _AZ + _AZ.upper() + digits,
                    rot + rot.upper() + drot,
                ).alias("text"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


def timed(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def report(name: str, n_rows_1x: int, t1: float, t10: float) -> None:
    import math

    exponent = math.log(t10 / t1) / math.log(COPIES)
    print(
        json.dumps(
            {
                "plan": name,
                "rows_1x": n_rows_1x,
                "rows_10x": n_rows_1x * COPIES,
                "sec_1x": round(t1, 3),
                "sec_10x": round(t10, 3),
                "ratio": round(t10 / t1, 2),
                "scaling_exponent": round(exponent, 3),
                "verdict": "linear-ish" if exponent < 1.15 else "SUPERLINEAR — investigate",
            }
        )
    )


def check_flagship(spark) -> None:
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    na = load_table(spark, SF_DIR, "nation")
    re = load_table(spark, SF_DIR, "region")

    n_rows_1x = li.count()
    base = flagship_plan(re, na, cu, od, li)
    timed(base)  # warm
    t1 = min(timed(base) for _ in range(2))

    li10 = replicate(li, ["l_orderkey"], COPIES)
    od10 = replicate(od, ["o_orderkey"], COPIES)  # o_custkey NOT shifted: same dims join
    big = flagship_plan(re, na, cu, od10, li10)
    t10 = min(timed(big) for _ in range(2))
    report("flagship_star_join", n_rows_1x, t1, t10)


def check_minhash_lsh(spark) -> None:
    """LSH dedup at 10×: replicas get a per-copy character rotation so
    they do NOT near-match each other — candidate-pair cardinality then
    grows like real corpus growth (×copies in expectation; each copy is
    a fresh minhash draw, so the realized count is noisy), and the
    measurement isolates the PLAN's scaling (signature agg + band
    join), not a synthetic-data artifact."""
    from mcp_trino_spark.operators.llm_dedup import minhash_lsh_pairs_plan

    def timed_fresh(frame) -> float:
        # the plan persists its signature table — rebuild + clear cache
        # per run so no timing reuses a previous run's materialization
        t = timed(minhash_lsh_pairs_plan(frame))
        clear_caches(spark)
        return t

    from mcp_trino_spark.operators._util import spread

    # spread() is part of the shipped l2 plan (single-file local scans
    # otherwise pin the hash fan-out to one task)
    docs = spread(load_table(spark, SF_DIR, "documents")).select("doc_id", "text")
    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))

    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("minhash_lsh_dedup", n_rows_1x, t1, t10)


def check_match_recognize(spark) -> None:
    """Row-pattern matcher at 10×: replicas shift user_id, so key
    cardinality grows ×copies while per-key row counts (and the regex
    scan per key) stay constant — time must track data volume, the
    signature of the matcher's single hash shuffle + O(rows-in-key)
    per-key scan."""
    from mcp_trino_spark.operators.pattern import match_recognize

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )

    def plan(frame):
        return match_recognize(
            frame,
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            define={
                "V": F.col("event_type") == "view",
                "C": F.col("event_type") == "click",
                "P": F.col("event_type") == "purchase",
            },
            pattern="V+ C+ P",
            measures=[("n_views", "count", "V", None),
                      ("purchase_eid", "first", "P", "event_id")],
        )

    n_rows_1x = ev.count()
    timed(plan(ev))  # warm
    t1 = min(timed(plan(ev)) for _ in range(2))
    ev10 = replicate(ev, ["user_id"], COPIES)
    t10 = min(timed(plan(ev10)) for _ in range(2))
    report("match_recognize_funnel", n_rows_1x, t1, t10)


def check_sessionization(spark) -> None:
    """lag+cumsum sessionization at 10×: user_id-shifted replicas grow
    key cardinality with data; both window passes share one hash
    partitioning, so time must track volume."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def plan(frame):
        # the registered t3's lag+cumsum shape, re-built over an
        # arbitrary (replicated) frame — t3 itself is path-bound
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        new_sess = (gap.isNull() | (gap >= 1800)).cast("long")
        sess = frame.withColumn("sid", F.sum(new_sess).over(w))
        return sess.groupBy("user_id", "sid").agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )

    n_rows_1x = ev.count()
    timed(plan(ev))  # warm
    t1 = min(timed(plan(ev)) for _ in range(2))
    ev10 = replicate(ev, ["user_id"], COPIES)
    t10 = min(timed(plan(ev10)) for _ in range(2))
    report("sessionization_lag_cumsum", n_rows_1x, t1, t10)


def check_with_ties_threshold(spark) -> None:
    """WITH TIES threshold plan at 10×: row count grows ×copies while
    the key distribution (c_nationkey values) stays fixed, so both the
    top-n subquery (TakeOrderedAndProject) and the filter scan must
    track volume — the plan this replaced (global no-partition RANK()
    window) funnels every row through one task and scales with a
    single-core sort instead."""
    from mcp_trino_spark.trino_compat import translate

    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    q = translate(
        "SELECT c_custkey, c_nationkey FROM __ties_scale "
        "ORDER BY c_nationkey DESC FETCH FIRST 10 ROWS WITH TIES"
    )

    def plan(frame):
        frame.createOrReplaceTempView("__ties_scale")
        return spark.sql(q)

    n_rows_1x = cust.count()
    timed(plan(cust))  # warm
    t1 = min(timed(plan(cust)) for _ in range(2))
    c10 = replicate(cust, ["c_custkey"], COPIES)  # keys fixed, rows ×10
    t10 = min(timed(plan(c10)) for _ in range(2))
    spark.catalog.dropTempView("__ties_scale")
    report("with_ties_threshold", n_rows_1x, t1, t10)


def check_heavy_hitters(spark) -> None:
    """approx_most_frequent exact rewrite at 10×: nationkey-shifted
    replicas grow group cardinality with data while per-group distinct
    values stay fixed — the per-(group, value) count is partial+final
    and the rank window partitions by group, so time must track
    volume."""
    from mcp_trino_spark.trino_compat import translate

    cust = load_table(spark, SF_DIR, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    q = translate(
        "SELECT c_nationkey, approx_most_frequent(2, c_mktsegment, 100) AS hh "
        "FROM __amf_scale GROUP BY c_nationkey"
    )

    def plan(frame):
        frame.createOrReplaceTempView("__amf_scale")
        return spark.sql(q)

    n_rows_1x = cust.count()
    timed(plan(cust))  # warm
    t1 = min(timed(plan(cust)) for _ in range(2))
    c10 = replicate(cust, ["c_nationkey"], COPIES)
    t10 = min(timed(plan(c10)) for _ in range(2))
    spark.catalog.dropTempView("__amf_scale")
    report("approx_most_frequent_exact", n_rows_1x, t1, t10)


def check_misra_gries(spark) -> None:
    """a22's two-level Misra-Gries build at 10×: key-shifted replicas
    grow key cardinality and per-key volume; the partial stage emits a
    capacity-bounded summary per (key, shard), so the merge stage's
    input stays KB-sized per key and time must track scan volume."""
    from mcp_trino_spark.functions.heavyhitters import heavy_hitters_by, top_k

    cust = load_table(spark, SF_DIR, "customer").select(
        "c_nationkey", "c_mktsegment"
    )

    def plan(frame):
        return top_k(
            heavy_hitters_by(
                frame, "c_mktsegment", ["c_nationkey"], capacity=3, n_shards=8
            ),
            2,
        )

    n_rows_1x = cust.count()
    timed(plan(cust))  # warm (forks the Python worker pool)
    t1 = min(timed(plan(cust)) for _ in range(2))
    c10 = replicate(cust, ["c_nationkey"], COPIES)
    t10 = min(timed(plan(c10)) for _ in range(2))
    report("misra_gries_two_level_build", n_rows_1x, t1, t10)


def check_table_changes(spark) -> None:
    """s12's version diff at 10×: two hive-partitioned COW tables (1×
    and 10× lineitem rows, same 3 l_returnflag partitions), the same
    single-partition UPDATE committed on each, then table_changes(0, 1)
    timed.  The commit log prunes both diff sides to the one touched
    partition, so time must track that partition's volume — a
    superlinear exponent would mean the diff is re-reading the whole
    table despite the pruning."""
    import os
    import shutil
    import tempfile

    from mcp_trino_spark.sources.dml import update_table
    from mcp_trino_spark.sources.timetravel import table_changes

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )

    def setup(frame, name: str, tmp: str) -> None:
        path = os.path.join(tmp, name)
        frame.write.partitionBy("l_returnflag").parquet(path)
        data_cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in frame.schema.fields
            if f.name != "l_returnflag"
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({data_cols}, l_returnflag string) "
            f"USING parquet PARTITIONED BY (l_returnflag) LOCATION '{path}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {name}")
        update_table(
            spark, name, {"l_quantity": "l_quantity + 1"}, "l_returnflag = 'R'"
        )

    n_rows_1x = li.count()
    tmp = tempfile.mkdtemp(prefix="s12_scale_")
    try:
        setup(li, "__s12_scale_1x", tmp)
        li10 = replicate(li, ["l_orderkey"], COPIES)
        setup(li10, "__s12_scale_10x", tmp)
        timed(table_changes(spark, "__s12_scale_1x", 0, 1))  # warm
        t1 = min(
            timed(table_changes(spark, "__s12_scale_1x", 0, 1)) for _ in range(2)
        )
        t10 = min(
            timed(table_changes(spark, "__s12_scale_10x", 0, 1)) for _ in range(2)
        )
        report("table_changes_pruned_diff", n_rows_1x, t1, t10)
    finally:
        spark.sql("DROP TABLE IF EXISTS __s12_scale_1x")
        spark.sql("DROP TABLE IF EXISTS __s12_scale_10x")
        shutil.rmtree(tmp, ignore_errors=True)


def check_dup_clusters(spark) -> None:
    """l21's iterative connected components at 10×, END-TO-END (LSH
    build + loop): replicas carry a per-copy character rotation (as in
    the LSH probe) so candidate pairs grow ×copies in expectation;
    components stay small, so rounds-to-convergence is constant and
    each round is one edge join + hash agg on the grown graph — time
    must track pair volume.  check_cc_loop isolates the loop alone on
    an exactly-×10 replicated pair graph."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import (
        _propagate_clusters,
        minhash_lsh_pairs_plan,
    )

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_fresh(frame) -> float:
        # _propagate_clusters iterates EAGERLY (localCheckpoint + count
        # per round), so construction must be inside the clock
        import gc

        t0 = time.perf_counter()
        out = _propagate_clusters(minhash_lsh_pairs_plan(frame))
        out.write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        clear_caches(spark)
        # the per-round localCheckpoint RDDs are freed only when the
        # driver drops its references — do that between runs so the
        # next timing doesn't execute under the last run's block-
        # storage residue
        del out
        gc.collect()
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("dup_clusters_connected_components", n_rows_1x, t1, t10)


def check_rare_ngram_overlap(spark) -> None:
    """l34's rare-gram inverted-index join at 10×: replicas tag every
    WORD with a per-copy marker, so each copy's 5-grams are fresh
    vocabulary — the df distribution (and the rare-gram structure the
    cap keys on) is preserved per copy, modeling real corpus growth.
    A plain text-suffix replica would instead multiply every gram's df
    by ×copies and push the whole corpus past the rarity cap, shrinking
    the work to nothing."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import rare_ngram_overlap_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def word_tagged_replicas(frame: DataFrame, copies: int) -> DataFrame:
        shift = 10_000_000
        reps = [
            frame.select(
                (F.col("doc_id") + F.lit(i * shift)).alias("doc_id"),
                F.regexp_replace(
                    F.col("text"), r"(^|[ ])", rf"$1c{i}x"
                ).alias("text"),
            )
            for i in range(copies)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        return out

    def timed_fresh(frame) -> float:
        t = timed(rare_ngram_overlap_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(word_tagged_replicas(docs, COPIES)) for _ in range(2))
    report("rare_ngram_overlap", n_rows_1x, t1, t10)


def check_semdedup(spark) -> None:
    """l27's SemDeDup at 10x with k SCALED WITH n — the algorithm's
    actual contract (SCALE.md: the fixed-8-centroid harness would
    measure a quadratic artifact, since per-cluster sizes grow 10x and
    the within-cluster pair join is quadratic in cluster size).

    Replicas are SIGN-FLIPPED per copy (each dim multiplied by a
    deterministic +-1 drawn from hash(dim, copy)): within-copy dot
    products are preserved EXACTLY (a.s * b.s = a.b since s^2 = 1), so
    every copy carries the 1x corpus's intra-cluster structure, while
    cross-copy cosines center on 0 — no spurious cross-copy near-dups.
    Centroids are the first 8 vectors OF EACH COPY (k = 8*copies, i.e.
    k proportional to n, SemDeDup's bounded-cluster-size configuration),
    so per-cluster pair work stays constant and total work must track
    the data: exponent ~1."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_similarity import semdedup_plan

    base = spread(load_table(spark, SF_DIR, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    shift = 10_000_000

    def replicas(copies: int) -> DataFrame:
        reps = []
        for i in range(copies):
            rep = base.select(
                (F.col("vec_id") + F.lit(i * shift)).alias("vec_id"),
                F.transform(
                    F.col("embedding"),
                    lambda x, d: x
                    * (F.when(F.pmod(F.hash(d * 31 + F.lit(i * 7)), 2) == 0,
                              F.lit(1.0)).otherwise(F.lit(-1.0))),
                ).alias("embedding"),
            )
            reps.append(rep)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        return out

    def timed_fresh(corpus) -> float:
        # semdedup_plan persists + materializes the assignment eagerly,
        # so construction sits inside the clock
        t0 = time.perf_counter()
        cents = corpus.filter(F.pmod(F.col("vec_id"), F.lit(shift)) < 8).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
        )
        out = semdedup_plan(corpus, cents)
        out.write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        clear_caches(spark)
        return t

    n_rows_1x = base.count()
    one = replicas(1)
    timed_fresh(one)  # warm
    t1 = min(timed_fresh(one) for _ in range(2))
    t10 = min(timed_fresh(replicas(COPIES)) for _ in range(2))
    report("semdedup_k_scaled", n_rows_1x, t1, t10)


def check_embedding_outliers(spark) -> None:
    """l36's centroid-distance outlier screen at 10x: key-shifted
    replicas grow per-label volume 10x; the plan is two partial+final
    aggregates (per-(label,dim) centroid, per-vector distance) plus two
    broadcast-sized side frames, so time must track the scan — exponent
    ~1, no state accumulation."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_similarity import embedding_outliers_plan

    base = spread(load_table(spark, SF_DIR, "embeddings")).select(
        "vec_id", "label", "embedding"
    )

    def timed_fresh(frame) -> float:
        t = timed(embedding_outliers_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = base.count()
    timed_fresh(base)  # warm
    t1 = min(timed_fresh(base) for _ in range(2))
    t10 = min(
        timed_fresh(replicate(base, ["vec_id"], COPIES)) for _ in range(2)
    )
    report("embedding_outliers", n_rows_1x, t1, t10)


def check_quality_percentile_scaled(spark) -> None:
    """l35b's distributed ranking at 10x: suffixed replicas grow each
    source's row count 10x (same sources — the exact shape the l35
    window chokes on, one task per source).  The l35b plan has no
    per-source task: one range shuffle, a (pid, source) slice aggregate
    collected at construction, and a broadcast offsets join, so time
    must track the data."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_text import quality_percentile_scaled_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "source", "text"
    )

    def replicas(copies: int) -> DataFrame:
        # keeps source UNshifted: each source grows x copies — the
        # exact per-source-volume growth the l35 window cannot split
        shift = 10_000_000
        reps = [
            docs.select(
                (F.col("doc_id") + F.lit(i * shift)).alias("doc_id"),
                "source",
                F.concat(F.col("text"), F.lit(f" r{i}")).alias("text"),
            )
            for i in range(copies)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        return out

    def timed_fresh(frame) -> float:
        # the plan collects its slice counts at construction, so
        # construction sits inside the clock
        t0 = time.perf_counter()
        timed(quality_percentile_scaled_plan(frame))
        t = time.perf_counter() - t0
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(replicas(COPIES)) for _ in range(2))
    report("quality_percentile_scaled", n_rows_1x, t1, t10)


def check_lm_contamination(spark) -> None:
    """l37's LM-score contamination screen at 10×: the eval-set bigram
    LM is FIXED (broadcast KB tables); rotation replicas grow only the
    corpus side, which streams through two broadcast left joins and one
    doc_id aggregate — cost must track corpus volume linearly."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import lm_contamination_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_fresh(frame) -> float:
        t = timed(lm_contamination_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("lm_contamination_screen", n_rows_1x, t1, t10)


def check_substring_dedup(spark) -> None:
    """l38's anchored substring-fingerprint dedup at 10×: replicas tag
    every WORD with a per-copy marker (fresh vocabulary per copy — the
    per-copy anchor positions and span df distribution are preserved,
    exactly as in the l34 probe; a plain text-suffix replica would
    multiply every span's df ×copies and push the corpus past the df
    cap, shrinking the pair join to nothing)."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import substring_dedup_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def word_tagged_replicas(frame: DataFrame, copies: int) -> DataFrame:
        shift = 10_000_000
        reps = [
            frame.select(
                (F.col("doc_id") + F.lit(i * shift)).alias("doc_id"),
                F.regexp_replace(
                    F.col("text"), r"(^|[ ])", rf"$1c{i}x"
                ).alias("text"),
            )
            for i in range(copies)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        return out

    def timed_fresh(frame) -> float:
        t = timed(substring_dedup_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(word_tagged_replicas(docs, COPIES)) for _ in range(2))
    report("substring_dedup_anchored", n_rows_1x, t1, t10)


def check_cc_loop(spark) -> None:
    """The connected-components LOOP alone (l21's iterative kernel),
    isolated from LSH pair generation: the 10× input is the 1× pair
    graph REPLICATED with shifted doc ids (exactly ×10 edges, identical
    per-copy component structure — so rounds-to-convergence is constant
    by construction), both materialized (localCheckpoint) OUTSIDE the
    clock.  The probe times only the label-propagation rounds — per
    round one edge join + hash agg + pointer jump on (long, long)
    frames; loop time must track edge volume."""
    import gc

    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import (
        _propagate_clusters,
        minhash_lsh_pairs_plan,
    )

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_loop(pairs_ckpt) -> float:
        t0 = time.perf_counter()
        out = _propagate_clusters(pairs_ckpt)
        out.write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        clear_caches(spark)
        del out
        gc.collect()
        return t

    pairs1 = minhash_lsh_pairs_plan(docs).localCheckpoint()
    n_pairs_1x = pairs1.count()
    clear_caches(spark)
    timed_loop(pairs1)  # warm
    t1 = min(timed_loop(pairs1) for _ in range(2))
    pairs10 = replicate(
        pairs1, ["doc_a", "doc_b"], COPIES
    ).localCheckpoint()
    clear_caches(spark)
    t10 = min(timed_loop(pairs10) for _ in range(2))
    report("cc_loop_label_propagation", n_pairs_1x, t1, t10)


def main() -> None:
    spark = get_spark("scaling")
    check_flagship(spark)
    clear_caches(spark)
    check_minhash_lsh(spark)
    clear_caches(spark)
    check_match_recognize(spark)
    clear_caches(spark)
    check_sessionization(spark)
    clear_caches(spark)
    check_qdigest(spark)
    clear_caches(spark)
    check_weighted_qdigest(spark)
    clear_caches(spark)
    check_with_ties_threshold(spark)
    clear_caches(spark)
    check_heavy_hitters(spark)
    clear_caches(spark)
    check_misra_gries(spark)
    clear_caches(spark)
    check_table_changes(spark)
    clear_caches(spark)
    check_dup_clusters(spark)
    clear_caches(spark)
    check_rare_ngram_overlap(spark)
    clear_caches(spark)
    check_semdedup(spark)
    clear_caches(spark)
    check_embedding_outliers(spark)
    clear_caches(spark)
    check_quality_percentile_scaled(spark)
    clear_caches(spark)
    check_lm_contamination(spark)
    clear_caches(spark)
    check_cc_loop(spark)
    clear_caches(spark)
    check_substring_dedup(spark)
    clear_caches(spark)
    check_editdist_verify(spark)
    clear_caches(spark)
    check_bloom_decontamination(spark)
    clear_caches(spark)
    check_repetition_filters(spark)
    clear_caches(spark)
    check_pii_scan(spark)




def check_qdigest(spark) -> None:
    """Two-level quantile-sketch build at 10×: key-shifted replicas grow
    both key cardinality and per-key volume; the partial stage is
    bounded per (key, scan-partition) and the merge stage shuffles only
    KB-sized sketch rows, so time must track volume."""
    from mcp_trino_spark.functions.qdigest import qdigest_by, with_quantiles

    cust = load_table(spark, SF_DIR, "customer").select("c_nationkey", "c_acctbal")

    def plan(frame):
        return with_quantiles(
            qdigest_by(frame, "c_acctbal", ["c_nationkey"]), [0.5, 0.99]
        )

    n_rows_1x = cust.count()
    timed(plan(cust))  # warm (forks the Python worker pool)
    t1 = min(timed(plan(cust)) for _ in range(2))
    c10 = replicate(cust, ["c_nationkey"], COPIES)
    t10 = min(timed(plan(c10)) for _ in range(2))
    report("qdigest_two_level_build", n_rows_1x, t1, t10)




def check_editdist_verify(spark) -> None:
    """The edit-distance VERIFY stage alone (l33's final funnel stage),
    isolated from the LSH pair generation it verifies: the 10× input is
    the 1× candidate-pair frame REPLICATED with shifted doc ids (and a
    doc corpus replicated the same way), both materialized
    (localCheckpoint) OUTSIDE the clock — so pair volume is EXACTLY
    ×copies (re-running LSH over transformed replicas draws a fresh
    minhash sample per copy, and the measured per-replica pair count
    swings 113k–411k on this corpus — far too noisy to anchor an
    exponent).  The probe times only the two prefix hash joins + the
    banded Levenshtein DP (O(1) per pair: 200-char prefixes, band 100)
    + the similarity filter; time must track pair volume."""
    import gc

    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import (
        editdist_verify_plan,
        minhash_lsh_pairs_plan,
    )

    docs1 = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_verify(pairs_ckpt, docs_ckpt) -> float:
        t0 = time.perf_counter()
        out = editdist_verify_plan(pairs_ckpt, docs_ckpt)
        out.write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        clear_caches(spark)
        del out
        gc.collect()
        return t

    pairs1 = minhash_lsh_pairs_plan(docs1).localCheckpoint()
    n_pairs_1x = pairs1.count()
    clear_caches(spark)
    d1 = docs1.localCheckpoint()
    timed_verify(pairs1, d1)  # warm
    t1 = min(timed_verify(pairs1, d1) for _ in range(2))
    # id-shifted replication: same texts per copy is fine — the verify
    # stage joins by doc_id only, so cross-copy matching cannot occur
    pairs10 = replicate(pairs1, ["doc_a", "doc_b"], COPIES).localCheckpoint()
    d10 = replicate(docs1, ["doc_id"], COPIES).localCheckpoint()
    t10 = min(timed_verify(pairs10, d10) for _ in range(2))
    report("editdist_verify_stage", n_pairs_1x, t1, t10)



def check_weighted_qdigest(spark) -> None:
    """Weighted two-level sketch build (a21b — the bounded-memory path
    for Trino's weighted approx_percentile) at 10×: key-shifted
    replicas grow key cardinality and per-key volume together; the
    partial stage sketches (value, weight) pairs bounded per (key,
    scan partition), the merge shuffles KB-sized rows — time must
    track volume, and per-executor memory must NOT track the distinct
    value count (the wall Spark's exact percentile hits)."""
    from mcp_trino_spark.functions.qdigest import (
        weighted_qdigest_by, with_quantiles,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )

    def plan(frame):
        return with_quantiles(
            weighted_qdigest_by(
                frame, "l_extendedprice", "l_quantity",
                ["l_returnflag", "l_linestatus"],
            ),
            [0.5, 0.99],
        )

    n_rows_1x = li.count()
    timed(plan(li))  # warm
    t1 = min(timed(plan(li)) for _ in range(2))
    # string group keys: suffix-shift per copy (replicate() adds to
    # NUMERIC keys) — same per-replica distribution, disjoint key spaces
    li10 = None
    for i in range(COPIES):
        rep = li.withColumn(
            "l_returnflag", F.concat(F.col("l_returnflag"), F.lit(f"_{i}"))
        )
        li10 = rep if li10 is None else li10.unionByName(rep)
    t10 = min(timed(plan(li10)) for _ in range(2))
    report("weighted_qdigest_two_level_build", n_rows_1x, t1, t10)


def check_bloom_decontamination(spark) -> None:
    """l39's bloom-prefiltered decontamination at 10×: the bitset is
    FIXED (built from the eval set, broadcast once); rotation replicas
    grow only the corpus side, which streams through the gram explode,
    the JVM xxhash64, and the vectorized bloom probe with no shuffle
    before the (tiny) exact-verify join — cost must track corpus
    volume linearly, independent of eval-set size."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_dedup import bloom_decontamination_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_fresh(frame) -> float:
        t = timed(bloom_decontamination_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("bloom_decontamination", n_rows_1x, t1, t10)


def check_repetition_filters(spark) -> None:
    """l40's Gopher repetition filters at 10×: per-doc line/word counts
    are combiner-friendly aggregates keyed by doc_id (rotation
    replicas keep per-copy vocabularies disjoint, so group counts grow
    with volume, never per-key width) — cost must track corpus volume
    linearly."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_text import repetition_filters_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_fresh(frame) -> float:
        t = timed(repetition_filters_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("repetition_filters", n_rows_1x, t1, t10)


def check_pii_scan(spark) -> None:
    """l41's PII surface scan at 10×: a zero-shuffle codegen projection
    — cost must track corpus volume linearly (exponent ~1.0 is the
    CORRECT contract here: there is no sublinear way to regexp-scan
    every byte; the design win is the absence of any shuffle/UDF)."""
    from mcp_trino_spark.operators._util import spread
    from mcp_trino_spark.operators.llm_text import pii_scan_plan

    docs = spread(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )

    def timed_fresh(frame) -> float:
        t = timed(pii_scan_plan(frame))
        clear_caches(spark)
        return t

    n_rows_1x = docs.count()
    timed_fresh(docs)  # warm
    t1 = min(timed_fresh(docs) for _ in range(2))
    t10 = min(timed_fresh(suffixed_replicas(docs, COPIES)) for _ in range(2))
    report("pii_scan", n_rows_1x, t1, t10)

if __name__ == "__main__":
    main()
