"""Generate PLANS.md: the actual physical plans of the scale-critical
operators, as evidence for the design claims in SCALE.md.

Usage: python tools/plan_report.py   (writes PLANS.md at the root of
the checkout the script sits in)
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from mcp_trino_spark import registry  # noqa: E402
from mcp_trino_spark.operators.opcache import release_all_operator_caches  # noqa: E402
from mcp_trino_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

SHOWCASE = [
    ("q0_flagship_revenue_by_region", "star join: all dims broadcast, fact never shuffled for a dim"),
    ("j11_asof", "as-of join as union + last-window: NO join node, one shuffle"),
    ("j9_multiway", "4-table chain: broadcast hash joins only"),
    ("w3b_ntile_distributed", "global ranking without a single-partition window"),
    ("t3_sessionization", "two window passes over one hash partitioning"),
    ("l2_minhash_lsh_pairs", "LSH: aggregate-column signatures, hash band join"),
    ("l13_training_pipeline", "filter pushdown -> md5 dedup shuffle -> partial+final rollup"),
    ("o2_topk", "ORDER BY+LIMIT planned as TakeOrderedAndProject"),
    ("w3_ntile", "global NTILE via range_rank: range partition + broadcast driver offsets, no Window or SinglePartition"),
    ("l3b_embedding_neardup", "LSH near-dup: narrow signature self-join + exact verify by id — embeddings stay out of the candidate shuffle"),
    ("l22_dedup_apply", "dedup apply: corpus joins the label table once; text never reshuffled"),
    ("l23_stratified_sample", "stratified sampling: broadcast rates, narrow md5 filter, zero data shuffles"),
    ("l24_tfidf", "TF-IDF: one corpus shuffle; vocab-sized df broadcast back"),
    ("l25_batch_ann", "batched ANN: WindowGroupLimit partial top-k before the rank shuffle"),
    ("t10b_match_recognize_funnel", "row-pattern matcher: codegen classify, ONE hash shuffle, pruned payload into Arrow groups"),
    ("l29_dedup_stats", "dedup stats: text dies at the md5 projection; two partial+final aggregates"),
    ("l27_semdedup", "SemDeDup: centroids broadcast to the corpus; pair join shuffles on cent_id only"),
    ("s9_cross_catalog_join", "federation: parquet fact scan (pushed filters) x broadcast JDBC dim with remote pushdown"),
    ("w12_groups_frame", "GROUPS frame rewrite: dense_rank + RANGE share one (user_id) exchange and sort"),
    ("a21_qdigest_rollup", "mergeable quantile sketches: sharded applyInPandas partials -> broadcast dim -> KB-sized sketch merges"),
    ("o12_fetch_with_ties", "WITH TIES threshold plan: TakeOrderedAndProject top-n + reused scalar subquery + parallel filter — no global window"),
    ("x20_approx_most_frequent", "exact heavy hitters: partial+final (group,value) counts, rank partitioned by group, count-ordered map"),
    ("l34_rare_ngram_overlap", "rare-gram span detection: df-capped posting list (persisted) self-joins hash-based; cap sits upstream of the pair join"),
    ("l35_quality_percentile", "per-source quality percentile: scan-side score, single window exchange, no global sort"),
    ("l36_embedding_outliers", "embedding outliers: (label,dim) centroid agg broadcast back, one vec_id distance agg, tiny stats broadcast"),
    ("l2c_ngram_jaccard", "exact word-3-gram Jaccard: persisted gram frame reused for sizes and both pair-join sides"),
    ("l35b_quality_percentile_scaled", "distributed ranking (range_rank): one range shuffle into a persisted frame, driver-collected slice offsets broadcast on a null-safe key — no window, no per-source task"),
    ("l37_ngram_lm_contamination", "LM contamination: benchmark LM tables broadcast, corpus bigrams through broadcast left joins, one doc_id partial+final agg"),
    ("x26_nth_from_last", "FROM LAST rewrite: reversed-ordering windows share one hash exchange per partition spec"),
    ("x31_window_exclude_peers", "EXCLUDE GROUP/TIES peer subtraction: frame + RANGE CURRENT..CURRENT peer aggregates in ONE Window operator, one exchange"),
    ("t14_mr_skip_to_symbol", "SKIP TO LAST <sym>: same one-hash-shuffle matcher plan — skip mode is scanner state, not plan shape"),
    ("x35_exclude_minmax", "MIN/MAX EXCLUDE GROUP/TIES: both GROUPS sub-windows on ONE shared dense_rank column, one exchange"),
    ("l38_substring_dedup", "anchored substring dedup: persisted span index reused three ways, df-capped fp set broadcast, text never in a join key"),
    ("x42_exclude_current_row_minmax", "MIN/MAX EXCLUDE CURRENT ROW: refined (part+keys) windows satisfied by the coarser hash(part) exchange — one shuffle, sub-sorts only"),
    ("l39_bloom_decontamination", "bloom decontamination: JVM xxhash64 + vectorized bitset probe drop grams pre-join; broadcast exact verify; shuffles only candidates"),
    ("l40_repetition_filters", "repetition filters: combiner-friendly (doc,line)/(doc,word) counts, min(struct) top word, no corpus window"),
    ("l41_pii_scan", "PII scan: pure whole-stage-codegen regexp_count projection — no hash exchange, no aggregate/join/window; the one Exchange is spread()'s round-robin parallelism repartition (single-row-group testdata artifact, a no-op at scale)"),
    ("x64_stat_agg_edge_contracts", "stat-agg edges: respelled corr + finite-gated regr_* all satisfied by ONE partial+final aggregate pair per arm (Catalyst dedups the repeated aggregates)"),
]


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("plan_report")
    qs = registry.queries()
    out = [
        "# PLANS — physical plans of the scale-critical operators\n",
        "Generated by `python tools/plan_report.py` (sf0.001 inputs; plan",
        "shape is scale-invariant). These are the plans the guards in",
        "`tests/test_plans.py` pin; rationale in `SCALE.md`.\n",
    ]
    for name, why in SHOWCASE:
        plan = formatted(qs[name](spark, SF_DIR))
        # keep the tree + EVERY scan-detail block (they carry the
        # PushedFilters/ReadSchema evidence); trim other node details
        lines = plan.splitlines()
        kept, in_scan, in_details = [], False, False
        for l in lines:
            if l.startswith("("):
                in_details = True
                in_scan = "Scan" in l
            if not in_details or in_scan:
                kept.append(l)
        tree = "\n".join(kept).rstrip()
        out.append(f"\n## {name}\n\n*{why}*\n\n```\n{tree}\n```\n")
        release_all_operator_caches()
        spark.catalog.clearCache()
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
