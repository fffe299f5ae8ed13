"""Connected-components clustering over the LSH pair graph (l20).

Drives the same iterative min-label/pointer-jump loop as
l21_dup_clusters but on hand-built graphs where the expected components
are obvious — a long chain (worst case for plain label propagation,
where pointer jumping must converge in O(log n) rounds) and disjoint
components mixed with singletons implied by the pair graph.
"""

from pyspark.sql import functions as F

from mcp_trino_spark.operators.llm_dedup import _propagate_clusters


def _cluster_map(rows):
    return {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in rows}


def test_chain_collapses_to_one_cluster(spark):
    # 0-1-2-...-9 chain: one component, keeper = 0.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = _cluster_map(_propagate_clusters(pairs).collect())
    assert set(got) == set(range(10))
    assert all(lab == 0 for lab, _ in got.values())
    assert [d for d, (_, keep) in got.items() if keep] == [0]


def test_disjoint_components(spark):
    # {1,2,3} triangle, {10,11} pair, nodes appear only via edges.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = _cluster_map(_propagate_clusters(pairs).collect())
    assert {d: lab for d, (lab, _) in got.items()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10
    }
    assert sorted(d for d, (_, keep) in got.items() if keep) == [1, 10]


def test_lsh_recall_against_exact_jaccard(spark):
    """Quality guarantee the oracle CANNOT give (it mirrors the same
    banding construction): against independently computed exact char-8-
    shingle Jaccard over ALL document pairs, the LSH candidate pairs
    must contain ≥95% of true pairs with J ≥ 0.8 (the banding s-curve
    predicts ~99.97% hit rate at 8 bands × 2 rows for J = 0.8)."""
    from itertools import combinations

    from mcp_trino_spark import registry
    from mcp_trino_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, sf, "documents").select("doc_id", "text").collect()}
    shingles = {d: {t[i:i + 8] for i in range(max(len(t) - 7, 1))}
                for d, t in docs.items()}
    true_pairs = set()
    for a, b in combinations(sorted(docs), 2):
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.8:
            true_pairs.add((a, b))
    assert true_pairs, "testdata should contain high-similarity near-dups"

    got = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
           for r in registry.queries()["l2_minhash_lsh_pairs"](spark, sf).collect()}
    found = len(true_pairs & got)
    recall = found / len(true_pairs)
    assert recall >= 0.95, f"LSH recall {recall:.3f} over {len(true_pairs)} true pairs"


def test_simhash_hamming_small_for_true_neardups(spark):
    """SimHash quality: for independently verified near-dup pairs
    (exact char-8-shingle Jaccard ≥ 0.8), the 16-bit simhash Hamming
    distance must be small (≤ 4 bits for ≥ 90% of pairs) — evidence the
    bit-vote construction actually embeds similarity, which the
    value-exact oracle cannot establish."""
    from itertools import combinations

    from mcp_trino_spark import registry
    from mcp_trino_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, sf, "documents").select("doc_id", "text").collect()}
    shingles = {d: {t[i:i + 8] for i in range(max(len(t) - 7, 1))}
                for d, t in docs.items()}
    true_pairs = []
    for a, b in combinations(sorted(docs), 2):
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.8:
            true_pairs.append((a, b))
    assert true_pairs

    sh = {r["doc_id"]: r["simhash16"] for r in
          registry.queries()["l2b_simhash"](spark, sf).collect()}
    close = sum(1 for a, b in true_pairs
                if bin(sh[a] ^ sh[b]).count("1") <= 4)
    assert close / len(true_pairs) >= 0.9, (
        f"only {close}/{len(true_pairs)} near-dup pairs within 4 bits")


def test_substring_dedup_finds_verbatim_span(spark):
    """l38: two documents sharing a verbatim >=W-word span (with a
    content-defined anchor inside it) pair up; documents with no
    shared span don't; spans shared by more than the df cap are
    excluded as boilerplate."""
    from mcp_trino_spark.operators.llm_dedup import (
        SUBSTR_DF_CAP,
        substring_dedup_plan,
    )

    # find a word whose md5 starts with '0' (an anchor) and one that
    # doesn't, so the shared span deterministically contains an anchor
    import hashlib

    def md5_0(w):
        return hashlib.md5(w.encode()).hexdigest()[0] == "0"

    anchor = next(w for w in (f"w{i}" for i in range(1000)) if md5_0(w))
    plains = [w for w in (f"p{i}" for i in range(2000)) if not md5_0(w)]
    span = " ".join([anchor] + plains[:7])  # 8 words, anchor first
    docs = spark.createDataFrame(
        [
            (1, f"{plains[10]} {span} {plains[11]}"),
            (2, f"{plains[12]} {plains[13]} {span}"),
            (3, " ".join(plains[20:40])),  # anchor-free, unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_spans"]
        for r in substring_dedup_plan(docs).collect()
    }
    assert got == {(1, 2): 1}

    # boilerplate: the same span in (cap + 1) documents is excluded
    many = spark.createDataFrame(
        [(i, span) for i in range(SUBSTR_DF_CAP + 1)],
        "doc_id long, text string",
    )
    assert substring_dedup_plan(many).count() == 0
    # ...but at exactly the cap it pairs everything
    at_cap = spark.createDataFrame(
        [(i, span) for i in range(SUBSTR_DF_CAP)],
        "doc_id long, text string",
    )
    n = SUBSTR_DF_CAP
    assert substring_dedup_plan(at_cap).count() == n * (n - 1) // 2


def test_propagate_clusters_empty_pair_graph(spark):
    """Regression (r16 review): the Observation-fused loop crashed on
    an empty pair frame — Catalyst's empty-relation propagation
    eliminates the CollectMetrics node and Observation.get raises.
    The empty graph must return an empty labeling, like the old
    filter-count shape did."""
    from mcp_trino_spark.operators.llm_dedup import _propagate_clusters

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = _propagate_clusters(pairs)
    assert out.columns == ["doc_id", "cluster_id", "is_keeper"]
    assert out.count() == 0
