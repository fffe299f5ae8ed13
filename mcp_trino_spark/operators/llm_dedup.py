"""Deduplication operators for LLM training-data pipelines — SURVEY §2.10
(L1, L2) plus SimHash and n-gram-Jaccard variants.

Beyond the reference surface (mandated extension, repo BASELINE.json
"north_star").  Design rules for 100 TB:

- Exact dedup is a hash-groupBy on md5(text) — shuffle carries one row
  per distinct hash, never the texts twice.
- MinHash/LSH emits (band_key → doc) pairs and self-joins per band, so
  candidate generation is an equi-join, not an all-pairs cross join;
  work scales with Σ bucket², controlled by band width.
- All hashes are md5-derived (identical on every engine/worker) — no
  engine-native hash() whose value differs across systems.
- Pair outputs are canonicalized (doc_a < doc_b) and DISTINCT'd so band
  collisions don't duplicate pairs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from mcp_trino_spark.operators._util import T, spread
from mcp_trino_spark.registry import register

# LSH layout: NUM_BANDS bands × ROWS_PER_BAND minhashes per band.
# 8×2 at threshold ~ (1/8)^(1/2) ≈ 0.35 Jaccard — tuned loose so the
# synthetic near-dup docs in testdata collide.
NUM_BANDS = 8
ROWS_PER_BAND = 2
SHINGLE_LEN = 8


@register(
    "l1_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def l1_exact_dedup(spark, sf_dir):
    """Exact dedup: keep the min doc_id per distinct text.

    groupBy(md5) rather than dropDuplicates(text): the shuffle key is a
    32-byte hash instead of the document body, and the winner choice
    (min id) is deterministic — dropDuplicates keeps an arbitrary row.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


#: 16 minhash functions = 4 md5 variants × 4 non-overlapping 8-hex
#: (32-bit) windows each — one md5 costs the same as 16 seeded md5s
#: would 16× over.
if (NUM_BANDS * ROWS_PER_BAND) % 4 != 0:  # not assert: survives python -O
    raise ValueError(
        "LSH layout: NUM_BANDS x ROWS_PER_BAND must be divisible by 4 "
        "(each md5 supplies 4 hash windows); anything else silently "
        "truncates lanes"
    )
_N_MD5 = NUM_BANDS * ROWS_PER_BAND // 4


def _mh_windows():
    """Yield (hash_idx, md5_variant, window_start) for the 16 minhashes."""
    for h in range(NUM_BANDS * ROWS_PER_BAND):
        yield h, h // 4, 1 + 8 * (h % 4)


def _lsh_ctes() -> str:
    """The shared CTE chain (shingles → md5 lanes → minhash signatures →
    band keys → unpivoted bands) — reused by the pair, cluster, and
    estimate oracles so every stage clusters the IDENTICAL graph."""
    md5s = ", ".join(
        f"md5(shingle || '#{j}') AS m{j}" for j in range(_N_MD5)
    )
    mins = ", ".join(
        f"MIN(substr(m{j}, {start}, 8)) AS h{h}" for h, j, start in _mh_windows()
    )
    band_keys = ", ".join(
        " || '|' || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f" AS band{b}"
        for b in range(NUM_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS band_key FROM keys"
        for b in range(NUM_BANDS)
    )
    return f"""sh AS (
      SELECT doc_id,
             substr(text, CAST(pos AS INTEGER), {SHINGLE_LEN}) AS shingle
      FROM documents, LATERAL unnest(range(1, GREATEST(length(text) - {SHINGLE_LEN - 1}, 1) + 1)) AS u(pos)
    ),
    hashed AS (SELECT doc_id, {md5s} FROM sh),
    mh AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    keys AS (SELECT doc_id, {band_keys} FROM mh),
    bands AS ({band_rows})"""


_LSH_PAIR_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


def _lsh_oracle() -> str:
    return f"WITH {_lsh_ctes()} {_LSH_PAIR_SELECT}"


@register("l2_minhash_lsh_pairs", oracle=_lsh_oracle())
def l2_minhash_lsh_pairs(spark, sf_dir):
    """MinHash + LSH near-duplicate candidate pairs.

    shingle → 16 md5-derived minhashes → 8 band keys of 2 →
    per-band self-equi-join.  The min over fixed-width lowercase-hex
    strings is the numeric min, so MIN(varchar) is a valid minhash
    accumulator on both engines.  (Hash choice: seeded xxhash64
    signatures measured only ~1.5× faster than this md5 scheme at
    sf0.1; md5 is kept because the correctness oracle must be
    engine-independent, and the band join — not hashing — dominates at
    scale.)

    Scale design: the 16 minhashes are *aggregate columns* over the
    shingle rows (4 md5 calls/shingle, no row multiplication — the
    naive shingle×16 explode is 16× the rows and was measured 5×
    slower), so the per-doc signature is one groupBy.  Band keys then
    unpivot 8-ways (stack — narrow op), and candidate generation is an
    equi-join on band_key: work scales with Σ bucket², tuned by band
    width; skewed buckets (boilerplate) are handled by AQE skew-join.
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)  # parallelize the hash fan-out (see _util.spread)
    return minhash_lsh_pairs_plan(docs)


def minhash_signatures_plan(docs):
    """Per-doc 16-lane minhash signature frame (doc_id, h0..h15) — the
    artifact a 100 TB pipeline materializes once and reuses for band
    joins (l2) and signature-based similarity estimation (l26)."""
    n = F.greatest(F.length("text") - (SHINGLE_LEN - 1), F.lit(1))
    # NB: no DISTINCT on shingles — MIN is duplicate-insensitive, and the
    # dedup shuffle would cost more than the duplicate hashing it saves.
    sh = docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("pos")
    ).select("doc_id", F.expr(f"substr(text, pos, {SHINGLE_LEN})").alias("shingle"))
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f"#{j}"))).alias(f"m{j}")
            for j in range(_N_MD5)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col(f"m{j}"), start, 8)).alias(f"h{h}")
            for h, j, start in _mh_windows()
        ]
    )


def minhash_lsh_pairs_plan(docs):
    """The l2 plan over an arbitrary documents frame (doc_id, text) —
    parameterized so tools/scaling_check.py can drive it at synthetic
    10× scale.  See l2_minhash_lsh_pairs for the design rationale."""
    return _band_pairs_from_signatures(minhash_signatures_plan(docs))


def _band_frame(mh, carry=()):
    """Unpivot a signature frame (doc_id, h0..h{n-1}[, carry...]) into
    (doc_id, *carry, band, band_key) rows — THE banding step, shared by
    the pair plan (l2/l21/l22/l33) and the estimate plan (l26) so the
    candidate graph is identical everywhere.

    Band keys concatenate with NULL-PROPAGATING F.concat, matching the
    oracle's ``||``: a NULL-text document has all-NULL minhash lanes,
    and concat_ws's NULL-skipping '' key would pair every such doc with
    every other (live-reproduced divergence) — NULL keys never
    equi-join, on either engine.

    The frame is persisted AND materialized (count()): Spark does not
    dedupe in-flight computation, so without it a self-join's two
    subtrees can run the shingle+md5 pipeline twice concurrently (the
    10× scaling probe measured exponent 1.26 from exactly this).
    Lifecycle: registered with operators.opcache — batch harnesses
    clearCache between entries, and the resident MCP server releases
    tracked caches after every tool call (opcache.py documents the
    ownership model)."""
    import functools

    from mcp_trino_spark.operators.opcache import persist_tracked

    def band_key(b):
        return functools.reduce(
            lambda acc, c: F.concat(acc, F.lit("|"), c),
            [F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(1, ROWS_PER_BAND)],
            F.col(f"h{b * ROWS_PER_BAND}"),
        )

    keys = mh.select(
        "doc_id",
        *carry,
        *[band_key(b).alias(f"band{b}") for b in range(NUM_BANDS)],
    )
    stack_expr = "stack({n}, {args}) AS (band, band_key)".format(
        n=NUM_BANDS,
        args=", ".join(f"{b}, band{b}" for b in range(NUM_BANDS)),
    )
    bands = persist_tracked(keys.select("doc_id", *carry, F.expr(stack_expr)))
    bands.count()
    return bands


def _band_pairs_from_signatures(mh):
    """Banded self-equi-join over a signature frame (doc_id, h0..h15)."""
    bands = _band_frame(mh)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _simhash_oracle() -> str:
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(w), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    votes = ", ".join(
        f"SUM(CASE WHEN (v >> {15 - i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(16)
    )
    final = " + ".join(f"CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(16))
    return f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w
      FROM documents, LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
      WHERE length(w) > 0
    ),
    vals AS (SELECT doc_id, {digits} AS v FROM words),
    votes AS (SELECT doc_id, {votes} FROM vals GROUP BY doc_id)
    SELECT doc_id, CAST({final} AS BIGINT) AS simhash16 FROM votes
    """


@register("l2b_simhash", oracle=_simhash_oracle())
def l2b_simhash(spark, sf_dir):
    """16-bit SimHash per document from distinct lowercase words.

    Each word's md5 supplies a 16-bit value (first 4 hex digits); the 16
    per-bit ±1 vote sums are *aggregate columns* (no words×16 explode),
    and the sign pattern becomes the fingerprint.  All arithmetic is
    md5 + integer ops → engine-independent.  Scale: one narrow word
    explode, one hash aggregate on doc_id.
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    hexmap = F.lit("0123456789abcdef")
    words = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    digit = lambda i: (F.instr(hexmap, F.substring(F.md5("w"), i + 1, 1)) - 1)  # noqa: E731
    v = sum((digit(i) * (16 ** (3 - i)) for i in range(1, 4)), digit(0) * 4096)
    vals = words.select("doc_id", v.alias("v"))
    votes = vals.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("v"), 15 - i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    final = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        final = term if final is None else final + term
    return votes.select("doc_id", final.cast("bigint").alias("simhash16"))


@register(
    "l2c_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id, lang,
             ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1]
               || ' ' || ws[CAST(i AS INTEGER) + 2] AS g
      FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
            FROM documents),
           LATERAL unnest(range(1, GREATEST(len(ws) - 2, 0) + 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_grams + sb.n_grams - i.n_common), 9) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - i.n_common) >= 0.4
    """,
)
def l2c_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard similarity for doc pairs ≥ 0.4,
    blocked by language.

    The inverted-index join (gram → docs) computes |A∩B| without an
    all-pairs product; |A∪B| derives from per-doc gram counts.  This is
    the exact verifier that LSH candidates (l2) feed into at scale —
    here run over same-language blocks directly.

    Shingle unit matters at scale: the join enumerates Σ_g df(g)²
    matches, and word shingles keep df Zipf-light where character
    shingles collapse onto a tiny vocabulary (measured at sf0.1:
    char-5-grams → 10k vocab, max df 1621, Σdf² = 395M and a 33 s
    plan; word-3-grams → 108k vocab, max df 14, Σdf² = 0.9M — ~400×
    less join work for the same near-dup pairs).  The gram frame is
    opcache-persisted: it feeds the size aggregate and BOTH sides of
    the pair join, and recomputing the explode+distinct three times
    was most of the remaining wall time.
    """
    from mcp_trino_spark.operators.opcache import persist_tracked

    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    # Per-doc gram DEDUP without a shuffle (r15): rows are keyed by
    # doc_id, so "distinct per doc" IS global distinctness — build the
    # gram list as an array, array_distinct it in-row, and explode.
    # The old explode→.distinct() spelling shuffled every gram of the
    # corpus once just to dedup within documents (measured 1.72 s →
    # 0.56 s for the gram frame alone at sf0.1, identical rows).
    ws = F.col("ws")
    n_idx = F.greatest(F.size(ws) - 2, F.lit(0))
    idx = F.when(n_idx >= 1, F.sequence(F.lit(1), n_idx)).otherwise(
        F.array().cast("array<int>")
    )
    gram_arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    grams = persist_tracked(
        docs.select(
            "doc_id", "lang", F.split(F.lower("text"), " ").alias("ws")
        ).select(
            "doc_id", "lang", F.explode(F.array_distinct(gram_arr)).alias("g")
        )
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common"))
            ).alias("j"),
        )
    )
    return jac.filter(F.col("j") >= 0.4).select(
        "doc_a", "doc_b", F.round(F.col("j"), 9).alias("jaccard")
    )


#: benchmark phrases to screen against (stand-in for eval-set text);
#: decontamination flags any document sharing a character 16-gram.
BENCHMARK_PHRASES = (
    "key agg row scan slow fast",
    "hash value table part a row",
    "merge batch part value fast spark",
)
DECON_GRAM = 16


def _decon_oracle() -> str:
    phrases = ", ".join(f"('{p}')" for p in BENCHMARK_PHRASES)
    return f"""
    WITH bench AS (SELECT * FROM (VALUES {phrases}) AS b(phrase)),
    bgrams AS (
      SELECT DISTINCT substr(phrase, CAST(i AS INTEGER), {DECON_GRAM}) AS g
      FROM bench, LATERAL unnest(range(1, GREATEST(length(phrase) - {DECON_GRAM - 1}, 1) + 1)) AS u(i)
      WHERE length(phrase) >= {DECON_GRAM}
    ),
    dgrams AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), {DECON_GRAM}) AS g
      FROM documents, LATERAL unnest(range(1, GREATEST(length(text) - {DECON_GRAM - 1}, 1) + 1)) AS u(i)
    )
    SELECT d.doc_id, COUNT(*) AS n_hit_grams
    FROM dgrams d JOIN bgrams b ON d.g = b.g
    GROUP BY d.doc_id
    """


@register("l16_decontamination", oracle=_decon_oracle())
def l16_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag documents sharing any character
    {16}-gram with an eval-set phrase — the screen every training corpus
    runs before release.

    Scale shape: the benchmark side is tiny (eval sets are KB-MB) so its
    gram set BROADCASTS; the corpus side streams its grams through a
    broadcast-hash semi-join — no shuffle of corpus data at all.  The
    gram explode is narrow and the per-doc hit count is one partial+final
    aggregate on doc_id.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return exact_decontamination_plan(spread(docs))


def exact_decontamination_plan(docs: DataFrame) -> DataFrame:
    """Frame-parameterized l16 plan (docs: doc_id, text) — shared by
    the registry entry and the decontaminate() SQL front door."""
    spark = docs.sparkSession
    bench = spark.createDataFrame(
        [(p,) for p in BENCHMARK_PHRASES], "phrase STRING"
    )
    n_b = F.greatest(F.length("phrase") - (DECON_GRAM - 1), F.lit(1))
    bgrams = (
        bench.filter(F.length("phrase") >= DECON_GRAM)
        .select(F.explode(F.sequence(F.lit(1), n_b)).alias("i"), "phrase")
        .select(F.expr(f"substr(phrase, i, {DECON_GRAM})").alias("g"))
        .distinct()
    )
    n_d = F.greatest(F.length("text") - (DECON_GRAM - 1), F.lit(1))
    dgrams = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), n_d)).alias("i"), "text"
    ).select("doc_id", F.expr(f"substr(text, i, {DECON_GRAM})").alias("g"))
    # join FIRST, dedup the (tiny) hit set after: a corpus-wide
    # distinct would shuffle ~16x the corpus text before the broadcast
    # join ever prunes it
    return (
        dgrams.join(F.broadcast(bgrams), "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )


#: transitive-closure CTE block over the LSH pair graph — ONE
#: definition shared by the l21 and l22 oracles (a drifted copy would
#: silently cluster two different graphs)
_CLOSURE_CTES = """
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.node
    )"""


def _dup_clusters_oracle() -> str:
    """Connected components of the LSH pair graph by transitive closure
    (recursive CTE): each node's cluster id = min doc_id it can reach.
    The pair set is the l2 oracle verbatim, so both engines cluster the
    IDENTICAL graph."""
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_oracle()}),
    {_CLOSURE_CTES}
    SELECT node AS doc_id, MIN(lab) AS cluster_id,
           CAST(MIN(lab) = node AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY node
    """


@register("l21_dup_clusters", oracle=_dup_clusters_oracle())
def l21_dup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTER formation: connected components over the
    MinHash/LSH pair graph — the step that turns pairwise matches into
    keep/drop decisions (cluster id = min doc_id in the component;
    ``is_keeper`` marks the one document to retain per cluster).

    Spark shape: iterative min-label propagation with pointer jumping —
    per round each node takes min(own label, neighbors' labels) via ONE
    edge join + hash agg, then (only if labels moved) follows its
    label's label (path halving), so convergence is O(log
    component-size) rounds, not O(diameter).  Round 0 is fused into
    label init and every changed round ends in ``localCheckpoint`` —
    MANDATORY for iterative DataFrame algorithms: without lineage
    truncation the logical plan nests per round and Catalyst analysis
    time grows superlinearly (observed: the un-checkpointed loop took
    >300 s at sf0.01; checkpointed, seconds).  The driver sees only a
    single convergence count per round (metadata-sized), never data
    rows.  At 100 TB each round is one shuffle on doc_id with state
    bounded per key — the standard Spark connected-components pattern
    (cf. large-star/small-star); see _propagate_clusters for the
    round-9 restructure details.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return _propagate_clusters(minhash_lsh_pairs_plan(spread(docs)))


def _propagate_clusters(pairs: DataFrame) -> DataFrame:
    """Min-label propagation + pointer jumping over a (doc_a, doc_b)
    pair frame; returns (doc_id, cluster_id, is_keeper).  See
    l21_dup_clusters for the scale rationale.

    Round 0 is FUSED into label initialization, and each round is ONE
    equi-join + ONE aggregation (r15): the edge explode also emits a
    self-loop per endpoint, so ``min(lab)`` over a node's joined rows
    is min(own label, neighbor labels) in a single groupBy — the
    old/new label pair falls out of the same aggregation (the self-loop
    row carries the node's own label), where the previous shape needed
    join → groupBy → join-back (two extra exchanges and a separate
    init-materialization job per run; guide §2.4).  LSH dup graphs are
    clique-dense (every pair inside a dup cluster collides in some
    band), so the init already IS the fixpoint for most components
    and the loop typically runs exactly one confirmation round.  The
    convergence count is an ``Observation`` riding the round's single
    materializing action (r16 — the pointer-jump ``localCheckpoint``),
    so each round is ONE Spark job, not a count job plus a jump job.
    The pointer jump — lab := label-of(lab), which halves remaining
    path lengths and turns long chains into O(log) rounds — runs every
    round; at the fixpoint it is the identity, so the final
    confirmation round returns the same labels the old early-break
    did.  Every round ends in ``localCheckpoint`` — MANDATORY for
    iterative DataFrame algorithms: without it the logical plan nests
    per round and Catalyst analysis time grows superlinearly."""
    from mcp_trino_spark.operators.opcache import persist_tracked

    # both edge directions AND both self-loops in ONE pass over the
    # pair frame (a union of selects would compute the upstream pair
    # plan twice unless ReuseExchange happens to fire).  The self-loops
    # double the edge rows (min is duplicate-insensitive, so per-pair
    # emission needs no distinct), buying one aggregation per round
    # instead of join+agg+join — fewer exchanges wins at every scale.
    # The edge frame is cached PRE-PARTITIONED on the join key (r15,
    # guide §2.4 "two operations keyed the same way share one
    # exchange"): a DataFrame persist preserves outputPartitioning
    # through InMemoryRelation where localCheckpoint's ExistingRDD scan
    # erases it, so every round's equi-join on ``b`` reuses this ONE
    # exchange instead of re-shuffling the biggest frame in the loop
    # once per round.  Partition count comes from the session's
    # spark.sql.shuffle.partitions (conf/env-driven — scale-adaptive,
    # not a local constant).
    # defensive int(): some builds leave the conf unset or "auto"
    # (ADVICE r15) — fall back to the context's default parallelism,
    # which is equally scale-adaptive
    try:
        n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = pairs.sparkSession.sparkContext.defaultParallelism
    edges = persist_tracked(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_a").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_b").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .repartition(n_part, "b")
    )
    # eager materialization: round 0 references edges twice (init
    # subtree + join) and Spark does not dedupe in-flight computation
    n_edges = edges.count()
    # init = min over (self ∪ neighborhood) node ids — the self-loop
    # makes plain min("b") the old least(a, min-neighbor).  NOT
    # checkpointed: each round references labels exactly once (the
    # single equi-join below), so round 1 materializes it in-plan with
    # no duplicate compute and no separate init job.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("lab"))
        .select(F.col("a").alias("node"), "lab")
    )
    if n_edges == 0:
        # empty pair graph: the (empty) init IS the fixpoint.  The
        # Observation path below cannot run here — Catalyst's
        # empty-relation propagation eliminates the CollectMetrics
        # node and Observation.get then raises instead of returning a
        # NULL sum (review r16; the old filter-count shape returned 0).
        return labels.select(
            F.col("node").alias("doc_id"),
            F.col("lab").alias("cluster_id"),
            (F.col("lab") == F.col("node")).alias("is_keeper"),
        )

    from pyspark.sql import Observation

    for _ in range(15):
        # Convergence count rides the round's ONE materializing action
        # as an Observation below the persist (r16, VERDICT r15 #3):
        # the old shape paid a separate filter-count job per round and
        # THEN the pointer-jump job — two driver round-trips per
        # changed round.  sum(lab != old_lab) over the observed node
        # is exactly the old filter-count (old_lab is never NULL: the
        # self-loop guarantees every node a b==a row).
        obs = Observation()
        stepped = persist_tracked(
            # SHUFFLE_HASH with build = labels: the node-sized side is
            # the only sane hash-build at any scale (AQE's size
            # heuristic was observed building — even BROADCASTING — the
            # EDGE side at sf0.1, which at 100 TB is the whole pair
            # graph); the hint also avoids SMJ's per-round re-sort of
            # the cached edge frame (guide §3.1).
            edges.join(labels.hint("shuffle_hash"), edges["b"] == labels["node"])
            .groupBy("a")
            .agg(
                F.min("lab").alias("lab"),
                # the self-loop row (b == a) carries a's own label
                F.max(F.when(F.col("b") == F.col("a"), F.col("lab"))).alias(
                    "old_lab"
                ),
            )
            .select(F.col("a").alias("node"), "old_lab", "lab")
            .observe(
                obs,
                F.sum(
                    (F.col("lab") != F.col("old_lab")).cast("long")
                ).alias("changed"),
            )
        )
        # Pointer jump — lab := label-of(lab) — halves remaining path
        # lengths.  Run UNCONDITIONALLY and let its localCheckpoint be
        # the round's single materializing action: at a fixpoint every
        # component already carries its min label, whose owner labels
        # itself, so the jump is the identity there — the same labels
        # the old early-break returned (interleaved A/B: one job per
        # round instead of two, ~5-12% faster wall; a no-jump variant
        # measured SLOWER — 6 rounds vs 4 on the sf0.1 graph).  The
        # persist above still matters: the jump references stepped
        # twice (probe + parents) within this one job.
        parents = stepped.select(
            F.col("node").alias("p_node"), F.col("lab").alias("p_lab")
        )
        labels = (
            stepped.join(parents, stepped["lab"] == parents["p_node"], "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce(F.col("p_lab"), F.col("lab"))).alias("lab"),
            )
            .localCheckpoint()
        )
        # Observation.get blocks until the checkpoint job above fired
        # the metrics (a fully empty graph never reaches here — see the
        # early return above; the `or 0` guards a NULL sum defensively).
        changed = obs.get["changed"] or 0
        stepped.unpersist()
        if changed == 0:
            break
    else:
        # pointer jumping converges in O(log component-size) rounds —
        # 15 rounds covers astronomically large components; exhausting
        # them means something is wrong, and returning unconverged
        # labels would silently mis-cluster (wrong keep/drop decisions)
        raise RuntimeError(
            "cluster propagation did not converge within 15 rounds — "
            "labels would be incorrect; investigate the pair graph"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("lab") == F.col("node")).alias("is_keeper"),
    )


def _dedup_apply_oracle() -> str:
    """Kept corpus after near-dup removal: docs outside the pair graph
    survive as 'unique'; inside a component only the min doc_id
    survives, as 'cluster_keeper'.  (Exact duplicates shingle to
    identical signatures, so they land in the same LSH component and
    the min-id rule subsumes exact dedup.)"""
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_oracle()}),
    {_CLOSURE_CTES},
    clusters AS (
      SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.source, d.lang,
           CASE WHEN c.doc_id IS NULL THEN 'unique'
                ELSE 'cluster_keeper' END AS keep_reason
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """


@register("l22_dedup_apply", oracle=_dedup_apply_oracle())
def l22_dedup_apply(spark, sf_dir):
    """END-TO-END dedup application — the step a training pipeline
    actually ships: documents → LSH pair graph → connected components →
    keep one doc per near-dup cluster, pass uniques through.

    Spark shape: the corpus joins the (tiny relative to corpus) cluster
    label table once, left + filter — documents themselves are never
    shuffled by the clustering loop (labels are doc_id/cluster_id longs
    only).  At 100 TB the label table is a few % of doc count × 16
    bytes, broadcastable or a cheap shuffle join on the long key, and
    the kept corpus streams out without touching text bytes twice.
    """
    (docs,) = T(spark, sf_dir, "documents")
    clusters = _propagate_clusters(minhash_lsh_pairs_plan(spread(docs)))
    c = clusters.select("doc_id", "cluster_id").alias("c")
    d = docs.alias("d")
    return (
        d.join(c, F.col("d.doc_id") == F.col("c.doc_id"), "left")
        .filter(
            F.col("c.doc_id").isNull()
            | (F.col("c.cluster_id") == F.col("d.doc_id"))
        )
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("d.source").alias("source"),
            F.col("d.lang").alias("lang"),
            F.when(F.col("c.doc_id").isNull(), "unique")
            .otherwise("cluster_keeper")
            .alias("keep_reason"),
        )
    )


def _minhash_estimate_oracle() -> str:
    lanes = " + ".join(
        f"CASE WHEN a.h{h} = b.h{h} THEN 1 ELSE 0 END"
        for h in range(NUM_BANDS * ROWS_PER_BAND)
    )
    return f"""
    WITH {_lsh_ctes()},
    pairs AS ({_LSH_PAIR_SELECT})
    SELECT p.doc_a, p.doc_b,
           CAST(({lanes}) AS DOUBLE) / {NUM_BANDS * ROWS_PER_BAND} AS est_jaccard
    FROM pairs p
    JOIN mh a ON a.doc_id = p.doc_a
    JOIN mh b ON b.doc_id = p.doc_b
    """


@register("l26_minhash_estimate", oracle=_minhash_estimate_oracle())
def l26_minhash_estimate(spark, sf_dir):
    """Signature-based Jaccard ESTIMATION for the LSH candidate pairs —
    the verification stage a 100 TB dedup actually runs first: the
    matching-lane fraction of two 16-lane minhash signatures is an
    unbiased Jaccard estimate, computed entirely from the (narrow,
    materialized-once) signature table.  Exact n-gram verification
    (l2c) then touches document text only for pairs that survive this
    screen — signatures are ~100 bytes/doc vs KBs of text, so the
    expensive re-tokenization join shrinks by the screen's rejection
    rate.

    Spark shape (r3): signatures ride the band unpivot, so the banded
    self-join yields both sides' lanes in-row and the estimate is a
    column expression over the joined frame — ONE shuffle join + one
    distinct, no text in any shuffle.  x/16 is exact in binary, so the
    DOUBLE hashes identically on both engines.
    """
    (docs,) = T(spark, sf_dir, "documents")
    sigs = minhash_signatures_plan(spread(docs))
    n_lanes = NUM_BANDS * ROWS_PER_BAND
    # Carry the full signature THROUGH the band unpivot instead of
    # joining it back by doc_id afterwards: the banded self-join then
    # delivers both sides' signatures in-row and the estimate is a
    # column expression — one shuffle join + one distinct, versus the
    # join-back shape's three shuffle joins (which also tripped Spark's
    # no-in-flight-cache-dedup behavior: three subtrees of one job
    # racing to compute the persisted signature pipeline, measured 17 s
    # vs ~2 s at sf0.1).  Payload cost: 16×8-char lanes ≈ 130 B/row
    # through the band exchange — noise next to the join itself.
    sig = F.struct(*[F.col(f"h{h}") for h in range(n_lanes)])
    with_sig = sigs.select(
        "doc_id", sig.alias("sig"), *[f"h{h}" for h in range(n_lanes)]
    )
    # shared banding step (null-propagating keys, persist+materialize),
    # with the signature struct carried through the unpivot
    bands = _band_frame(with_sig, carry=("sig",))
    a, b = bands.alias("a"), bands.alias("b")
    matches = sum(
        F.when(
            F.col("a.sig").getField(f"h{h}") == F.col("b.sig").getField(f"h{h}"), 1
        ).otherwise(0)
        for h in range(n_lanes)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches.cast("double") / n_lanes).alias("est_jaccard"),
        )
        .distinct()
    )


@register(
    "l27_passage_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, ord
      FROM (SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents)
    ),
    chunks AS (
      SELECT doc_id, (ord - 1) // 5 AS chunk_idx,
             string_agg(tok, ' ' ORDER BY ord) AS passage
      FROM toks GROUP BY doc_id, (ord - 1) // 5
      HAVING COUNT(*) = 5
    )
    SELECT md5(passage) AS passage_hash,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM chunks GROUP BY passage HAVING COUNT(*) > 1
    """,
)
def l27_passage_dedup(spark, sf_dir):
    """Passage-level exact dedup: split every document into fixed
    5-token passages and report passages that occur more than once
    across the corpus (hash, occurrence count, earliest doc).  This is
    the sub-document sibling of l1 exact dedup — training pipelines
    drop repeated boilerplate passages (headers, licenses, navboxes)
    that whole-document hashing can't see.

    Scale shape: tokenize+chunk is a narrow explode (~n_tokens rows,
    but each row is a handful of words); the ONLY shuffles are the two
    hash aggregates, and the second one keys on the passage string
    (could key on md5 for a fixed 32-byte shuffle key — kept as the
    string so Spark and the oracle group identically, and passages are
    ≤ ~40 bytes anyway).  Chunking is per-document, so no cross-doc
    coordination; at 100 TB this pipelines per partition with
    map-side partial aggregation doing most of the dedup.

    Oracle note: the chunk index uses DuckDB's ``//`` integer division —
    plain ``/`` on integers is FLOAT division there, and its
    double->BIGINT cast rounds (0.8 -> 1), which would shift chunk
    boundaries off Spark's truncating ``cast("bigint")``.
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    chunks = (
        toks.groupBy(
            "doc_id", (F.col("pos") / 5).cast("bigint").alias("chunk_idx")
        )
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("passage"),
            F.count("*").alias("n_toks"),
        )
        .filter(F.col("n_toks") == 5)
    )
    return (
        chunks.groupBy("passage")
        .agg(F.count("*").alias("n_occurrences"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_occurrences") > 1)
        .select(F.md5("passage").alias("passage_hash"), "n_occurrences", "first_doc")
    )


@register(
    "l28_incremental_dedup",
    oracle="""
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.source IN ('src0', 'src1')
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.source NOT IN ('src0', 'src1')
          AND md5(c.text) = md5(d.text)
      )
    """,
)
def l28_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) dedup: admit documents from an
    incoming batch (sources src0/src1) only if their content hash does
    not already exist in the standing corpus (every other source) — the
    day-2 operation of a training-data pipeline, where each new crawl
    is deduplicated AGAINST the corpus rather than only within itself.

    Plan: corpus side reduces to DISTINCT 32-byte md5 keys FIRST (the
    cheapest possible representation — at 100 TB the hash set is ~3% of
    corpus bytes and often broadcastable after the distinct), then a
    LEFT ANTI join on the hash.  No full-text ever shuffles; AQE turns
    the anti join into a broadcast when the corpus hash set is small
    enough.  Interval-idempotent: running it twice admits nothing new.
    """
    (docs,) = T(spark, sf_dir, "documents")
    incoming_src = F.col("source").isin("src0", "src1")
    incoming = docs.filter(incoming_src).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    corpus_hashes = (
        docs.filter(~incoming_src).select(F.md5("text").alias("h")).distinct()
    )
    return (
        incoming.join(corpus_hashes, "h", "left_anti")
        .select("doc_id", "source")
    )


@register(
    "l29_dedup_stats",
    oracle="""
    WITH per_text AS (
      SELECT source, md5(text) AS h, COUNT(*) AS n, MIN(n_chars) AS c
      FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_distinct,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dups,
           CAST(SUM(c * (n - 1)) AS BIGINT) AS dup_chars,
           CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_ratio
    FROM per_text GROUP BY source
    """,
)
def l29_dedup_stats(spark, sf_dir):
    """Per-source dedup statistics: doc counts, distinct-text counts,
    duplicate counts, and duplicated characters (what dedup would save)
    — the report a pipeline owner reads before deciding dedup settings.

    Plan: two shuffles — (source, md5) partial+final count (shuffle key
    is source + 32-byte hash, never text), then a per-source rollup
    whose key cardinality is |sources| (tiny).  At 100 TB both
    aggregates stay partial/final with bounded state; document text
    never leaves the scan stage.
    """
    (docs,) = T(spark, sf_dir, "documents")
    per_text = docs.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").alias("n"), F.min("n_chars").alias("c")
    )
    n_docs = F.sum("n")
    n_distinct = F.count("*")
    return per_text.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_distinct.alias("n_distinct"),
        (n_docs - n_distinct).alias("n_dups"),
        F.sum(F.col("c") * (F.col("n") - 1)).alias("dup_chars"),
        ((n_docs - n_distinct).cast("double") / n_docs.cast("double")).alias("dup_ratio"),
    )


def _editdist_oracle() -> str:
    return f"""
    WITH {_lsh_ctes()},
    pairs AS ({_LSH_PAIR_SELECT}),
    j AS (
      SELECT p.doc_a, p.doc_b,
             levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200)) AS edit_dist,
             GREATEST(LEAST(length(da.text), 200), LEAST(length(db.text), 200), 1) AS max_len
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(edit_dist AS BIGINT) AS edit_dist,
           1.0 - CAST(edit_dist AS DOUBLE) / max_len AS edit_sim
    FROM j
    WHERE 1.0 - CAST(edit_dist AS DOUBLE) / max_len >= 0.5
    """


@register("l33_editdist_verify", oracle=_editdist_oracle())
def l33_editdist_verify(spark, sf_dir):
    """Edit-distance VERIFICATION of the LSH candidate pairs — the final
    stage of the classic dedup funnel (screen by signature → estimate by
    lanes → verify by text): normalized Levenshtein similarity over the
    first 200 chars, keeping pairs at >= 0.5 similarity.  Reference
    surface: beyond the reference (BASELINE.json north_star dedup
    family); Trino itself ships levenshtein_distance as a builtin.

    Scale design: Levenshtein is O(len²) PER PAIR, so it must only ever
    run on the LSH-screened candidate set, never the corpus² — and on a
    bounded prefix (200 chars → ≤40k cell DP, JVM codegen via
    F.levenshtein, no Python).  The texts join back by doc_id is two
    hash joins sized by the candidate count, and only the 200-char
    prefix (not the full document) enters the shuffle.  Both engines
    compute the same unit-cost DP, and the similarity arithmetic is
    exact IEEE division → hash-identical.
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    return editdist_verify_plan(minhash_lsh_pairs_plan(docs), docs)


def editdist_verify_plan(pairs, docs):
    """The verify STAGE alone: (doc_a, doc_b) candidate pairs + a doc
    corpus → pairs that survive normalized-Levenshtein >= 0.5 over
    200-char prefixes.  Factored from l33 so the scaling probe can
    clock it over a pre-materialized pair frame (the self-contained
    entry recomputes the LSH funnel it verifies, which dominates its
    wall time and hides the verify stage's own exponent)."""
    prefixes = docs.select(
        "doc_id",
        F.substring("text", 1, 200).alias("t200"),
        F.least(F.length("text"), F.lit(200)).alias("tlen"),
    )
    max_len = F.greatest(F.col("da.tlen"), F.col("db.tlen"), F.lit(1))
    j = (
        pairs.join(
            prefixes.alias("da"), F.col("doc_a") == F.col("da.doc_id")
        )
        .join(prefixes.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        # Spark-side DP pruning, IMPLIED by the final sim >= 0.5 filter
        # (so the kept rows — and the oracle — are unchanged):
        # 1. edit_dist >= |len_a - len_b|, so a pair whose length gap
        #    alone exceeds 0.5*max_len can never pass — skip its DP;
        .filter(
            (F.abs(F.col("da.tlen") - F.col("db.tlen")) * 2) <= max_len
        )
        .select(
            "doc_a",
            "doc_b",
            # 2. banded DP: prefixes are <= 200 chars, so every passing
            #    pair has dist <= 0.5*max_len <= 100 — the threshold
            #    form computes a 2*100+1 band and early-exits, returning
            #    -1 above it (those rows fail sim >= 0.5 by construction
            #    and are dropped by the dist >= 0 guard below)
            F.levenshtein(F.col("da.t200"), F.col("db.t200"), 100)
            .cast("bigint")
            .alias("edit_dist"),
            max_len.alias("max_len"),
        )
    )
    sim = F.lit(1.0) - F.col("edit_dist").cast("double") / F.col("max_len")
    return (
        j.select("doc_a", "doc_b", "edit_dist", sim.alias("edit_sim"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_sim") >= 0.5))
    )


@register(
    "l34_rare_ngram_overlap",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1] || ' '
               || ws[CAST(i AS INTEGER) + 2] || ' ' || ws[CAST(i AS INTEGER) + 3]
               || ' ' || ws[CAST(i AS INTEGER) + 4] AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
           LATERAL unnest(range(1, GREATEST(len(ws) - 4, 0) + 1)) AS u(i)
    ),
    rare AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 5
    ),
    hits AS (SELECT gr.doc_id, gr.g FROM grams gr JOIN rare USING (g))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM hits a JOIN hits b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def l34_rare_ngram_overlap(spark, sf_dir):
    """Cross-document duplicated-span detection via RARE shared word
    5-grams — the inverted-index primitive large dedup pipelines use to
    find copied passages that whole-document MinHash misses (a 50-word
    quote inside two otherwise-different documents).

    Scale design: the document-frequency cap (2..5) IS the algorithm —
    the pair join's work is Σ_g df(g)² ≤ 25·|rare grams|, and the
    stopword-ish grams that would explode the self-join (df in the
    thousands) are excluded up front, exactly the rare-gram blocking
    trick production near-dup systems use.  The posting list is
    persisted once (opcache-tracked) and reused for both join sides;
    grams never leave their hash partition between the distinct, the
    df-filter, and the pair join (same key, one exchange reused).
    Reference surface: pass-through SELECT like any other
    (client.go:501-617); the operator itself is beyond the reference.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return rare_ngram_overlap_plan(spread(docs))


def rare_ngram_overlap_plan(docs: DataFrame) -> DataFrame:
    """The l34 plan over any (doc_id, text) frame — shared with the
    scaling probe (tools/scaling_check.py)."""
    from mcp_trino_spark.operators.opcache import persist_tracked

    # per-doc gram dedup in-row via array_distinct — same r15 rewrite
    # as l2c's gram frame: rows carry doc_id, so per-doc distinctness
    # is global distinctness, and the corpus-wide distinct shuffle
    # the old explode→.distinct() paid disappears
    ws = F.col("ws")
    n_idx = F.greatest(F.size(ws) - 4, F.lit(0))
    idx = F.when(n_idx >= 1, F.sequence(F.lit(1), n_idx)).otherwise(
        F.array().cast("array<int>")
    )
    gram_arr = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + k) for k in range(5)]),
    )
    grams = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).select("doc_id", F.explode(F.array_distinct(gram_arr)).alias("g"))
    rare = (
        grams.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(2, 5))
        .select("g")
    )
    hits = persist_tracked(grams.join(rare, "g").select("doc_id", "g"))
    a, b = hits.alias("a"), hits.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )


def _lm_contamination_oracle() -> str:
    phrases = ", ".join(f"('{p}')" for p in BENCHMARK_PHRASES)
    wlen = "length(ws[CAST(i AS INTEGER)]) > 0 AND length(ws[CAST(i AS INTEGER) + 1]) > 0"
    pair = "ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i AS INTEGER) + 1] AS w2"
    rng = "LATERAL unnest(range(1, GREATEST(len(ws) - 1, 0) + 1)) AS u(i)"
    return f"""
    WITH bench AS (
      SELECT string_split(lower(phrase), ' ') AS ws
      FROM (VALUES {phrases}) AS b(phrase)
    ),
    bpairs AS (
      SELECT {pair} FROM bench, {rng} WHERE {wlen}
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bpairs GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c) AS cp FROM c2 GROUP BY w1),
    v AS (
      SELECT COUNT(DISTINCT w) AS nv
      FROM (SELECT unnest(ws) AS w FROM bench) WHERE length(w) > 0
    ),
    lpb AS (
      SELECT c2.w1, c2.w2,
             ROUND(ln((c2.c + 1.0) / (c1.cp + v.nv)), 6) AS lp
      FROM c2 JOIN c1 ON c2.w1 = c1.w1, v
    ),
    dwords AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    dpairs AS (
      SELECT doc_id, {pair} FROM dwords, {rng} WHERE {wlen}
    ),
    scored AS (
      SELECT d.doc_id,
             COALESCE(
               lpb.lp,
               CASE WHEN c1.cp IS NOT NULL
                    THEN ROUND(ln(1.0 / (c1.cp + v.nv)), 6)
                    ELSE ROUND(ln(1.0 / v.nv), 6) END
             ) AS lp
      FROM dpairs d
      LEFT JOIN lpb ON d.w1 = lpb.w1 AND d.w2 = lpb.w2
      LEFT JOIN c1 ON d.w1 = c1.w1, v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) AS sum_lp,
           (SUM(CAST(lp AS DECIMAL(25,6))) > -6 * COUNT(*)) AS contaminated
    FROM scored GROUP BY doc_id
    """


@register("l37_ngram_lm_contamination", oracle=_lm_contamination_oracle())
def l37_ngram_lm_contamination(spark, sf_dir):
    """Soft (LM-score) benchmark contamination: score every training
    document's word bigrams under a bigram language model built from
    the eval set, add-1-smoothed over the eval vocabulary.  l16's exact
    {16}-gram membership catches verbatim inclusion; this perplexity-
    style screen also surfaces lightly-edited paraphrases — a document
    whose mean bigram log-likelihood under the benchmark LM sits near
    benchmark-internal levels (here: mean lp > -6, compared as the
    exact decimal sum vs -6·n) is flagged.

    Scale shape: the benchmark side is tiny (eval sets are KB-MB), so
    the bigram-logprob and prefix-count tables BROADCAST; the corpus
    streams its bigram windows through two broadcast left joins and one
    partial+final aggregate on doc_id — ONE corpus scan, text bytes
    never shuffled (same contract as l16).  At 100 TB the LM tables are
    |eval vocab|²-bounded (MBs); corpus cost is the tokenize + the
    doc_id aggregate.

    Cross-engine exactness: all LM probabilities divide exact integer
    counts (identical IEEE doubles), ln() is IEEE-identical on
    identical inputs (l24/l28 precedent), each logp rounds to 6 places,
    the per-doc sum runs in exact DECIMAL (dsum/DSUM), and the
    threshold compares the ROUNDED mean on both engines.

    Reference parity: beyond the reference surface (mandated pipeline
    extension, BASELINE.json north_star), same family as l16/l28.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return lm_contamination_plan(spread(docs))


def lm_contamination_plan(docs: DataFrame) -> DataFrame:
    """l37's plan over an arbitrary (doc_id, text) frame — factored out
    so tools/scaling_check.py can drive it with replica corpora (the
    eval-set LM side is fixed; corpus cost must scale linearly)."""
    spark_b = docs.sparkSession
    bench = spark_b.createDataFrame(
        [(p,) for p in BENCHMARK_PHRASES], "phrase STRING"
    ).select(F.split(F.lower("phrase"), " ").alias("ws"))

    def pairs(frame, *keep):
        n_pairs = F.size("ws") - 1
        idx = F.when(n_pairs >= 1, F.sequence(F.lit(1), n_pairs)).otherwise(
            F.array().cast("array<int>")
        )
        return (
            frame.select(*keep, "ws", F.explode(idx).alias("i"))
            .filter(
                (F.length(F.element_at("ws", F.col("i"))) > 0)
                & (F.length(F.element_at("ws", F.col("i") + 1)) > 0)
            )
            .select(
                *keep,
                F.element_at("ws", F.col("i")).alias("w1"),
                F.element_at("ws", F.col("i") + 1).alias("w2"),
            )
        )

    c2 = pairs(bench).groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("cp"))
    v = (
        bench.select(F.explode("ws").alias("w"))
        .filter(F.length("w") > 0)
        .agg(F.countDistinct("w").alias("nv"))
    )
    lpb = (
        c2.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("cp") + F.col("nv"))), 6
            ).alias("lp"),
        )
    )
    dwords = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    scored = (
        pairs(dwords, "doc_id")
        .join(F.broadcast(lpb), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.coalesce(
                F.col("lp"),
                F.when(
                    F.col("cp").isNotNull(),
                    F.round(F.log(1.0 / (F.col("cp") + F.col("nv"))), 6),
                ).otherwise(F.round(F.log(1.0 / F.col("nv")), 6)),
            ).alias("lp"),
        )
    )
    # the per-doc score surfaces as the EXACT decimal sum (decimal ->
    # double conversion is deterministic), never a rounded mean: a mean
    # can land exactly on a 1e-6 rounding boundary where Spark's and
    # DuckDB's ROUND disagree (hit in testing: sum/50 = -2.6383295).
    # The threshold likewise compares decimals: sum > -6 * n  <=>
    # mean > -6, exact on both engines.
    from mcp_trino_spark.registry import dec

    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(dec("lp")).cast("double").alias("sum_lp"),
        (
            F.sum(dec("lp"))
            > (F.count("*") * F.lit(-6)).cast("decimal(25,6)")
        ).alias("contaminated"),
    )


#: l38 exact-substring dedup parameters: window width in WORDS, the
#: anchor sampling rate (first hex nibble of md5(word) == '0' → 1/16 of
#: positions), and the span document-frequency cap that bounds the pair
#: join (boilerplate shared by hundreds of docs is not dedup signal).
SUBSTR_W = 8
SUBSTR_DF_CAP = 10


def _substring_dedup_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    anch AS (
      SELECT DISTINCT doc_id,
             array_to_string(
               ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + {SUBSTR_W - 1}],
               ' ') AS span
      FROM w, LATERAL unnest(range(1, GREATEST(len(ws) - {SUBSTR_W - 1}, 0) + 1))
              AS u(i)
      WHERE substr(md5(ws[CAST(i AS INTEGER)]), 1, 1) = '0'
    ),
    capped AS (
      SELECT span FROM anch GROUP BY span
      HAVING COUNT(*) BETWEEN 2 AND {SUBSTR_DF_CAP}
    ),
    hits AS (SELECT a.doc_id, a.span FROM anch a JOIN capped USING (span))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_spans
    FROM hits a JOIN hits b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


@register("l38_substring_dedup", oracle=_substring_dedup_oracle())
def l38_substring_dedup(spark, sf_dir):
    """EXACT substring-level dedup — the distributed approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): find document pairs sharing a
    VERBATIM >=8-word span, the copied-passage signal that document-
    level MinHash (l2) misses and that l34's rare-5-gram overlap only
    approximates.

    Shape (sort/group-based, not a band join): every document emits
    fingerprints of the 8-word windows starting at CONTENT-DEFINED
    anchor positions (words whose md5 starts with '0' — 1/16 of
    positions).  Anchoring is what makes the scheme alignment-robust
    without a suffix sort: the anchor decision depends only on the
    word itself, so two documents sharing a long enough verbatim span
    share the anchors inside it and therefore emit IDENTICAL windows —
    a span comfortably longer than the window (the expected anchor
    gap is 16 words) is caught with high probability,
    and every shared window found is an exact, verified copy (no
    false positives at all after verification).

    Scale design: the index row is (doc_id, fp, span) — the span is 8
    words (~100 B), never the document; text bytes beyond the spans
    are never shuffled.  The df cap (2..10) bounds the pair join at
    Σdf² ≤ 100·|spans| exactly as in l34; candidates group on the
    16-byte fp and are VERIFIED by comparing the carried span strings
    (md5-collision-proof — the oracle joins on raw spans, so a
    collision would be a hash mismatch).  One shuffle builds the
    distinct span index, the df filter reuses its partitioning, and
    the pair join + pair aggregate are one more exchange each.
    Reference surface: pass-through SELECT (client.go:501-617); the
    operator itself is beyond the reference (mandated pipeline
    extension).
    """
    (docs,) = T(spark, sf_dir, "documents")
    return substring_dedup_plan(spread(docs))


def anchored_spans(docs: DataFrame) -> DataFrame:
    """Raw anchored-window rows (doc_id, fp, span) for any
    (doc_id, text) frame — the STATELESS kernel of l38, shared with
    the streaming contamination screen (streaming/ops.py), which is
    why it carries no distinct/persist: every op here is per-row, so
    the same function applies unchanged to a streaming DataFrame."""
    ws = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    pos = ws.select(
        "doc_id", "ws", F.posexplode("ws").alias("i0", "w")
    )
    return (
        pos.filter(
            (F.substring(F.md5("w"), 1, 1) == "0")
            & (F.col("i0") + SUBSTR_W <= F.size("ws"))
        )
        .select(
            "doc_id",
            F.array_join(
                F.slice("ws", F.col("i0") + 1, SUBSTR_W), " "
            ).alias("span"),
        )
        .select("doc_id", F.md5("span").alias("fp"), "span")
    )


def anchored_span_index(docs: DataFrame) -> DataFrame:
    """DISTINCT anchored-window rows (doc_id, fp, span) — l38's index
    side.  Unlike ``anchored_spans`` (the per-occurrence streaming
    kernel above), the index needs each span once per doc, and rows
    carry doc_id, so per-doc dedup IS global dedup: build the span
    list as an array, ``array_distinct`` in-row, explode — no
    corpus-wide distinct shuffle (r15; measured 1.09 s → 0.68 s for
    the index frame alone at sf0.1, identical rows)."""
    ws = F.col("ws")
    spans = F.transform(
        F.filter(
            F.sequence(F.lit(0), F.size(ws) - 1),
            lambda i: (
                F.substring(F.md5(F.element_at(ws, i + 1)), 1, 1) == "0"
            )
            & (i + SUBSTR_W <= F.size(ws)),
        ),
        lambda i: F.array_join(F.slice(ws, i + 1, SUBSTR_W), " "),
    )
    return (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .select("doc_id", F.explode(F.array_distinct(spans)).alias("span"))
        .select("doc_id", F.md5("span").alias("fp"), "span")
    )


def substring_dedup_plan(docs: DataFrame) -> DataFrame:
    """The l38 plan over any (doc_id, text) frame — shared with the
    scaling probe (tools/scaling_check.py)."""
    from mcp_trino_spark.operators.opcache import persist_tracked

    spans = anchored_span_index(docs)
    spans = persist_tracked(spans)
    capped = (
        spans.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SUBSTR_DF_CAP))
        .select("fp")
    )
    hits = spans.join(capped, "fp")
    return (
        hits.alias("a")
        .join(
            hits.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # exact-substring VERIFICATION on candidates only: a (vanishing)
        # md5 collision would pair different spans — drop it
        .filter(F.col("a.span") == F.col("b.span"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_spans"))
    )


def bloom_decontamination_plan(docs: DataFrame) -> DataFrame:
    """Frame-parameterized l39 plan (docs: doc_id, text) — the probe in
    tools/scaling_check.py drives it on rotation replicas."""
    spark = docs.sparkSession
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bench = spark.createDataFrame(
        [(p,) for p in BENCHMARK_PHRASES], "phrase STRING"
    )
    n_b = F.greatest(F.length("phrase") - (DECON_GRAM - 1), F.lit(1))
    bgrams = (
        bench.filter(F.length("phrase") >= DECON_GRAM)
        .select(F.explode(F.sequence(F.lit(1), n_b)).alias("i"), "phrase")
        .select(F.expr(f"substr(phrase, i, {DECON_GRAM})").alias("g"))
        .distinct()
    )

    K = 4

    def _probes(h_int64):
        """(h1, h2) probe bases from JVM-computed xxhash64 values —
        the gram→int64 hashing stays in whole-stage codegen on BOTH
        the build and probe sides; only 8-byte hashes ever cross the
        Arrow boundary (16-char gram strings through Arrow measured
        ~9x slower end-to-end)."""
        d = h_int64.astype(np.uint64)
        h1 = d >> np.uint64(32)
        h2 = (d & np.uint64(0xFFFFFFFF)) | np.uint64(1)  # odd → full-period
        return h1, h2

    bh = np.array(
        [r["h"] for r in bgrams.select(F.xxhash64("g").alias("h")).collect()],
        dtype=np.int64,
    )  # eval-set-sized metadata
    m_bits = 1 << max(10, (max(len(bh), 1) * 16).bit_length())
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    h1, h2 = _probes(bh)
    for i in range(K):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        np.bitwise_or.at(
            words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    bloom_bc = spark.sparkContext.broadcast(words.tobytes())
    m_final = m_bits

    def _bloom_hit_impl(s):
        bits = np.frombuffer(bloom_bc.value, dtype=np.uint64)
        h1, h2 = _probes(s.to_numpy(dtype=np.int64))
        hit = np.ones(len(s), dtype=bool)
        for i in range(K):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_final)
            word = bits[(pos >> np.uint64(6)).astype(np.int64)]
            hit &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(hit)

    _bloom_hit_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4): InferFiltersFromConstraints was
    # observed copying this predicate through the equi-join onto the
    # BENCHMARK side — a redundant ArrowEvalPython pass over the exact
    # gram set the filter was built from (every gram passes; a Bloom
    # filter has no false negatives on its build set).  The marker only
    # forbids the optimizer from duplicating/moving the call; the
    # corpus-side filter sits exactly where it is written, so results
    # are unchanged.
    bloom_hit = pandas_udf(_bloom_hit_impl, "boolean").asNondeterministic()

    n_d = F.greatest(F.length("text") - (DECON_GRAM - 1), F.lit(1))
    dgrams = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), n_d)).alias("i"), "text"
    ).select("doc_id", F.expr(f"substr(text, i, {DECON_GRAM})").alias("g"))
    # Bloom prefilter (no shuffle; gram hashing JVM-side) → exact
    # verify on the survivors (broadcast at this scale; at eval-set
    # sizes past broadcast the candidate set is small enough for a
    # shuffle join)
    return (
        dgrams.filter(bloom_hit(F.xxhash64("g")))
        .join(F.broadcast(bgrams), "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )


@register("l39_bloom_decontamination", oracle=_decon_oracle())
def l39_bloom_decontamination(spark, sf_dir):
    """Benchmark decontamination behind a BLOOM prefilter — l16's scale
    path when the eval-set gram table outgrows an exact broadcast set.

    l16 broadcasts the exact benchmark gram SET (fine while eval sets
    are KB–MB; the broadcast grows linearly with the eval corpus).
    This variant builds a FIXED-SIZE Bloom filter over the benchmark
    grams — JVM-side xxhash64 values split Kirsch-Mitzenmacher style
    into ``h1 + i·h2`` probes over an m-bit numpy bitset — and ships
    ONLY the bitset to executors (a Spark broadcast, KBs regardless
    of gram count).  Gram hashing stays in whole-stage codegen on
    both sides; the Arrow boundary carries 8-byte hashes, and the
    corpus gram stream drops non-members at a numpy-vectorized
    boolean UDF with zero shuffle.  Only the (tiny) candidate gram
    set reaches the exact verification join, so Bloom false positives
    cannot reach the output — the result is EXACTLY l16's, which is
    why both share one DuckDB oracle.

    Scale shape at 100 TB: corpus text never shuffles; the bitset is
    sized 16 bits/gram (~0.2% FP at k=4), so a 1e9-gram eval corpus
    is a 2 GB broadcast where the exact set would be tens of GB — and
    m is a knob, trading FP-rate (wasted exact-verify work, never
    correctness) for memory.  The benchmark-side collect is
    eval-set-metadata-sized, the same budget l16's broadcast spends.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return bloom_decontamination_plan(spread(docs))


_DECONTAMINATE_SQL = re.compile(
    r"(?is)(TABLE\s*\(\s*)?\bdecontaminate\s*\(\s*"
    r"'(?P<table>[A-Za-z_][\w.]*)'\s*"
    r"(?:,\s*'(?P<mode>exact|bloom)'\s*)?\)"
)


def rewrite_decontaminate(spark, q: str, created_views=None) -> str:
    """SQL front door for the decontamination plans (VERDICT r12 #6 —
    l16/l39 were Python-plan-only, so a trino-dialect user had no
    spelling that reached them): ``decontaminate('corpus_table')``
    or ``TABLE(decontaminate('t', 'bloom'))`` in a FROM clause
    materializes the l16 exact plan (default) or the l39
    Bloom-prefiltered plan over the named table and splices a temp
    view yielding (doc_id, n_hit_grams).  The table must expose
    doc_id and text columns; the mode argument is a literal, mirroring
    table_changes' literal-version contract (timetravel.py).  Both
    plans keep their certified shapes — broadcast semi-join, zero
    corpus shuffle before the per-doc count (the l39 path additionally
    plan-guarded no-SortMergeJoin in tests/test_llm_frontdoor.py)."""
    import uuid

    from mcp_trino_spark.trino_compat import _code_mask

    mask = _code_mask(q)
    out, last = [], 0
    for m in _DECONTAMINATE_SQL.finditer(q):
        head = m.start(1) if m.group(1) else m.start()
        if not mask[head]:
            continue
        end = m.end()
        if m.group(1):  # consume the TABLE( wrapper's closing paren
            closing = re.match(r"\s*\)", q[end:])
            if closing is None:
                raise ValueError("malformed TABLE(decontaminate(...)) call")
            end += closing.end()
        table = m.group("table")
        mode = (m.group("mode") or "exact").lower()
        docs = spark.table(table).select("doc_id", "text")
        plan = (
            bloom_decontamination_plan(docs)
            if mode == "bloom"
            else exact_decontamination_plan(docs)
        )
        view = f"__decon_{mode}_{uuid.uuid4().hex[:8]}"
        plan.createOrReplaceTempView(view)
        if created_views is not None:
            created_views.append(view)
        out.append(q[last : m.start()])
        out.append(view)
        last = end
    out.append(q[last:])
    return "".join(out)
