"""Text analysis for LLM training-data pipelines — SURVEY §2.10 (L5-L8)
plus language-ID, quality scoring, token counting, and document
fingerprinting.

All hot-path expressions are built-in column functions (JVM codegen);
the only Python-executed operator is the pandas-UDF tokenizer in
llm_multimodal.py (the declared UDF surface, L10).  Everything here is
a scan + narrow transforms + one hash aggregate — embarrassingly
parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_trino_spark.operators._util import T, spread
from mcp_trino_spark.registry import DAVG, DSUM, dsum, register

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic (public common-word lists, truncated to 8 words each).
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "por"],
}

#: ASCII whitespace, spelled as an explicit class: Java \s includes
#: \x0B where RE2 (DuckDB) does not, and Python \s adds Unicode
#: spaces — three engines, three answers.  Every tokenizer/normalizer
#: regex (Spark, oracle, pandas UDF) uses this class so all paths
#: split identically on any input, not just the ASCII testdata.
WS_CLASS = r" \t\n\x0B\f\r"
WS_RE = rf"[{WS_CLASS}]+"
TOKEN_REGEX = rf"[A-Za-z0-9]+|[^A-Za-z0-9{WS_CLASS}]"  # BPE-ish: word runs or single punct

#: packing constants shared by l31 and the composed l30 pipeline —
#: change here, not in one operator
PACK_BIN_TOKENS = 2048
PACK_SHARD_DOCS = 10_000


def _norm_expr(col: str = "text"):
    """Canonical normalization (l14 and l30 must stay in lockstep):
    lowercase -> whitespace collapse -> trim."""
    return F.trim(F.regexp_replace(F.lower(col), WS_RE, " "))


def _pack_bins(toks):
    """Contiguous-fill packing over (source, shard): shared by l31 and
    l30.  ``toks`` needs doc_id, source, shard, n_tokens."""
    from pyspark.sql import Window

    w = Window.partitionBy("source", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return toks.select(
        "doc_id",
        "source",
        "shard",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(PACK_BIN_TOKENS)
        )
        .cast("bigint")
        .alias("bin_id"),
    )


def _md5_bucket(col):
    """0-255 bucket from the first md5 byte of ``col`` (as a string
    expression) — the shared deterministic-bucketing primitive behind
    l19's split and l23's stratified sampling.  Hand-expanded hex-digit
    math instead of conv() so the identical expression exists in the
    DuckDB oracles; one definition here, the SQL twins must mirror it."""
    hexmap = F.lit("0123456789abcdef")
    h = F.md5(col)
    return (F.instr(hexmap, F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(hexmap, F.substring(h, 2, 1)) - 1
    )


#: quality-filter thresholds shared by l13 and the composed l30
#: pipeline (mirrored in their oracles) — change here, not in one
QUALITY_MIN_CHARS = 50
QUALITY_MIN_ALPHA = 0.5


def _alpha_ratio(col: str = "text"):
    t = F.col(col)
    return F.length(F.regexp_replace(t, "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.greatest(F.length(t), F.lit(1))


def _quality_pred(col: str = "text"):
    """The l13/l30 quality gate: length ≥ QUALITY_MIN_CHARS and
    alphabetic ratio > QUALITY_MIN_ALPHA (C4/Gopher-rule shape)."""
    return (F.length(F.col(col)) >= QUALITY_MIN_CHARS) & (
        _alpha_ratio(col) > QUALITY_MIN_ALPHA
    )


def _shard_col():
    # exact integer division (DIV), matching the oracle's `//`: the
    # float path (doc_id/10000 in double, then floor) loses exactness
    # past 2^53 — 64-bit snowflake-style ids would shard-misassign
    return F.expr(f"doc_id DIV {PACK_SHARD_DOCS}").cast("bigint").alias("shard")


@register(
    "l5_text_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {DAVG('CAST(n_chars AS DOUBLE)')} AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
    FROM documents GROUP BY lang, source
    """,
)
def l5_text_stats(spark, sf_dir):
    (docs,) = T(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("double").cast("decimal(25,6)")).cast("double")
            / F.count(F.col("n_chars").cast("double"))
        ).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("total_words"),
    )


@register(
    "l6_regex_search",
    oracle="""
    SELECT doc_id, lang,
           len(regexp_extract_all(lower(text), 'data')) AS n_hits
    FROM documents
    WHERE regexp_matches(lower(text), 'data')
    """,
)
def l6_regex_search(spark, sf_dir):
    (docs,) = T(spark, sf_dir, "documents")
    return (
        docs.filter(F.lower(F.col("text")).rlike("data"))
        .select(
            "doc_id",
            "lang",
            F.regexp_count(F.lower(F.col("text")), F.lit("data")).alias("n_hits"),
        )
    )


@register(
    "l7_top_bigrams",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
    ),
    bigrams AS (
      SELECT lang, ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1] AS bigram
      FROM words, LATERAL unnest(range(1, GREATEST(len(ws) - 1, 0) + 1)) AS u(i)
      WHERE length(ws[CAST(i AS INTEGER)]) > 0 AND length(ws[CAST(i AS INTEGER) + 1]) > 0
    ),
    counted AS (
      SELECT lang, bigram, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, bigram ASC) AS rn
      FROM bigrams GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, rn FROM counted WHERE rn <= 5
    """,
)
def l7_top_bigrams(spark, sf_dir):
    """Top-5 word bigrams per language: split → adjacent-pair explode →
    count → windowed top-N.  The bigram explode is narrow; the single
    shuffle is the (lang, bigram) count — vocabulary-sized, not
    corpus-sized, thanks to map-side partial aggregation."""
    from pyspark.sql import Window

    (docs,) = T(spark, sf_dir, "documents")
    words = spread(docs).select("lang", F.split(F.lower("text"), " ").alias("ws"))
    # NB: F.sequence(1, 0) yields the DESCENDING [1, 0], not an empty
    # array, and element_at(ws, 0) then throws — a <2-word document
    # would crash the query; emit an empty array for it instead.
    n_pairs = F.size("ws") - 1
    pair_idx = F.when(n_pairs >= 1, F.sequence(F.lit(1), n_pairs)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = (
        words.select("lang", "ws", F.explode(pair_idx).alias("i"))
        .filter(
            (F.length(F.element_at("ws", F.col("i"))) > 0)
            & (F.length(F.element_at("ws", F.col("i") + 1)) > 0)
        )
        .select(
            "lang",
            F.concat_ws(
                " ", F.element_at("ws", F.col("i")), F.element_at("ws", F.col("i") + 1)
            ).alias("bigram"),
        )
    )
    counted = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", "n", "rn")
    )


@register(
    "l8_quality_score",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_words,
           ROUND(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                 / GREATEST(length(text), 1), 6) AS alpha_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                 / GREATEST(length(text), 1), 6) AS punct_ratio,
           CASE WHEN length(text) BETWEEN 100 AND 20000
                 AND CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                     / GREATEST(length(text), 1) > 0.7
                THEN 1 ELSE 0 END AS passes_quality
    FROM documents
    """,
)
def l8_quality_score(spark, sf_dir):
    """Heuristic quality filter: length bounds + alphabetic ratio +
    punctuation ratio — the C4/Gopher-rule shape, as pure column math."""
    (docs,) = T(spark, sf_dir, "documents")
    t = F.col("text")
    tlen = F.greatest(F.length(t), F.lit(1))
    alpha_ratio = F.length(F.regexp_replace(t, "[^A-Za-z ]", "")).cast("double") / tlen
    punct_ratio = F.length(F.regexp_replace(t, "[^.!?,;:]", "")).cast("double") / tlen
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        F.size(F.split(t, " ")).alias("n_words"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.when(
            F.length(t).between(100, 20000) & (alpha_ratio > 0.7), 1
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


def _langid_score_sql(lang: str) -> str:
    words = LANG_STOPWORDS[lang]
    hits = " + ".join(
        f"len(list_filter(ws, w -> w = '{w}'))" for w in words
    )
    return f"({hits})"


@register(
    "l8b_langid",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
             {_langid_score_sql('en')} AS score_en,
             {_langid_score_sql('de')} AS score_de,
             {_langid_score_sql('fr')} AS score_fr,
             {_langid_score_sql('es')} AS score_es
      FROM toks
    )
    SELECT doc_id, lang AS lang_true,
           CASE GREATEST(score_en, score_de, score_fr, score_es)
                WHEN score_en THEN 'en'
                WHEN score_de THEN 'de'
                WHEN score_fr THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM scores
    """,
)
def l8b_langid(spark, sf_dir):
    """Stopword-vote language ID.  Ties resolve by the fixed en>de>fr>es
    CASE order on both engines.  Pure column math over the token array —
    no UDF, no shuffle."""
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    ws = F.split(F.lower("text"), " ")
    d = docs.select("doc_id", F.col("lang").alias("lang_true"), ws.alias("ws"))

    def matcher(word: str):
        # NB: the lambda must be unary — F.filter treats a 2-arg callable
        # as (element, index) and would pass the index as `word`.
        return lambda w: w == F.lit(word)

    def score(lang: str):
        terms = [
            F.size(F.filter(F.col("ws"), matcher(word)))
            for word in LANG_STOPWORDS[lang]
        ]
        out = terms[0]
        for term in terms[1:]:
            out = out + term
        return out

    scored = d.select(
        "doc_id",
        "lang_true",
        score("en").alias("score_en"),
        score("de").alias("score_de"),
        score("fr").alias("score_fr"),
        score("es").alias("score_es"),
    )
    best = F.greatest("score_en", "score_de", "score_fr", "score_es")
    return scored.select(
        "doc_id",
        "lang_true",
        F.when(F.col("score_en") == best, "en")
        .when(F.col("score_de") == best, "de")
        .when(F.col("score_fr") == best, "fr")
        .otherwise("es")
        .alias("lang_pred"),
    )


@register(
    "l8c_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS bpe_ish_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS chars_div4_estimate
    FROM documents
    """,
)
def l8c_token_count(spark, sf_dir):
    """Token counting three ways: whitespace split, a BPE-ish regex
    (word runs + punctuation singles), and the chars/4 rule of thumb."""
    (docs,) = T(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), WS_RE)).alias("ws_tokens"),
        F.regexp_count(t, F.lit(TOKEN_REGEX)).alias("bpe_ish_tokens"),
        F.ceil(F.length(t) / 4.0).cast("bigint").alias("chars_div4_estimate"),
    )


@register(
    "l8d_fingerprint",
    oracle="""
    WITH words AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS ws
      FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(ws, w ->
                 CAST(strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS BIGINT) * 4096
                 + CAST(strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1 AS BIGINT) * 256
                 + CAST(strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1 AS BIGINT) * 16
                 + CAST(strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1 AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
    FROM words
    """,
)
def l8d_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash document fingerprint.

    Each word hashes to 16 bits via md5 hex digits (engine-independent);
    the rolling accumulator (acc*131 + x) mod 1e9+7 runs left-to-right —
    both engines define list fold order, so fingerprints match exactly.
    Detects exact and near-prefix duplicates cheaply (one narrow pass).
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    hexmap = F.lit("0123456789abcdef")

    def hex_digit(w, i):
        return (F.instr(hexmap, F.substring(F.md5(w), i, 1)) - 1).cast("bigint")

    ws = F.filter(F.split(F.lower("text"), " "), lambda w: F.length(w) > 0)
    word_vals = F.transform(
        ws,
        lambda w: hex_digit(w, 1) * 4096
        + hex_digit(w, 2) * 256
        + hex_digit(w, 3) * 16
        + hex_digit(w, 4),
    )
    fingerprint = F.aggregate(
        word_vals,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 131 + x) % 1000000007,
    )
    return docs.select("doc_id", fingerprint.alias("fingerprint"))


@register(
    "l13_training_pipeline",
    oracle="""
    WITH quality AS (
      SELECT doc_id, text, lang, source,
             length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens_ws
      FROM documents
      WHERE length(text) >= 50
        AND CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) > 0.5
    ),
    deduped AS (
      SELECT * FROM (
        SELECT q.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        FROM quality q
      ) WHERE rn = 1
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens_ws) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM deduped
    GROUP BY lang, source
    """,
)
def l13_training_pipeline(spark, sf_dir):
    """End-to-end training-data pipeline: quality filter → exact dedup →
    per-(lang, source) corpus stats — the composition the LLM-pipeline
    operators exist for, as ONE declarative plan.

    Stage shapes at 100 TB: the quality filter is a narrow scan-side
    predicate (pushes down); dedup is a shuffle on md5(text) (never a
    sort); the rollup is partial+final agg.  One shuffle for dedup, one
    for the final agg — nothing else moves.
    """
    from pyspark.sql import Window

    (docs,) = T(spark, sf_dir, "documents")
    quality = docs.filter(_quality_pred()).select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.size(F.split("text", " ")).alias("n_tokens_ws"),
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    deduped = quality.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens_ws").alias("total_tokens"),
        (F.sum(F.col("n_chars").cast("decimal(25,6)")).cast("double") / F.count("*")).alias(
            "avg_chars"
        ),
    )


@register(
    "l14_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS n_chars_norm,
           md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
)
def l14_text_normalize(spark, sf_dir):
    """Canonical text normalization: lowercase → whitespace collapse →
    trim, plus the normalized md5 used as the dedup key downstream
    (normalize-then-dedup catches case/spacing near-dups that byte-exact
    dedup misses).  Pure narrow column ops — no shuffle at all.
    """
    (docs,) = T(spark, sf_dir, "documents")
    norm = _norm_expr()
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("norm_hash"),
    )


@register(
    "l15_length_histogram",
    oracle="""
    SELECT lang,
           CAST(LEAST(FLOOR(length(text) / 500.0), 9) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs,
           MIN(length(text)) AS min_chars,
           MAX(length(text)) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def l15_length_histogram(spark, sf_dir):
    """Per-language document-length histogram (500-char buckets, top
    bucket open-ended) — the corpus-shape profile every training-data
    run starts with.  Plain partial+final aggregation: the histogram is
    computed in one pass with map-side combine, never a sort or a
    driver-side value sweep.
    """
    (docs,) = T(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.length("text") / 500.0), F.lit(9)).cast("int")
    return docs.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min(F.length("text")).alias("min_chars"),
        F.max(F.length("text")).alias("max_chars"),
    )


@register(
    "l17_repetition_score",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1] || ' '
               || ws[CAST(i AS INTEGER) + 2] AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
           LATERAL unnest(range(1, GREATEST(len(ws) - 2, 0) + 1)) AS u(i)
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct
      FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS repetition,
           CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.5
                THEN 1 ELSE 0 END AS too_repetitive
    FROM per_doc
    """,
)
def l17_repetition_score(spark, sf_dir):
    """Within-document repetition (Gopher-style filter): fraction of
    duplicated word 3-grams.  Highly repetitive documents (templated
    boilerplate, keyword stuffing) score near 1 and are dropped before
    training.  One narrow explode + one two-level aggregate per doc —
    no cross-document work at all.
    """
    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    ws = F.split(F.lower("text"), " ")
    n_grams_idx = F.greatest(F.size(ws) - 2, F.lit(0))
    idx = F.when(n_grams_idx >= 1, F.sequence(F.lit(1), n_grams_idx)).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select("doc_id", ws.alias("ws"), F.explode(idx).alias("i")).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("ws", F.col("i")),
            F.element_at("ws", F.col("i") + 1),
            F.element_at("ws", F.col("i") + 2),
        ).alias("g"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        F.round(rep, 6).alias("repetition"),
        F.when(rep > 0.5, 1).otherwise(0).alias("too_repetitive"),
    )


@register(
    "l18_mix_weights",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs, SUM(CAST(n_chars AS BIGINT)) AS n_chars_total
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_chars_total) AS total_chars, COUNT(*) AS n_sources FROM counts)
    SELECT c.source, c.n_docs, CAST(c.n_chars_total AS BIGINT) AS n_chars_total,
           ROUND(CAST(c.n_chars_total AS DOUBLE) / t.total_chars, 9) AS actual_share,
           ROUND((1.0 / t.n_sources) / (CAST(c.n_chars_total AS DOUBLE) / t.total_chars), 9)
             AS uniform_weight
    FROM counts c CROSS JOIN tot t
    """,
)
def l18_mix_weights(spark, sf_dir):
    """Data-mixing weights: per-source char share and the sampling
    weight that would rebalance the corpus to a uniform source mix —
    how training mixtures are tuned.  The totals side is one tiny row
    (broadcast); everything else is a single aggregate over sources.
    """
    (docs,) = T(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("n_chars_total"),
    )
    tot = counts.agg(
        F.sum("n_chars_total").alias("total_chars"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_chars_total").cast("double") / F.col("total_chars")
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        F.round(share, 9).alias("actual_share"),
        F.round((F.lit(1.0) / F.col("n_sources")) / share, 9).alias("uniform_weight"),
    )


@register(
    "l19_hash_split",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 230 THEN 'train'
                WHEN bucket < 243 THEN 'val'
                ELSE 'test' END AS split
    FROM tagged
    """,
)
def l19_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (~90/5/5) from the first md5
    byte of the document id — stable across runs, engines and cluster
    sizes (no RNG, no ordering dependence), the property an eval split
    must have.  Pure narrow column math; scales trivially.
    """
    (docs,) = T(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id").cast("string"))
    return docs.select(
        "doc_id",
        F.when(bucket < 230, "train")
        .when(bucket < 243, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "l20_pii_scrub",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text_pii
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text_pii,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS scrubbed,
           (length(text_pii) - length(regexp_replace(text_pii,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g')) > 0) AS had_email
    FROM synth
    """,
)
def l20_pii_scrub(spark, sf_dir):
    """PII scrubbing: redact emails, phone numbers and IPs with typed
    placeholders — the safety-filtering stage of a training pipeline.
    (Synthetic PII is appended first since the testdata contains none;
    both engines transform identical inputs.)  Chained regexp_replace
    is pure codegen'd column work — no Python, no shuffle.
    """
    (docs,) = T(spark, sf_dir, "documents")
    text_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text_pii, email_re, "<EMAIL>"),
            r"\b\d{3}-\d{4}\b",
            "<PHONE>",
        ),
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "<IP>",
    )
    had_email = F.length(text_pii) - F.length(F.regexp_replace(text_pii, email_re, "")) > 0
    return docs.select("doc_id", scrubbed.alias("scrubbed"), had_email.alias("had_email"))


@register(
    "l23_stratified_sample",
    oracle="""
    WITH rates AS (
      SELECT DISTINCT source,
             51 * (1 + ((strpos('0123456789abcdef', substr(md5(source), 1, 1)) - 1) % 4))
               AS keep_below
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, source,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
    )
    SELECT b.doc_id, b.source,
           CAST(r.keep_below AS DOUBLE) / 256 AS sample_rate
    FROM bucketed b JOIN rates r ON b.source = r.source
    WHERE b.bucket < r.keep_below
    """,
)
def l23_stratified_sample(spark, sf_dir):
    """Deterministic per-source stratified sampling — the data-mixing
    primitive: each source gets its own keep rate (here derived from a
    hash of the source name so the entry is self-contained; in a real
    pipeline the rates table comes from l18_mix_weights), and a document
    survives iff its md5 bucket falls below the source's threshold.

    Properties a 100 TB sampler must have, all held here: no RNG (rerun
    = same sample, any cluster size), no ordering dependence, no
    per-partition state; the rates table is per-source (tiny) and
    BROADCAST to the corpus scan, so sampling is a narrow map over the
    data — zero shuffles, filter pushes to the scan.
    """
    (docs,) = T(spark, sf_dir, "documents")
    hexmap = F.lit("0123456789abcdef")
    src_rates = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                51
                * (
                    1
                    + (F.instr(hexmap, F.substring(F.md5("source"), 1, 1)) - 1) % 4
                )
            ).alias("keep_below"),
        )
    )
    bucket = _md5_bucket(F.col("doc_id").cast("string"))
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(src_rates), "source")
        .filter(F.col("bucket") < F.col("keep_below"))
        .select(
            "doc_id",
            "source",
            (F.col("keep_below").cast("double") / 256).alias("sample_rate"),
        )
    )


@register(
    "l24_tfidf",
    oracle="""
    WITH terms AS (
      SELECT doc_id, w AS term, COUNT(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      )
      WHERE length(w) >= 4
      GROUP BY doc_id, w
    ),
    df AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.term, t.tf, d.df,
           ROUND(t.tf * ln((1.0 + n.n_docs) / (1.0 + d.df)), 6) AS tfidf
    FROM terms t JOIN df d ON t.term = d.term CROSS JOIN n
    WHERE d.df >= 5
    """,
)
def l24_tfidf(spark, sf_dir):
    """TF-IDF term weighting over the corpus — the classic retrieval /
    keyword-extraction primitive of a text pipeline.

    Spark shape: tokenize (narrow explode) → per-(doc, term) counts
    (one shuffle on the compound key) → document frequencies derived
    from the SAME aggregate by a second, smaller agg on term → joined
    back.  The df table is |vocab|-sized — orders of magnitude smaller
    than the corpus — so the join back is a broadcast at any corpus
    scale where the vocabulary fits an executor (and a plain shuffle
    join on the term key beyond that).  The corpus total (n_docs) rides
    in as a broadcast scalar, never a driver round-trip.

    ROUND(…, 6) on both engines: ln() is IEEE-identical for the same
    double inputs, but the multiply order isn't guaranteed — rounding
    to 6 places makes the hash comparison exact.
    """
    (docs,) = T(spark, sf_dir, "documents")
    terms = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .filter(F.length("term") >= 4)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = terms.groupBy("term").agg(F.count("*").alias("df")).filter(F.col("df") >= 5)
    n_docs = docs.select(F.count("*").alias("n_docs"))
    return (
        terms.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "l28_unigram_logprob",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, w AS term
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      )
      WHERE length(w) > 0
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM tokens GROUP BY term),
    total AS (SELECT SUM(cnt) AS n_tokens FROM vocab),
    lp AS (
      SELECT v.term,
             ROUND(ln(CAST(v.cnt AS DOUBLE) / t.n_tokens), 6) AS logp
      FROM vocab v CROSS JOIN total t
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST({DSUM('l.logp')} AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
    FROM tokens k JOIN lp l ON k.term = l.term
    GROUP BY k.doc_id
    """,
)
def l28_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score: per-document mean log
    probability of its tokens under the corpus' own unigram
    distribution — the classic cheap perplexity proxy used to rank
    documents for training-data selection (low avg logprob = rare /
    garbled token mix).

    Spark shape: tokenize (narrow explode) → vocab counts (one shuffle
    on term) → per-term log-prob (vocab-sized, broadcast back) → per-doc
    aggregate (one shuffle on doc_id).  The corpus token stream is
    shuffled exactly twice and the text bytes never leave the scan.  At
    100 TB the vocab table is MBs (Zipf), so the join back stays a
    broadcast.

    Cross-engine exactness: ln() is IEEE-identical for identical double
    inputs (l24 precedent); each per-term logp is rounded to 6 places,
    the per-doc sum runs in exact DECIMAL on both engines (dsum/DSUM),
    and the final division result is rounded — so the value hash
    matches bit-for-bit.
    """
    (docs,) = T(spark, sf_dir, "documents")
    tokens = (
        spread(docs)
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 0)
    )
    vocab = tokens.groupBy("term").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_tokens"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("n_tokens")), 6
        ).alias("logp"),
    )
    return (
        tokens.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round((dsum("logp") / F.count("*")).cast("double"), 6).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "l31_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, CAST(doc_id // 10000 AS BIGINT) AS shard,
             len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens
      FROM documents
    ),
    cums AS (
      SELECT doc_id, source, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, source, shard, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
    FROM cums
    """,
)
def l31_sequence_packing(spark, sf_dir):
    """Sequence packing for LLM training: assign documents to
    ~2048-token training bins by contiguous fill — the deterministic,
    shuffle-light packing used when building fixed-length batches from
    variable-length documents (first-fit-by-order: a doc starts the bin
    its cumulative offset falls in).

    Plan: ONE hash shuffle on (source, shard) for the running-sum
    window; the assignment itself is narrow column math.  The shard key
    (contiguous 10k-doc-id ranges) is the scale lever: source
    cardinality alone may be single-digit at 100 TB, so each source is
    cut into deterministic id ranges that pack independently — bins
    never straddle a shard, parallelism is |sources| x |shards|, and
    the assignment stays rerun-stable at any cluster size.
    """
    (docs,) = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), WS_RE))
    toks = docs.select("doc_id", "source", _shard_col(), n_tokens.alias("n_tokens"))
    return _pack_bins(toks)


@register(
    "l32_doc_chunking",
    oracle="""
    WITH c AS (
      SELECT doc_id, text,
             unnest(range(0,
               GREATEST(CAST(CEIL((n_chars - 500) / 250.0) AS BIGINT), 0) + 1)) AS i
      FROM documents
    )
    SELECT doc_id,
           i AS chunk_id,
           i * 250 + 1 AS start_pos,
           substr(text, CAST(i * 250 + 1 AS INT), 500) AS chunk_text
    FROM c
    """,
)
def l32_doc_chunking(spark, sf_dir):
    """Sliding-window document chunking (size 500 chars, stride 250):
    every long document becomes overlapping training windows with
    recorded offsets — the context-window preparation step between raw
    documents and tokenized sequences.

    Plan: zero shuffles — sequence()+explode is a narrow generator, the
    substring math is codegen'd, and output rows stay co-partitioned
    with their source document.  Chunk count scales with document
    length, not corpus size; nothing is collected or re-keyed.
    """
    (docs,) = T(spark, sf_dir, "documents")
    n_chunks_last_idx = F.greatest(
        F.ceil((F.col("n_chars") - 500) / 250.0).cast("bigint"), F.lit(0)
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_last_idx)).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").alias("chunk_id"),
            (F.col("i") * 250 + 1).alias("start_pos"),
            F.substring(F.col("text"), (F.col("i") * 250 + 1).cast("int"), 500).alias(
                "chunk_text"
            ),
        )
    )


@register(
    "l30_prep_pipeline",
    oracle="""
    WITH quality AS (
      SELECT doc_id, source, text
      FROM documents
      WHERE length(text) >= 50
        AND CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) > 0.5
    ),
    normed AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm_text
      FROM quality
    ),
    deduped AS (
      SELECT doc_id, source, norm_text
      FROM (
        SELECT doc_id, source, norm_text,
               ROW_NUMBER() OVER (PARTITION BY md5(norm_text)
                                  ORDER BY doc_id) AS rn
        FROM normed
      ) WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, source, CAST(doc_id // 10000 AS BIGINT) AS shard,
             len(string_split_regex(norm_text, '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens
      FROM deduped
    ),
    cums AS (
      SELECT doc_id, source, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, source, shard, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
    FROM cums
    """,
)
def l30_prep_pipeline(spark, sf_dir):
    """The full training-data preparation pipeline as ONE declarative
    plan: quality filter → text normalization → exact dedup on the
    normalized hash → token count → sequence packing.  This is the
    composition the individual operators (l8, l14, l1, l8c, l31) exist
    for, end-to-end under the oracle gate.

    Shuffle budget at 100 TB: exactly TWO — the dedup window on
    md5(norm_text) (32-byte key) and the packing cumsum on
    (source, shard); the quality filter is scan-side, normalization and
    token count are narrow column math riding those exchanges.  Document
    text never shuffles raw: the dedup exchange carries the normalized
    text only because the pack stage re-tokenizes it — at scale one
    would carry (hash, n_tokens) and re-join, traded here for one fewer
    join at testdata sizes.
    """
    from pyspark.sql import Window

    (docs,) = T(spark, sf_dir, "documents")
    quality = docs.filter(_quality_pred())
    normed = quality.select("doc_id", "source", _norm_expr().alias("norm_text"))
    w_dedup = Window.partitionBy(F.md5("norm_text")).orderBy("doc_id")
    deduped = (
        normed.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
    )
    toks = deduped.select(
        "doc_id",
        "source",
        _shard_col(),
        F.size(F.split(F.col("norm_text"), WS_RE)).alias("n_tokens"),
    )
    return _pack_bins(toks)


@register(
    "l35_quality_percentile",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS diversity
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, diversity,
             percent_rank() OVER (PARTITION BY source ORDER BY diversity, doc_id)
               AS pr
      FROM scored
    )
    SELECT doc_id, source, ROUND(diversity, 6) AS diversity, ROUND(pr, 6) AS pr
    FROM ranked WHERE pr >= 0.8
    """,
)
def l35_quality_percentile(spark, sf_dir):
    """Per-source quality-percentile curation: keep each source's top
    quintile by lexical diversity (distinct words / words) — the
    relative-threshold form of quality filtering, which unlike a global
    cutoff (l8) can't starve a low-scoring source out of the mix.

    Scale: the score is narrow scan-side math (no cross-row work); the
    single shuffle is the per-source percent_rank window.  Honest
    limit: a window partition cannot be split (AQE skew handling does
    not apply to windows), so one task holds a whole source's (score,
    doc_id) rows — fine to ~memory-bounded source sizes, NOT at a
    10 TB source.  The 100 TB form of this operator is the two-pass
    threshold: per-source counts (tiny), then a distributed selection
    of the 0.8n-th order statistic (binary search on the score value,
    each probe one scan+agg), broadcast thresholds, scan-side filter —
    same output, no single-task window.  The window form is kept here
    because it is the exact-rank spelling the oracle can mirror.
    Determinism: rank ties broken by doc_id; percent_rank is exact
    rational arithmetic ((rank-1)/(n-1)) so the 0.8 cut compares
    identical doubles on both engines.
    """
    from pyspark.sql import Window

    (docs,) = T(spark, sf_dir, "documents")
    docs = spread(docs)
    ws = F.split(F.lower("text"), " ")
    diversity = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    scored = docs.select("doc_id", "source", diversity.alias("diversity"))
    w = Window.partitionBy("source").orderBy("diversity", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    return ranked.filter(F.col("pr") >= 0.8).select(
        "doc_id",
        "source",
        F.round("diversity", 6).alias("diversity"),
        F.round("pr", 6).alias("pr"),
    )


@register(
    "l35b_quality_percentile_scaled",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS diversity
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, diversity,
             percent_rank() OVER (PARTITION BY source ORDER BY diversity, doc_id)
               AS pr
      FROM scored
    )
    SELECT doc_id, source, ROUND(diversity, 6) AS diversity, ROUND(pr, 6) AS pr
    FROM ranked WHERE pr >= 0.8
    """,
)
def l35b_quality_percentile_scaled(spark, sf_dir):
    """Scale-safe form of l35: same per-source percent-rank curation,
    computed by DISTRIBUTED RANKING instead of a per-source window.

    The l35 window (``Window.partitionBy("source")``) puts one whole
    source in one task — a window partition cannot be split (AQE skew
    handling does not apply to windows), so a 10 TB source OOMs the
    task.  This form computes the identical exact percent_rank with no
    unsplittable stage, the classic range-partition + offset
    composition (``windows.range_rank``, shared with w3/w3b/w4):

    1. ``repartitionByRange(P, source, diversity, doc_id)`` — the range
       partitioner splits each source across many partitions in sort
       order; P scales with the cluster, so partition sizes stay
       bounded at 100 TB.
    2. One driver collect of a per-(partition, source) aggregate —
       count, min and max of the persisted monotonically_increasing_id
       — at most P × sources rows (640 for 20 sources at P = 32).  The
       driver turns it into each slice's rank offset (same-source rows
       in all EARLIER partitions) and the source total n, and checks
       the ids of every slice are consecutive.
    3. Broadcast (partition, source, shift, n) back on a null-safe key
       (a NULL source is ranked as its own group, as PARTITION BY
       does); rank = id + shift, and pr = (rank-1)/(n-1) in the same
       IEEE double arithmetic percent_rank uses, so the 0.8 cut keeps
       byte-identical rows on both engines.

    The persisted range-partitioned frame feeds both the aggregate and
    the ranking, so the corpus is shuffled once and the partition-id →
    offset mapping is consistent by construction; no window and no
    hash exchange touches row data (plan-guarded in
    tests/test_plans.py).

    An alternative scale path (documented in SCALE.md) is the two-pass
    broadcast-threshold: per-source counts + binary-search selection of
    the 0.8n-th order statistic + scan-side filter.  Distributed
    ranking was chosen instead because it is non-iterative (no driver
    loop of probe scans) and reproduces the exact ``pr`` column, making
    the window spelling a full-row oracle rather than a set-only one.

    Reference parity: same relative-threshold curation surface as l35
    (trino dialect: percent_rank() OVER, internal/trino/client.go
    passes it through); this entry certifies the scale plan against
    the window oracle.
    """
    (docs,) = T(spark, sf_dir, "documents")
    return quality_percentile_scaled_plan(spread(docs))


def quality_percentile_scaled_plan(docs):
    """The distributed-ranking engine shared by l35b and the 10x probe
    in tools/scaling_check.py.  ``docs`` needs (doc_id, source, text).
    Runs the slice-count job of ``range_rank`` at construction."""
    from mcp_trino_spark.operators.windows import range_rank

    ws = F.split(F.lower("text"), " ")
    diversity = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    scored = docs.select("doc_id", "source", diversity.alias("diversity"))
    nparts = max(docs.sparkSession.sparkContext.defaultParallelism, 8)
    ranked, _ = range_rank(scored, ["diversity", "doc_id"], ["source"], nparts)
    # percent_rank semantics: (rank-1)/(n-1), defined as 0 for n == 1.
    pr = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
        (F.col("rn") - F.lit(1)).cast("double")
        / (F.col("n") - F.lit(1)).cast("double")
    )
    return (
        ranked.withColumn("pr", pr)
        .filter(F.col("pr") >= 0.8)
        .select(
            "doc_id",
            "source",
            F.round("diversity", 6).alias("diversity"),
            F.round("pr", 6).alias("pr"),
        )
    )


@register(
    "l40_repetition_filters",
    oracle="""
    WITH base AS (SELECT doc_id, text, length(text) AS total FROM documents),
    lines AS (
      SELECT doc_id, l AS line
      FROM base, LATERAL unnest(string_split(text, chr(10))) AS u(l)
      WHERE length(l) > 0
    ),
    ls AS (
      SELECT doc_id, line, COUNT(*) AS c, length(line) AS len_l
      FROM lines GROUP BY doc_id, line
    ),
    pd AS (
      SELECT doc_id, SUM(c) AS n_lines,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
             SUM(CASE WHEN c > 1 THEN c * len_l ELSE 0 END) AS dup_chars
      FROM ls GROUP BY doc_id
    ),
    words AS (
      SELECT doc_id, w AS word
      FROM base, LATERAL unnest(string_split(lower(text), ' ')) AS u(w)
      WHERE length(w) > 0
    ),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
    tw AS (
      SELECT doc_id, word, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, word ASC) AS rn
      FROM wc
    )
    SELECT b.doc_id,
           CAST(COALESCE(p.dup_lines, 0) AS DOUBLE)
             / GREATEST(COALESCE(p.n_lines, 0), 1) AS dup_line_frac,
           CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
             / GREATEST(b.total, 1) AS dup_line_char_frac,
           CAST(COALESCE(t.c * length(t.word), 0) AS DOUBLE)
             / GREATEST(b.total, 1) AS top_word_char_frac,
           (CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
              / GREATEST(b.total, 1) > 0.3
            OR CAST(COALESCE(t.c * length(t.word), 0) AS DOUBLE)
              / GREATEST(b.total, 1) > 0.2) AS flagged
    FROM base b
    LEFT JOIN pd p USING (doc_id)
    LEFT JOIN (SELECT doc_id, word, c FROM tw WHERE rn = 1) t USING (doc_id)
    """,
)
def l40_repetition_filters(spark, sf_dir):
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    per-document duplicate-line fraction, duplicate-line CHARACTER
    fraction, and most-frequent-word character coverage, plus the
    composite keep/drop flag (dup-char > 0.3 or top-word coverage >
    0.2 — the published thresholds' shape).  Repetition is the
    strongest single predictor of low-quality web text, and these
    statistics are what large-corpus cleaning actually computes.

    Scale shape: the line/word explodes are NARROW; the only shuffles
    are the (doc_id, line) and (doc_id, word) counts — both
    combiner-friendly partial aggregations keyed by doc, so no key is
    hotter than the longest single document.  The top word per doc is
    ``min(struct(-count, word))`` — an ordinary partial-merge
    aggregate, no window over the corpus.  Text itself shuffles only
    as the per-doc distinct line spellings (bounded by doc size).
    """
    (docs,) = T(spark, sf_dir, "documents")
    return repetition_filters_plan(spread(docs))


def repetition_filters_plan(docs) -> "DataFrame":
    """Frame-parameterized l40 plan (docs: doc_id, text) — the probe in
    tools/scaling_check.py drives it on rotation replicas."""
    base = docs.select(
        "doc_id", "text", F.length("text").alias("total")
    )
    lines = base.select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    ).filter(F.length("line") > 0)
    ls = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    pd_ = ls.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_lines"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("line")).otherwise(0)
        ).alias("dup_chars"),
    )
    words = base.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.length("word") > 0)
    wc = words.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    tw = wc.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("c")).alias("nc"),
                F.col("word").alias("word"),
                (F.col("c") * F.length("word")).alias("cov"),
            )
        ).alias("tw")
    ).select("doc_id", F.col("tw.cov").alias("top_cov"))
    dup_char_frac = F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double") / F.greatest(
        F.col("total"), F.lit(1)
    )
    top_frac = F.coalesce(F.col("top_cov"), F.lit(0)).cast("double") / F.greatest(
        F.col("total"), F.lit(1)
    )
    return (
        base.join(pd_, "doc_id", "left")
        .join(tw, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("dup_lines"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("n_lines"), F.lit(0)), F.lit(1))
            ).alias("dup_line_frac"),
            dup_char_frac.alias("dup_line_char_frac"),
            top_frac.alias("top_word_char_frac"),
            ((dup_char_frac > 0.3) | (top_frac > 0.2)).alias("flagged"),
        )
    )


#: PII regex classes (RE2/Java-compatible subset: no backrefs or
#: lookaround, so Spark's Java regex and the DuckDB oracle's RE2 agree
#: by construction — verified on adversarial text in the r12 probe)
_PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_ips": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "n_phones": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    # benign control class: digit runs — keeps the oracle hash
    # discriminative on corpora that contain no true PII
    "n_digit_runs": r"\d+",
}


def _pii_oracle() -> str:
    cols = ",\n           ".join(
        f"len(regexp_extract_all(text, '{p}')) AS {k}"
        for k, p in _PII_PATTERNS.items()
    )
    return f"""
    SELECT doc_id,
           {cols},
           (len(regexp_extract_all(text, '{_PII_PATTERNS["n_emails"]}'))
            + len(regexp_extract_all(text, '{_PII_PATTERNS["n_ips"]}'))
            + len(regexp_extract_all(text, '{_PII_PATTERNS["n_phones"]}'))
           ) > 0 AS has_pii
    FROM documents
    """


@register("l41_pii_scan", oracle=_pii_oracle())
def l41_pii_scan(spark, sf_dir):
    """PII surface scan — per-document counts of email / IPv4 / phone
    patterns plus a digit-run control class and the composite
    ``has_pii`` flag: the screen a corpus runs before release to
    quarantine documents for redaction.  Patterns stay in the
    RE2-compatible subset (no backrefs/lookaround), so Java (Spark)
    and RE2 (DuckDB, and any downstream scrubber) count identically.

    Scale shape: ``regexp_count`` is a whole-stage-codegen projection
    — ZERO shuffles, the scan streams; at 100 TB this is the cheapest
    possible full-corpus pass and composes with any downstream filter
    without a plan change."""
    (docs,) = T(spark, sf_dir, "documents")
    return pii_scan_plan(spread(docs))


def pii_scan_plan(docs: DataFrame) -> DataFrame:
    """Frame-parameterized l41 plan (docs: doc_id, text) — shared by
    the registry entry and the streaming twin (streaming/ops.py):
    the projection is stateless whole-stage codegen, so the SAME plan
    runs unchanged on a streaming frame in append mode."""
    # F.lit(pattern) needs no SQL-string escaping and is immune to the
    # session's escapedStringLiterals setting (the F.expr spelling was
    # an escaping hazard — review catch)
    counts = [
        F.regexp_count(F.col("text"), F.lit(p)).alias(k)
        for k, p in _PII_PATTERNS.items()
    ]
    out = docs.select("doc_id", *counts)
    return out.select(
        "*",
        (
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0
        ).alias("has_pii"),
    )
