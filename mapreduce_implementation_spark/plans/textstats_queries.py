"""Text-analysis queries over ``documents`` — the training-data-pipeline
primitives (token counting, quality scoring, language ID, document
fingerprinting, n-gram stats).

Every Spark expression here lives in functions/textstats.py /
functions/text.py (pure Column expressions, scan-stage projections — no
shuffle except the final aggregations, no Python UDFs). The heaviest
inputs (per-token n-gram explosion, stopword-vote langid) pass through
``spread()`` first — HOF projections run outside whole-stage codegen
and a small parquet file scans as ONE partition, so without the
widening repartition that work serializes onto one core locally (no-op
at scale; measured: 3.4x on top_bigrams, while for sub-second
projections the extra shuffle costs more than it saves, so those stay
unspread). The DuckDB oracle SQL is GENERATED from the
same constants (stopword lists, regex patterns) so the two sides cannot
drift.

Engine-parity notes:
* token arrays: Spark ``split(lower(text), '\\s+')`` + filter empties ≙
  DuckDB ``list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')``
* hashes: md5 hex is identical across engines
* ratios: integer counts divided as double — identical-operand IEEE ops
* DuckDB list slicing is 1-based INCLUSIVE: toks[i:i+n-1] is an n-gram
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_spark.functions import textstats as ts
from mapreduce_implementation_spark.functions.text import tokens, word_ngrams
from mapreduce_implementation_spark.operators.dedup import spread
from mapreduce_implementation_spark.plans.registry import register
from mapreduce_implementation_spark.sources.catalog import load_table

BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# DuckDB fragment: the lowercase whitespace token array of `text`
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _hits(lang: str) -> str:
    return f"len(list_filter({_TOKS}, x -> x IN ({_sql_list(ts.STOPWORDS[lang])})))"


@register(
    "token_stats",
    headline=True,
    tables=("documents",),
    oracle=f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document whitespace and BPE-ish token counts — pure scan-stage
    projection (zero shuffle at any scale).

    Deliberately NOT spread() (r16, measured at two core counts): the
    widen wins at 32 cores (0.27→0.18 s) but LOSES at 8 (0.365→0.561
    min-of-5 interleaved) — the two regexp_counts are ~0.3 s of
    single-core work total, too light to pay for the exchange below
    ~32-way parallelism, unlike doc_quality's HOF feature chain which
    wins at both (OPTIMIZATION_r16.md)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ts.token_count("text").alias("n_tokens"),
        ts.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


_QUALITY_SQL = f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
               CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
               CAST(len(list_filter({_TOKS}, x -> x IN ({_sql_list(ts.STOPWORDS["en"])}))) AS BIGINT) AS n_stop,
               CAST(coalesce(list_sum(list_transform({_TOKS}, x -> length(x))), 0) AS DOUBLE) AS tok_chars,
               CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
               CAST(coalesce(list_max(list_transform(list_distinct({_TOKS}),
                       d -> len(list_filter({_TOKS}, x -> x = d)))), 0) AS BIGINT) AS top_cnt
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
           CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
           CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) AS stopword_ratio,
           tok_chars / greatest(n_tokens, 1) AS mean_token_len,
           CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1) AS distinct_token_ratio,
           CAST(top_cnt AS DOUBLE) / greatest(n_tokens, 1) AS top_token_frac,
           (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN tok_chars / greatest(n_tokens, 1) >= 2.0
                    AND tok_chars / greatest(n_tokens, 1) <= 12.0 THEN 0.25 ELSE 0.0 END)
           + 0.25 * (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 4, 1.0))
           + 0.25 * least((CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4, 1.0)
           AS quality_score
    FROM feat
"""


@register("doc_quality", headline=True, tables=("documents",), oracle=_QUALITY_SQL)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (Gopher-rule
    shaped). Since r17 the integer feature INPUTS come from the fused
    ``token_stats_arrow`` kernel (one vectorized mapInArrow pass —
    guide §4.2), replacing the interpreted-HOF feature chain that was
    both the row's dominant scale cost and its JIT-lottery surface:
    measured interleaved min-of-3 at 1M synthetic docs, expr 24.24 s vs
    kernel 1.97 s (12.3×); a wash at sf0.1 where the row is
    overhead-bound (0.52 s both arms, OPTIMIZATION_r17.md). The
    ratio/score arithmetic is UNCHANGED JVM expressions over those
    integers, so the float surface is identical to the expr form
    (tests/textstats_reference.py::doc_quality_expr, pinned in
    tests/test_textstats_kernel.py incl. NULL/empty/unicode rows).
    spread() since r16 (single-row-group sf files scan as ONE task;
    no-op at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = ts.token_stats_arrow(
        spread(docs.select("doc_id", "text")), "doc_id", "text"
    )
    return _quality_from_token_stats(staged)


def _quality_from_token_stats(staged: DataFrame) -> DataFrame:
    """Ratios + composite score from the integer token-stat columns —
    the exact divisions/weights of the expr form (same operands, same
    IEEE ops), shared by the kernel and any future stats consumer."""
    g1 = F.greatest(F.col("n_chars"), F.lit(1))
    gt = F.greatest(F.col("n_tokens"), F.lit(1))
    feat = staged.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        (F.col("n_alpha").cast("double") / g1).alias("alpha_ratio"),
        (F.col("n_punct").cast("double") / g1).alias("punct_ratio"),
        (F.col("n_stop").cast("double") / gt).alias("stopword_ratio"),
        (F.col("tok_chars").cast("double") / gt).alias("mean_token_len"),
        (F.col("n_distinct").cast("double") / gt).alias("distinct_token_ratio"),
        (F.col("top_cnt").cast("double") / gt).alias("top_token_frac"),
    )
    score = ts.quality_score_from(
        {k: F.col(k) for k in ("n_tokens", "mean_token_len", "punct_ratio",
                               "stopword_ratio")}
    )
    return feat.select("*", score.alias("quality_score"))


_LANGID_CASE = f"""
    CASE WHEN greatest({_hits("de")}, {_hits("en")}, {_hits("es")}, {_hits("fr")}) = 0 THEN 'und'
         WHEN {_hits("de")} = greatest({_hits("de")}, {_hits("en")}, {_hits("es")}, {_hits("fr")}) THEN 'de'
         WHEN {_hits("en")} = greatest({_hits("de")}, {_hits("en")}, {_hits("es")}, {_hits("fr")}) THEN 'en'
         WHEN {_hits("es")} = greatest({_hits("de")}, {_hits("en")}, {_hits("es")}, {_hits("fr")}) THEN 'es'
         ELSE 'fr'
    END
"""


@register(
    "langid_vs_label",
    tables=("documents",),
    oracle=f"""
        SELECT lang, {_LANGID_CASE} AS guessed_lang, COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """,
)
def langid_vs_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic vs the labeled ``lang`` column
    (its marginal over guessed_lang is the corpus language
    distribution — the former langid_distribution query, folded in to
    fit the driver's 50-query sweep)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("lang", "text"))
    return (
        docs.select("lang", ts._lower_tokens("text").alias("_toks"))
        .select("lang", ts.langid("_toks", toks=F.col("_toks")).alias("guessed_lang"))
        .groupBy("lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Demoted round 7 (the winnowing fingerprint stays oracle-observable as
# ngram_jaccard_pairs' blocking key in BOTH engines' plans; the exact
# content hash is dedup_exact's key); pytest-gated via
# tests/test_demoted_oracles.py. Slot went to benchmark_contamination.
DOC_FINGERPRINTS_ORACLE = f"""
        SELECT doc_id,
               md5(array_to_string({_TOKS}, ' ')) AS content_hash,
               coalesce(
                   list_min(list_transform(
                       list_transform(range(1, greatest(len({_TOKS}) - 1, 1)),
                                      i -> array_to_string(({_TOKS})[i:i+2], ' ')),
                       g -> md5(g))),
                   md5(array_to_string({_TOKS}, ' '))
               ) AS fingerprint
        FROM documents
    """


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content hash (exact-dedup key) + winnowing-style min
    shingle-hash fingerprint (near-dup prefilter), per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ts._lower_tokens("text").alias("_toks")
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.col("_toks")).cast("binary")).alias("content_hash"),
        ts.doc_fingerprint("_toks", shingle=3, toks=F.col("_toks")).alias("fingerprint"),
    )


@register(
    "top_bigrams",
    tables=("documents",),
    oracle=f"""
        SELECT bigram, COUNT(*) AS cnt
        FROM (
            SELECT UNNEST(list_transform(range(1, greatest(len({_TOKS}), 1)),
                          i -> array_to_string(({_TOKS})[i:i+1], ' '))) AS bigram
            FROM documents
        )
        GROUP BY bigram
        ORDER BY cnt DESC, bigram
        LIMIT 50
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 word bigrams. Partial agg bounds the shuffle
    by |bigram vocab| per partition; top-k is TakeOrdered, no full sort."""
    docs = spread(load_table(spark, sf_dir, "documents").select("text"))
    toks = tokens(F.lower(F.col("text")), mode="simple")
    return (
        docs.select(F.explode(word_ngrams(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(50)
    )


# Demoted round 7 (corpus rollup overlaps token_stats + doc_quality +
# langid_vs_label coverage); pytest-gated via tests/test_demoted_oracles.py.
CORPUS_STATS_ORACLE = f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(CAST(len({_TOKS}) AS BIGINT)) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents
        GROUP BY lang, source
    """


def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup by (lang, source) using the labeled metadata."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ts.token_count("text")).alias("total_tokens"),
        F.sum("n_chars").cast("double").alias("avg_chars_num"),
    ).withColumn("avg_chars", F.col("avg_chars_num") / F.col("n_docs")).drop("avg_chars_num")
