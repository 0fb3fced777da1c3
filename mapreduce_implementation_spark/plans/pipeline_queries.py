"""LLM-pipeline queries with DuckDB twins: deterministic sampling /
splitting, token-budget chunking, sequence packing, and the composed
sample → dedup → split → chunk → pack dataflow.

Promoted to the oracle gate in round 7 (they were pytest-only in r6):
the registered variants use ``method="md5"`` hash bucketing
(operators/sampling.hash_bucket) so SPLIT MEMBERSHIP ITSELF is
engine-portable — DuckDB derives the identical bucket from
``md5(str(key) || salt)`` and the oracle checks actual row membership,
not just invariants. Packing output (FFD assignment) is inherently
procedural, so its oracle pins the invariants a pipeline owner relies
on — exactly-once, per-pack budget compliance, slot contiguity —
against independently-replayed chunk counts; FFD determinism stays
pytest-gated (tests/test_packing.py, tests/test_pipeline_e2e.py).

The reference has no sampling/chunking/packing surface (its unit of
work is the whole input chunk, /root/reference/Worker.cc:123-141);
this is the LLM-pipeline extension set of SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators import sampling as sp
from mapreduce_implementation_spark.operators.chunking import (
    chunk_documents,
    keyed_chunks,
)
from mapreduce_implementation_spark.operators.dedup import exact_dedup
from mapreduce_implementation_spark.operators.packing import pack_greedy
from mapreduce_implementation_spark.plans.dedup_queries import (
    _SHINGLES as _SHINGLES3,
)
from mapreduce_implementation_spark.plans.registry import register
from mapreduce_implementation_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Shared Spark-side config (mirrored literally in the oracle SQL below —
# change together or the hash gate goes red).

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "split"
CHUNK_TOKENS, CHUNK_OVERLAP = 16, 4  # step 12; sf0.01 docs avg ~54 tokens
CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP
KEY_STRIDE = 1 << 32  # chunk_key = doc_id * STRIDE + chunk_idx (collision-free)
PACK_BUDGET = 64
PACK_BUCKETS = 8
MIX_FRACTIONS = {"en": 1.0, "es": 0.5}
MIX_DEFAULT = 0.25
MIX_SALT = "mix"

# DuckDB twin of operators/sampling.hash_bucket(method="md5"):
# bucket = int(hex[:8] of md5(str(key) || salt)) % BUCKETS.
def _bucket_sql(key: str, salt: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), "
        f"'{salt}')), 1, 8)) AS BIGINT) % {sp.BUCKETS}"
    )


# DuckDB twin of functions/text.tokens(mode="simple"): split on
# whitespace runs, drop empties, case preserved.
_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

# DuckDB twin of operators/chunking.chunk_documents: one row per chunk
# with 1-based slice replay. {src} must provide (doc_id, text) with
# text IS NOT NULL.
_CHUNKS_SQL = f"""
    sized AS (
        SELECT doc_id, {_TOKS} AS t,
               CASE WHEN len({_TOKS}) <= 0 THEN 0
                    ELSE greatest(1, CAST(ceil((len({_TOKS}) - {CHUNK_OVERLAP})
                                          / {CHUNK_STEP}.0) AS BIGINT))
               END AS nc
        FROM {{src}}
    ),
    chunks AS (
        SELECT doc_id, i AS chunk_idx,
               t[(i * {CHUNK_STEP} + 1):(i * {CHUNK_STEP} + {CHUNK_TOKENS})] AS ctoks
        FROM sized, unnest(generate_series(0, nc - 1)) AS u(i)
        WHERE nc > 0
    )
"""


@register(
    "sample_split_assignment",
    tables=("documents",),
    oracle=f"""
        WITH b AS (
            SELECT doc_id, {_bucket_sql("doc_id", SPLIT_SALT)} AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < 800000 THEN 'train'
                    WHEN bucket < 900000 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT doc_id) AS n_keys,
               CAST(SUM(doc_id) AS BIGINT) AS sum_key
        FROM b GROUP BY 1
    """,
)
def sample_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.
    split_by_hash, md5 mode) with MEMBERSHIP oracle-checked: the oracle
    recomputes each doc's bucket from md5 and must land every key in
    the same split. Disjointness + exhaustiveness follow from the
    hash-compare (per-split counts and key-sums must both match).
    Map-only: three scan-stage filters, zero exchange before the agg."""
    docs = load_table(spark, sf_dir, "documents")
    splits = sp.split_by_hash(
        docs, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT, method="md5"
    )
    parts = [
        df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_keys"),
            F.sum("doc_id").alias("sum_key"),
        ).withColumn("split", F.lit(name))
        for name, df in splits.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # a genuinely empty split yields a (0, 0, NULL) agg row where the
    # oracle's GROUP BY has no group at all — report non-empty splits
    # only, insulating the gate from testdata-regeneration size shifts
    return out.where(F.col("n_rows") > 0).select(
        "split", "n_rows", "n_keys", "sum_key"
    )


@register(
    "chunk_documents_replay",
    tables=("documents",),
    oracle=f"""
        WITH {_CHUNKS_SQL.format(src="(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
        SELECT doc_id, chunk_idx,
               CAST(len(ctoks) AS BIGINT) AS n_tokens,
               md5(array_to_string(ctoks, ' ')) AS chunk_md5
        FROM chunks
    """,
)
def chunk_documents_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking (operators/chunking.chunk_documents,
    16-token windows, 4 overlap) replayed
    chunk-by-chunk in the oracle: identical (doc, idx, token-count,
    content-md5) per chunk. The md5 keeps the compared rows small while
    still pinning exact chunk CONTENT, not just counts. Map-only —
    tokenize → explode is a scan-stage generator, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


def _pack_summary(packed: DataFrame, budget: int) -> DataFrame:
    """One-row invariant summary of a pack assignment.

    ``violations`` counts packs breaking ANY of: token sum over budget
    (oversize single-row packs exempt by construction — a chunk wider
    than the budget gets a dedicated pack), slots not 0..n-1. The
    oracle pins it to 0; n_rows/n_keys/total_tokens are independently
    replayed, so exactly-once packing is hash-checked end to end.

    ``util_breaches`` is the UTILIZATION FLOOR (padding-waste gate):
    best-fit can leave at most ONE pack per hash bucket under half
    budget — if two packs in a bucket both ended < budget/2, the later
    one's opening item (≤ its final load < budget/2) would have fit in
    the earlier (any-fit bin-packing theorem). So
    sum over buckets of max(0, |packs with 2·tok < budget| − 1) is
    provably 0 for a correct best-fit-decreasing layout, and the oracle
    pins it — a packing regression that starts strewing near-empty
    packs (the padding-waste failure mode) now trips the HASH gate,
    not just a pytest. Bucket is recovered from the pack-id encoding
    (bucket · 2^32 + local_idx, operators/packing._PACK_STRIDE)."""
    per_pack = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok"),
        F.min("pack_slot").alias("lo"),
        F.max("pack_slot").alias("hi"),
    )
    bad = (
        ((F.col("tok") > budget) & (F.col("n") > 1))
        | (F.col("lo") != 0)
        | (F.col("hi") != F.col("n") - 1)
    )
    half_empty_per_bucket = (
        per_pack.where(F.col("tok") * 2 < budget)
        .groupBy(F.shiftright("pack_id", 32).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_half_empty"))
    )
    util_breaches = half_empty_per_bucket.agg(
        F.coalesce(
            F.sum(F.greatest(F.col("n_half_empty") - 1, F.lit(0))), F.lit(0)
        )
        .cast("long")
        .alias("util_breaches")
    )
    violations = per_pack.agg(
        F.count(F.when(bad, 1)).alias("violations")
    )
    totals = packed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("chunk_key").alias("n_keys"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return totals.crossJoin(violations).crossJoin(util_breaches)


@register(
    "pack_invariants",
    tables=("documents",),
    oracle=f"""
        WITH {_CHUNKS_SQL.format(src="(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT doc_id * {KEY_STRIDE} + chunk_idx) AS n_keys,
               CAST(SUM(len(ctoks)) AS BIGINT) AS total_tokens,
               CAST(0 AS BIGINT) AS violations,
               CAST(0 AS BIGINT) AS util_breaches
        FROM chunks
    """,
)
def pack_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_greedy, budget 64)
    gated on its contract: every chunk packed exactly
    once (n_rows == n_keys == oracle's replayed chunk count), total
    tokens conserved, zero packs over budget or with broken slot
    numbering. The assignment itself is procedural (best-fit-decreasing
    inside hash buckets) so the oracle checks the invariants, not the
    bin layout; determinism of the layout is pytest-gated."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    chunks = keyed_chunks(
        chunk_documents(
            docs, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
        ),
        key_stride=KEY_STRIDE,
        keep_text=False,
    ).select("chunk_key", "n_tokens")
    packed = pack_greedy(
        chunks, "chunk_key", "n_tokens", PACK_BUDGET, n_buckets=PACK_BUCKETS
    )
    return _pack_summary(packed, PACK_BUDGET)


@register(
    "pipeline_sample_dedup_chunk_pack",
    tables=("documents",),
    oracle=f"""
        WITH samp AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL
              AND {_bucket_sql("doc_id", MIX_SALT)} <
                  CASE lang WHEN 'en' THEN 1000000
                            WHEN 'es' THEN 500000
                            ELSE 250000 END
        ),
        survivors AS (
            SELECT MIN(doc_id) AS doc_id
            FROM samp
            GROUP BY md5(array_to_string(
                list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> ''), ' '))
        ),
        train AS (
            SELECT s.doc_id, s.text
            FROM samp s JOIN survivors USING (doc_id)
            WHERE {_bucket_sql("s.doc_id", SPLIT_SALT)} < 800000
        ),
        {_CHUNKS_SQL.format(src="train")}
        SELECT (SELECT COUNT(*) FROM samp) AS n_sampled,
               (SELECT COUNT(*) FROM survivors) AS n_surviving,
               (SELECT COUNT(*) FROM train) AS n_train,
               COUNT(*) AS n_packed_rows,
               COUNT(DISTINCT doc_id * {KEY_STRIDE} + chunk_idx) AS n_packed_keys,
               CAST(SUM(len(ctoks)) AS BIGINT) AS total_tokens,
               CAST(0 AS BIGINT) AS violations,
               CAST(0 AS BIGINT) AS util_breaches
        FROM chunks
    """,
)
def pipeline_sample_dedup_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data pipeline as ONE oracle-gated dataflow:
    stratified corpus mixing (en 100% / es 50% / rest 25%, md5 mode) →
    exact dedup (content-hash survivors, semi join back for text) →
    train split (80%, independent salt) → 16-token chunking → packing.

    The integration seam is where column-name/semantics drift between
    operators hides; the oracle replays every stage in SQL — sample
    membership, survivor set, split membership, chunk counts — and pins
    the pack invariants on the final artifact. Sample/split/chunk
    stages are map-only (zero exchange — gated in tests/test_plans.py);
    the shuffles are the dedup groupBy, the survivor semi join, and the
    pack bucket groupBy."""
    from mapreduce_implementation_spark.caching import track_cache

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # Five scalar aggregates consume different stages of one dataflow;
    # without caching, Catalyst re-derives each stage per consumer (the
    # dedup shuffle 4×, the Arrow packing stage 2×). The cached frames
    # are id/metadata projections — tiny at any scale — and the registry
    # wrapper releases them after the query (caching.release_caches).
    samp = track_cache(
        sp.stratified_sample(
            docs,
            "lang",
            MIX_FRACTIONS,
            key_col="doc_id",
            default_fraction=MIX_DEFAULT,
            salt=MIX_SALT,
            method="md5",
        )
    )
    survivors = track_cache(
        exact_dedup(samp, "doc_id", "text").select(
            F.col("survivor_id").alias("doc_id")
        )
    )
    deduped = samp.join(survivors, "doc_id", "semi")
    train = sp.split_by_hash(
        deduped, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT, method="md5"
    )["train"]
    keyed = keyed_chunks(
        chunk_documents(
            train, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
        ),
        key_stride=KEY_STRIDE,
        keep_text=False,
    ).select("chunk_key", "n_tokens")
    packed = track_cache(
        pack_greedy(
            keyed, "chunk_key", "n_tokens", PACK_BUDGET, n_buckets=PACK_BUCKETS
        )
    )
    n_sampled = samp.agg(F.count(F.lit(1)).alias("n_sampled"))
    n_surviving = survivors.agg(F.count(F.lit(1)).alias("n_surviving"))
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    summary = _pack_summary(packed, PACK_BUDGET).select(
        F.col("n_rows").alias("n_packed_rows"),
        F.col("n_keys").alias("n_packed_keys"),
        "total_tokens",
        "violations",
        "util_breaches",
    )
    return (
        n_sampled.crossJoin(n_surviving).crossJoin(n_train).crossJoin(summary)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (operators/contamination.py)

CONTAM_SALT = "contam"
CONTAM_BENCH_BUCKETS = 100_000  # benchmark = the ~10% md5-bucket slice


@register(
    "benchmark_contamination",
    tables=("documents",),
    oracle=f"""
        WITH b AS (
            SELECT doc_id, {_SHINGLES3} AS sh,
                   {_bucket_sql("doc_id", CONTAM_SALT)} AS bkt
            FROM documents
        ),
        bench AS (
            SELECT DISTINCT UNNEST(sh) AS g FROM b
            WHERE bkt < {CONTAM_BENCH_BUCKETS}
        ),
        d AS (
            SELECT doc_id, UNNEST(sh) AS g FROM b
            WHERE bkt >= {CONTAM_BENCH_BUCKETS}
        )
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_ngrams,
               CAST(COUNT(bench.g) AS BIGINT) AS n_contaminated,
               CAST(COUNT(bench.g) AS DOUBLE) / COUNT(*) AS contamination_frac
        FROM d LEFT JOIN bench ON d.g = bench.g
        GROUP BY d.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram collision decontamination (operators/contamination.py):
    a deterministic md5-bucket slice of `documents` stands in for the
    eval benchmark (same engine-portable bucketing as the split query,
    different salt, so membership itself is oracle-checked); every
    remaining document reports how many of its distinct trigrams appear
    in that benchmark. Plan shape: the benchmark gram set aggregates
    once and BROADCASTS (eval sets are megabytes against a 100 TB
    corpus), the corpus side is a scan-stage shingle explode + broadcast
    left join, and the only shuffle is the skew-free per-doc groupBy."""
    from mapreduce_implementation_spark.operators.contamination import (
        ngram_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    bkt = sp.hash_bucket("doc_id", CONTAM_SALT, method="md5")
    bench = docs.where(bkt < CONTAM_BENCH_BUCKETS)
    corpus = docs.where(bkt >= CONTAM_BENCH_BUCKETS)
    return ngram_contamination(corpus, bench, n=3)


# ---------------------------------------------------------------------------
# Substring-level self-duplication (operators/contamination.
# duplicate_span_stats) — REGISTRY slot (promoted round 8, taking
# filter_pushdown_scan's slot: that query's whole point is the plan
# shape, gated directly in tests/test_plans.py, and its values are a
# trivial filter — pytest parity keeps it honest). The oracle groups by
# the SPAN STRING where the Spark plan groups by xxhash64(span) — an
# independent formulation; agreement also certifies the hash carried
# no collision on this corpus.

SPAN_N = 20

from mapreduce_implementation_spark.plans.dedup_queries import _TOKS as _LTOKS

_SPANS_N = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len({_LTOKS}) - {SPAN_N - 2}, 1)), "
    f"i -> array_to_string(({_LTOKS})[i:i+{SPAN_N - 1}], ' ')))"
)

DUP_SPAN_ORACLE = f"""
    WITH s AS (
        SELECT doc_id, UNNEST({_SPANS_N}) AS span FROM documents
    ),
    c AS (SELECT span, COUNT(*) AS n_docs FROM s GROUP BY span)
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           COUNT(CASE WHEN c.n_docs > 1 THEN 1 END) AS n_dup_spans,
           CAST(COUNT(CASE WHEN c.n_docs > 1 THEN 1 END) AS DOUBLE)
               / COUNT(*) AS dup_span_frac
    FROM s JOIN c USING (span)
    GROUP BY s.doc_id
"""


@register("duplicate_ngram_spans", tables=("documents",), oracle=DUP_SPAN_ORACLE)
def duplicate_span_stats_parity(spark, sf_dir):
    """Per-doc fraction of distinct 20-word spans appearing verbatim in
    another document (the substring-dedup signal — hashed spans,
    partial-agg holder counts, no window; operators/
    contamination.duplicate_span_stats)."""
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, n=SPAN_N)


# ---------------------------------------------------------------------------
# Fixed-N-per-stratum sampling (operators/sampling.stratified_fixed_n) —
# pytest parity gate: membership itself is engine-portable in md5 mode,
# so the oracle re-derives every selected (doc_id, lang) row.

FIXED_N = 20
FIXED_N_SALT = "fixedn"

STRATIFIED_FIXED_N_ORACLE = f"""
    WITH h AS (
        SELECT doc_id, lang, {_bucket_sql("doc_id", FIXED_N_SALT)} AS hb
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
        FROM h
    )
    SELECT doc_id, lang FROM r WHERE rn <= {FIXED_N}
"""


def stratified_fixed_n_parity(spark, sf_dir):
    """Exactly 20 deterministically-chosen docs per language."""
    docs = load_table(spark, sf_dir, "documents")
    return sp.stratified_fixed_n(
        docs, "lang", FIXED_N, key_col="doc_id", salt=FIXED_N_SALT,
        method="md5",
    ).select("doc_id", "lang")
