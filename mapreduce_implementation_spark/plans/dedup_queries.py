"""Dedup queries over ``documents`` / ``embeddings`` with DuckDB twins.

Shared fragments keep Spark and SQL in lockstep; see operators/dedup.py
for the portability constructions (string-min md5 MinHash, hex-digit
SimHash) and the 100 TB shuffle analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators import dedup as dd
from mapreduce_implementation_spark.plans import similarity_queries as _sq
from mapreduce_implementation_spark.plans.registry import register
from mapreduce_implementation_spark.sources.catalog import load_table

# DuckDB fragments (must mirror functions/text.py + operators/dedup.py)
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 1, 1)), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' ')))"
)

K, BANDS, ROWS = 16, 4, 4


@register(
    "dedup_exact",
    headline=True,
    tables=("documents",),
    oracle=f"""
        SELECT md5(array_to_string({_TOKS}, ' ')) AS chash,
               MIN(doc_id) AS survivor_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per normalized-content
    hash. Single shuffle keyed by a uniform 128-bit hash — skew-free."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "doc_id", "text")


_P = dd.MERSENNE_P
_PERMS = ", ".join(
    f"list_min(list_transform(xs, x -> ({dd.PERM_A[i]} * x + {dd.PERM_B[i]}) % {_P}))"
    for i in range(16)
)

_MINHASH_CTE = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ),
    xs AS (
        SELECT doc_id,
               list_transform(sh, g -> ('0x' || substring(md5(g), 1, 15))::BIGINT % {_P}) AS xs
        FROM sh WHERE len(sh) > 0
    ),
    sigs AS (
        SELECT doc_id, [{_PERMS}] AS sig
        FROM xs
    ),
    bands AS (
        SELECT doc_id, j,
               md5(array_to_string(sig[j*{ROWS}+1:j*{ROWS}+{ROWS}], '|')) AS band_hash
        FROM sigs, UNNEST(range(0, {BANDS})) AS t(j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.j = b.j AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
"""


@register(
    "minhash_near_dup_pairs",
    headline=True,
    tables=("documents",),
    oracle=_MINHASH_CTE
    + f"""
    SELECT c.doc_a, c.doc_b,
           len(list_filter(range(1, {K} + 1), i -> sa.sig[i] = sb.sig[i])) / {K} AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    WHERE len(list_filter(range(1, {K} + 1), i -> sa.sig[i] = sb.sig[i])) / {K} >= 0.5
    """,
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) + LSH(4×4) near-dup candidate pairs with estimated
    Jaccard ≥ 0.5. Signatures are MATERIALIZED once per invocation
    (tracked localCheckpoint since r17 — see _signature_table; the
    committed-parquet lifecycle stays exercised by ensure_table in the
    warm bench rows and the corpus pipeline) and consumed by all three
    readers (band explode + both verify-join sides), with the band
    hashes precomputed and the screen snapshot derived in the same
    build phase."""
    docs = load_table(spark, sf_dir, "documents")
    sigs, stats = _signature_table(spark, sf_dir, docs)
    return dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", shingle_n=3, k=K, bands=BANDS, rows=ROWS,
        threshold=0.5, signatures=sigs, band_stats=stats,
    )


def _signature_table(spark: SparkSession, sf_dir: str, docs: DataFrame):
    """Per-invocation materialized MinHash signature artifact (honestly
    cold: recomputed from the parquet inputs on every call). Since r17
    this is a TRACKED localCheckpoint rather than a scratch parquet
    write+read — the artifact is consumed only within this invocation
    (the old scratch table was deleted at exit, so its survives-the-
    session property was unused) and the checkpoint skips the parquet
    encode/commit/re-scan round-trip: full-cold A/B 1.05× at 32 cores,
    1.33× at 8 (OPTIMIZATION_r17.md; blocks released on the next
    registry query via caching.release_caches). The build-once/
    reuse-everywhere PARQUET lifecycle stays exercised by ensure_table
    in the bench warm rows, the corpus pipeline and tests. The frame
    carries its precomputed band hashes, and the build derives the
    (band, count) screen snapshot in the same phase
    (minhash_band_stats) — the miner then makes every build-time
    decision with zero extra jobs, and the band md5s evaluate once
    per build instead of three times.
    Returns (signatures frame, band_stats dict)."""
    from mapreduce_implementation_spark.caching import (
        track_local_checkpoint,
    )

    sigs = track_local_checkpoint(
        dd.minhash_signatures(
            docs, "doc_id", "text", shingle_n=3, k=K,
            with_bands=(BANDS, ROWS),
        )
    )
    stats = dd.minhash_band_stats(
        spark, sigs, None,
        bands=BANDS, rows=ROWS, max_bucket=dd.DEFAULT_MAX_BUCKET,
    )
    return sigs, stats


@register(
    "dedup_clusters",
    headline=True,
    tables=("documents",),
    oracle=_MINHASH_CTE.replace("WITH", "WITH RECURSIVE", 1)
    + f""",
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        WHERE len(list_filter(range(1, {K} + 1), i -> sa.sig[i] = sb.sig[i])) / {K} >= 0.5
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT s AS v, s AS r FROM edges
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON reach.v = e.d
    )
    SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash+LSH
    near-dup pair graph (cluster_id = min doc_id in component) — the
    keep-one-per-cluster shape of corpus dedup. Hybrid labeling: below
    the edge-count threshold the pair list is collected as one Arrow
    batch and labeled by a vectorized numpy union-find on the driver
    (one collect), large-star/small-star contraction above it (O(log n)
    bounded shuffles). The DuckDB twin is a recursive reachability CTE. Pair
    emission reads the same materialized signature artifact layout as
    minhash_near_dup_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sigs, stats = _signature_table(spark, sf_dir, docs)
    pairs = dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", shingle_n=3, k=K, bands=BANDS, rows=ROWS,
        threshold=0.5, signatures=sigs, band_stats=stats,
    )
    return dd.connected_components(pairs, "doc_a", "doc_b")


_HEXPOS = "strpos('0123456789abcdef', substring(h, (b // 4) + 1, 1)) - 1"
_BIT = f"(({_HEXPOS}) // CAST(power(2.0, 3 - (b % 4)) AS INT)) % 2"


# The 64-char '0'/'1' SimHash signature of every document — shared by
# the demoted signatures gate and the registered pairs oracle below.
_SIMHASH_SIG_CTE = f"""
        WITH hashed AS (
            SELECT doc_id, list_transform({_TOKS}, t -> md5(t)) AS hs
            FROM documents
        ),
        sig AS (
            SELECT doc_id,
                   array_to_string(list_transform(range(0, 64), b ->
                       CASE WHEN coalesce(list_sum(list_transform(hs, h ->
                               CASE WHEN {_BIT} = 1 THEN 1 ELSE -1 END)), 0) >= 0
                            THEN '1' ELSE '0' END), '') AS simhash
            FROM hashed
        )
"""

# Demoted round 7 (the registered simhash_near_dup_pairs computes these
# signatures as the first projection of its plan, so the encoding stays
# oracle-checked there); pytest-gated via tests/test_demoted_oracles.py.
SIMHASH_SIG_ORACLE = _SIMHASH_SIG_CTE + "SELECT doc_id, simhash FROM sig"

_SIMHASH_HAMMING = (
    "len(list_filter(range(1, 65), i -> "
    "substring(a.simhash, i, 1) <> substring(b.simhash, i, 1)))"
)


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (frequency-weighted token hashing).
    Near-dup = small Hamming distance; bucket by bit-bands to search at
    scale (same LSH machinery as MinHash). Token hashes are projected
    once JVM-side; the per-doc ±1 bit sums run in the round-13 arrow
    kernel (operators/dedup.simhash_signatures, bitwise-exact vs the
    aggregate-fold expr arm)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_signatures(docs, "doc_id", "text", n_bits=64)


@register(
    "simhash_near_dup_pairs",
    headline=True,
    tables=("documents",),
    oracle=_SIMHASH_SIG_CTE
    + f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_SIMHASH_HAMMING} AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE {_SIMHASH_HAMMING} <= 3
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via banded Hamming-LSH:
    the 64-bit signature splits into 4 contiguous 16-bit bands, and the
    pigeonhole guarantee (Manku et al.) makes the band equi-join
    LOSSLESS for max_hamming <= bands-1 — which is why the oracle can
    be the brute-force all-pairs Hamming join over the same signature
    CTE: at sf0.01 that is 125k pairs for DuckDB, while the Spark plan
    only ever touches same-band buckets (one shuffle, never the cross
    product). Signature computation is the first projection of this
    plan, so the bit encoding stays oracle-checked after
    simhash_signatures moved to the pytest gate."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_near_dup_pairs(
        docs, "doc_id", "text", n_bits=64, bands=4, max_hamming=3,
        max_bucket=None,  # oracle sees every bucket (explicit opt-out)
    )


_FP = (
    f"coalesce(list_min(list_transform({_SHINGLES}, g -> md5(g))), "
    f"md5(array_to_string({_TOKS}, ' ')))"
)


@register(
    "ngram_jaccard_pairs",
    tables=("documents",),
    oracle=f"""
        WITH f AS (
            SELECT doc_id, {_FP} AS fp, {_SHINGLES} AS sh FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                 / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
                 AS jaccard_sim
        FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE len(a.sh) + len(b.sh) > 0
          AND len(list_filter(a.sh, x -> list_contains(b.sh, x)))
              / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
              >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing a winnowing
    fingerprint (cheap bucket join, never all-pairs). Registry runs
    ``max_bucket=None`` so the oracle sees every bucket; the operator's
    cap (cap_buckets on fp — the boilerplate-cohort guard shared with
    MinHash/SimHash) is pinned by tests/test_dedup.py's subset test."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_bucket=None
    )


_EMB_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


# Demoted to the pytest parity gate in round 9 (tests/
# test_demoted_oracles.py) to free its 50-slot registry seat for
# semantic_dedup below: both are embedding-cosine near-dup screens, and
# the k-means-clustered variant exercises strictly more machinery at
# the driver gate (trained centroids + assignment + pair screen) while
# this SRP-bucketed one stays fully oracle-verified in-tree.
EMBEDDING_NEAR_DUP_ORACLE = f"""
        WITH planes AS (
            SELECT vec_id AS plane_id, embedding AS pe
            FROM embeddings WHERE vec_id < 4
        ),
        b AS (
            SELECT e.vec_id, e.embedding,
                   string_agg(CASE WHEN ({_EMB_DOT.format(a="e.embedding", b="p.pe")}) >= 0
                                   THEN '1' ELSE '0' END, ''
                              ORDER BY p.plane_id) AS bucket
            FROM embeddings e CROSS JOIN planes p
            GROUP BY e.vec_id, e.embedding
        ),
        q AS (
            SELECT a.vec_id AS vec_a, v.vec_id AS vec_b,
                   CAST(
                     ({_EMB_DOT.format(a="a.embedding", b="v.embedding")})
                     / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(v.embedding, x -> x::DOUBLE * x::DOUBLE))))
                     AS DECIMAL(10,4)) AS cos_sim
            FROM b a
            JOIN b v ON a.bucket = v.bucket AND a.vec_id < v.vec_id
        )
        SELECT vec_a, vec_b, CAST(cos_sim AS DOUBLE) AS cos_sim
        FROM q WHERE cos_sim >= 0.35
    """


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups blocked by SRP-LSH bucket (reusing
    operators.similarity._with_buckets — 4 deterministic planes → 16
    buckets). The candidate join is an EQUI-join on the bucket string,
    so the pair count is bounded by per-bucket size (tunable via
    2^planes) instead of a data label whose hottest value becomes a
    mega-bucket at 100 TB — the scale-safe blocking the label-based
    form could not give.

    Cosine is quantized to DECIMAL(10,4) so engine-level double
    summation differences (≪1e-10) can't flip the comparison. Since
    round 9 this routes through operators/semantic.srp_near_dup_pairs
    (which adds the max_bucket cohort guard the other miners carry);
    max_bucket=None here so the oracle sees every bucket."""
    from mapreduce_implementation_spark.operators.semantic import (
        srp_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("plane_emb")
    )
    pairs = srp_near_dup_pairs(
        emb.select("vec_id", "embedding"),
        planes,
        threshold=0.35,
        max_bucket=None,
    )
    return pairs.withColumnRenamed("id_a", "vec_a").withColumnRenamed(
        "id_b", "vec_b"
    )


# Pytest-gated (no registry slot): the cross-set / incremental-ingest
# variant of the MinHash pair miner — new (odd doc_id) vs reference
# (even doc_id) halves of the corpus. The oracle reuses the registered
# banded CTE with the self-join swapped for the parity-straddling
# cross join; parity via tests/test_demoted_oracles.py.
MINHASH_CROSS_ORACLE = (
    _MINHASH_CTE
    + f""",
    cross_cand AS (
        SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
        FROM bands n
        JOIN bands r ON n.j = r.j AND n.band_hash = r.band_hash
        WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
    )
    SELECT c.new_id, c.ref_id,
           len(list_filter(range(1, {K} + 1), i -> sa.sig[i] = sb.sig[i])) / {K} AS est_jaccard
    FROM cross_cand c
    JOIN sigs sa ON sa.doc_id = c.new_id
    JOIN sigs sb ON sb.doc_id = c.ref_id
    WHERE len(list_filter(range(1, {K} + 1), i -> sa.sig[i] = sb.sig[i])) / {K} >= 0.5
    """
)


def minhash_cross_near_dup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set near-dup pairs: odd-id docs (the 'new batch') against
    even-id docs (the 'reference corpus')."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, "doc_id", "text", shingle_n=3, k=K)
    new_sigs = sigs.where(F.col("doc_id") % 2 == 1)
    ref_sigs = sigs.where(F.col("doc_id") % 2 == 0)
    return dd.minhash_cross_near_dup(
        new_sigs, ref_sigs, k=K, bands=BANDS, rows=ROWS, threshold=0.5
    )


# Fixture-calibrated: the synthetic sf0.01 embeddings are near-
# orthogonal (max within-cluster cosine < 0.5), so the production-
# grade SemDeDup epsilon (~0.95) would drop nothing and gate nothing;
# 0.35 drops 78 of 500 vectors — both keep branches exercised.
SEMANTIC_THRESHOLD = 0.35


@register(
    "semantic_dedup",
    tables=("embeddings",),
    oracle=f"""
        WITH {_sq._kmeans_ctes(_sq.N_CENTROIDS, _sq.KMEANS_ITERS)},
        va AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {_sq._cos("e.embedding", "c.ce")} DESC,
                                    c.centroid_id) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id AS db
            FROM va a
            JOIN va b ON a.centroid_id = b.centroid_id
                     AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE {_sq._cos("ea.embedding", "eb.embedding")}
                  >= {SEMANTIC_THRESHOLD}
        )
        SELECT v.vec_id, v.centroid_id,
               CAST(CASE WHEN d.db IS NULL THEN 1 ELSE 0 END AS INT) AS keep
        FROM va v LEFT JOIN dropped d ON v.vec_id = d.db
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/semantic.py): the IVF
    stack's trained k-means clusters block the candidate join (equi on
    centroid_id — never all-pairs), then a quantized within-cluster
    cosine screen drops every vector with a smaller-id near-twin. One
    row per input vector, keep in {0, 1}. The oracle replays the
    identical Lloyd training as unrolled CTEs (shared with
    similarity_topk_ivf) and the same pairwise min-id-exemplar rule.
    Registry runs max_cluster=None so the oracle sees every cluster;
    the mega-cluster guard is pinned by tests/test_semantic.py."""
    from mapreduce_implementation_spark.operators import semantic as sem

    emb = load_table(spark, sf_dir, "embeddings")
    vectors = dd.spread(emb.select("vec_id", "embedding"))
    return sem.semantic_dedup(
        vectors,
        "vec_id",
        "embedding",
        k=_sq.N_CENTROIDS,
        iters=_sq.KMEANS_ITERS,
        threshold=SEMANTIC_THRESHOLD,
        max_cluster=None,
    )


# ---------------------------------------------------------------------------
# Slice-path parity twin (round-12 verdict item 2, pytest-gated in
# tests/test_demoted_oracles.py): the DEFAULT semantic_dedup path is
# exempt_strategy="slice", but the registry row above runs
# max_cluster=None, so the slice arm was guarded only by the
# planted-twin pytest. The slice semantics are deterministic and
# SQL-expressible — this oracle replays them end to end on a FORCED
# oversized cluster: a fixed vec_id-derived assignment puts 450 of the
# 500 fixture vectors in one cluster (oversized at max_cluster=64, 8
# slices) and the rest in five small clusters (the normal arm).
#
# _SLICE_W pins the slice projection's per-dimension weights —
# Spark-side they are `xxhash64("semslice", j) % 1_000_001` (see
# operators/semantic._slice_projection); DuckDB has no xxhash64, so the
# 64 integers for the fixture's d=64 are inlined as literals and a
# drift test (test_demoted_oracles.test_slice_projection_weights_pinned)
# re-evaluates the Spark expression against this list. The projection
# fold is replayed bit-for-bit: both engines left-fold
# emb[j]::DOUBLE * (w_j / 1e6) in index order from 0.0.
_SLICE_W = [
    61582, 508309, -756124, 719317, -80810, -859033, -622044, -617338,
    -966593, 629759, 74867, -664791, -955556, 136320, 439803, -47251,
    374116, -909988, -166263, 667287, 571922, -604689, -931350, 691254,
    260167, 483235, -236408, -350089, -670538, -47809, 79028, -316346,
    -975480, 25527, 857620, -762861, 261475, 611509, 286422, -8098,
    790013, -694285, -463729, 655176, -992669, -326691, 720112, -923116,
    422060, 269663, -914010, 236413, 831100, 139122, -618515, -982013,
    -588628, 27868, -790250, -317341, -310793, 563918, 274244, -950543,
]

SEMANTIC_SLICE_MAX_CLUSTER = 64

SEMANTIC_SLICE_ORACLE = f"""
    WITH w AS (
        SELECT {list(_SLICE_W)}::BIGINT[] AS wv
    ),
    va AS (
        SELECT vec_id, embedding,
               CAST(CASE WHEN vec_id < 450 THEN 0
                         ELSE vec_id % 5 + 1 END AS INT) AS centroid_id
        FROM embeddings
    ),
    sizes AS (
        SELECT centroid_id, COUNT(*) AS csize FROM va GROUP BY centroid_id
    ),
    small AS (
        SELECT va.vec_id, va.embedding, va.centroid_id
        FROM va JOIN sizes USING (centroid_id)
        WHERE csize <= {SEMANTIC_SLICE_MAX_CLUSTER}
    ),
    small_dropped AS (
        SELECT DISTINCT b.vec_id AS db
        FROM small a
        JOIN small b ON a.centroid_id = b.centroid_id
                    AND a.vec_id < b.vec_id
        WHERE {_sq._cos("a.embedding", "b.embedding")}
              >= {SEMANTIC_THRESHOLD}
    ),
    big AS (
        SELECT va.vec_id, va.embedding, va.centroid_id,
               list_sum(list_transform(
                   range(1, len(va.embedding) + 1),
                   i -> va.embedding[i]::DOUBLE * (w.wv[i] / 1000000.0)
               )) AS proj
        FROM va JOIN sizes USING (centroid_id) CROSS JOIN w
        WHERE csize > {SEMANTIC_SLICE_MAX_CLUSTER}
    ),
    positioned AS (
        SELECT vec_id, embedding, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY centroid_id
                                  ORDER BY proj, vec_id) - 1 AS rel
        FROM big
    ),
    members AS (
        SELECT vec_id, embedding, centroid_id,
               rel // {SEMANTIC_SLICE_MAX_CLUSTER} AS sl
        FROM positioned
        UNION ALL
        SELECT vec_id, embedding, centroid_id,
               rel // {SEMANTIC_SLICE_MAX_CLUSTER} - 1 AS sl
        FROM positioned
        WHERE rel % {SEMANTIC_SLICE_MAX_CLUSTER} = 0
          AND rel // {SEMANTIC_SLICE_MAX_CLUSTER} > 0
    ),
    big_dropped AS (
        SELECT DISTINCT b.vec_id AS db
        FROM members a
        JOIN members b ON a.centroid_id = b.centroid_id
                      AND a.sl = b.sl
                      AND a.vec_id < b.vec_id
        WHERE {_sq._cos("a.embedding", "b.embedding")}
              >= {SEMANTIC_THRESHOLD}
    ),
    dropped AS (
        SELECT db FROM small_dropped UNION SELECT db FROM big_dropped
    )
    SELECT v.vec_id, v.centroid_id,
           CAST(CASE WHEN d.db IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM va v LEFT JOIN dropped d ON v.vec_id = d.db
    """


def semantic_dedup_slice_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slice arm of operators/semantic.semantic_dedup under a
    FORCED oversized cluster: assignment is precomputed (the vec_id
    rule above — 450-row cluster 0 plus five 10-row clusters), so the
    twin isolates exactly the machinery the oracle replays: size
    detection, projection sort, contiguous positioning, floor-division
    slices, the one-row overlap, the within-slice screen, and the
    normal arm on the small clusters."""
    from mapreduce_implementation_spark.operators import semantic as sem

    emb = load_table(spark, sf_dir, "embeddings")
    assignment = dd.spread(emb.select("vec_id", "embedding")).withColumn(
        "centroid_id",
        F.when(F.col("vec_id") < 450, F.lit(0))
        .otherwise(F.col("vec_id") % 5 + 1)
        .cast("int"),
    )
    return sem.semantic_dedup(
        assignment,
        "vec_id",
        "embedding",
        assignment=assignment,
        threshold=SEMANTIC_THRESHOLD,
        max_cluster=SEMANTIC_SLICE_MAX_CLUSTER,
        exempt_strategy="slice",
    )
