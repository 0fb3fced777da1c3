"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — the LLM-pipeline dedup family (BASELINE.json north
star), all pure DataFrame compositions.

Portability-by-construction (so every step has a DuckDB oracle twin):
* MinHash permutation family: ``h_i(shingle) = md5(i || ':' || shingle)``
  with the MIN taken over the md5 *hex strings* — a valid min-wise
  hashing scheme whose output is engine-identical (md5 hex matches).
* SimHash bit extraction works on the md5 hex string with integer
  arithmetic only (no platform hash functions).

Scale design (100 TB):
* Exact dedup: hash-groupBy on the content hash — one shuffle keyed by
  a uniform 128-bit key; no skew by construction.
* MinHash/LSH: the only shuffle is groupBy(band_id, band_hash); bucket
  size is controlled by (bands, rows-per-band) tuning, and a
  ``max_bucket`` cap guards pathological buckets (boilerplate docs) —
  the standard web-dedup guard. Signatures are computed scan-side.
* The pairwise verify step only touches candidate pairs, never the
  full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.caching import track_cache
from mapreduce_implementation_spark.functions.text import tokens, word_ngrams
from mapreduce_implementation_spark.functions.textstats import content_hash

HEX = "0123456789abcdef"


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen thin inputs before expression-heavy projections.

    Higher-order-function pipelines (shingle → hash → permute) run
    OUTSIDE whole-stage codegen, so per-row cost is high; a small
    parquet file scans as ONE partition and serializes that work onto a
    single core. At 100 TB the scan has thousands of files and this is
    a no-op; at bench/test scale it is a 30× parallelism fix.
    Round-robin repartition: no keys, no skew.

    Thinness probe: ``df.inputFiles()`` (an analyzed-plan walk — no
    physical planning, unlike ``df.rdd.getNumPartitions()``, which
    forces a full Catalyst→RDD conversion per call), refined by file
    SIZE where the paths are local: scan parallelism is
    ~sum(ceil(size / maxPartitionBytes)) because large files split —
    file count alone would mislabel 500 × 2 GB files as "thin" on a
    2000-core cluster and round-robin-shuffle the whole corpus. When
    sizes are unresolvable (object-store URIs), >= target files still
    proves width; otherwise be CONSERVATIVE and skip the exchange: a
    missed repartition serializes expression work (slow, correct), a
    spurious one reshuffles raw text at corpus scale (the worse
    failure). No-file sources split the same way: a driver-local
    relation (createDataFrame test frame) is provably tiny and gets the
    defensive repartition; any other no-file source (DSv2 table, JDBC,
    a foreachBatch micro-batch) may be corpus-sized and is left
    alone."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # no file-source scan in the plan. Repartition ONLY when the
        # source is driver-local (createDataFrame test frames —
        # provably tiny); an unknown no-file source (DSv2 table, JDBC,
        # foreachBatch frame) may be the whole corpus, and a spurious
        # round-robin exchange of raw text is the worse failure —
        # skip, per the conservative rule above. Probe: every LEAF of
        # the optimized logical plan is a LocalRelation/OneRowRelation
        # — then ALL data is driver-held regardless of what sits above
        # it (projections ConvertToLocalRelation cannot collapse —
        # non-deterministic exprs, Python UDFs, mapInPandas — or even
        # a self-join of local frames), while a plan that joins a
        # LocalRelation branch to any real source has a non-local leaf
        # and never matches. The round-8 ROOT-string probe missed the
        # non-collapsible-projection cases and silently serialized
        # their expression work (round-8 ADVICE). The private _jdf
        # accessor is guarded — under Spark Connect (no _jdf) fall
        # back to the conservative no-exchange path.
        try:
            stack = [df._jdf.queryExecution().optimizedPlan()]
            saw_leaf = False
            while stack:
                node = stack.pop()
                children = node.children()
                n = children.size()
                if n == 0:
                    saw_leaf = True
                    # case-object leaves (OneRowRelation) carry a $
                    if not node.getClass().getSimpleName().startswith(
                        ("LocalRelation", "OneRowRelation")
                    ):
                        return df
                for i in range(n):
                    stack.append(children.apply(i))
        except Exception:
            return df
        return df.repartition(target) if saw_leaf else df
    if len(files) >= target:
        return df
    est_splits = _estimate_scan_splits(df.sparkSession, files)
    if est_splits is not None and est_splits < target:
        return df.repartition(target)
    return df


def _estimate_scan_splits(spark, files: list[str]) -> int | None:
    """Sum of per-file split counts at maxPartitionBytes, or None when
    any size is unresolvable (non-local URI) — driver-side stat calls
    on local paths only, no Spark job."""
    import os as _os
    from urllib.parse import urlparse

    conf = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    digits = "".join(ch for ch in conf if ch.isdigit()) or "134217728"
    unit = conf[len(digits):].strip().lower()
    max_pb = int(digits) * {
        "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
        "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
    }.get(unit, 1)
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            size = _os.path.getsize(parsed.path or uri)
        except OSError:
            return None
        total += max(1, -(-size // max_pb))
    return total


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word-n-gram shingles of lowercased text."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(word_ngrams(tokens(F.lower(col), mode="simple"), n))


MERSENNE_P = 2_147_483_647  # 2^31 - 1

# Deterministic permutation constants (seeded; shared verbatim with the
# DuckDB oracle SQL in plans/dedup_queries.py via these module constants).
import random as _random

_rng = _random.Random(42)
PERM_A = [_rng.randrange(1, MERSENNE_P) for _ in range(64)]
PERM_B = [_rng.randrange(0, MERSENNE_P) for _ in range(64)]
del _rng


def shingle_ints(shingle_col: Column) -> Column:
    """Hash each shingle ONCE to an int in [0, 2^31-1). This is the
    expensive step — everything downstream is cheap arithmetic.

    First 15 hex chars of md5 parsed as int, reduced mod the Mersenne
    prime — the ORACLE hash (DuckDB replays it bit-for-bit via its own
    md5/conv, plans/dedup_queries.py). A cheaper strong hash is no
    lever here: the round-14 decomposition measured md5 at ~1 s of the
    ~30 s 1M-doc signature chain — tokenize + ngram + array_distinct
    own ~20 s (BASELINE.md r14) — which is why the cheaper-per-row
    family is :func:`shingle_ints_from_token_hashes`, not another hash
    over the same strings."""
    return F.transform(
        shingle_col,
        lambda g: F.conv(
            F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10
        ).cast("long")
        % MERSENNE_P,
    )


def token_hash_ints(toks: Column) -> Column:
    """xxhash64 per token — project this as a COLUMN (``_th``) before
    :func:`shingle_ints_from_token_hashes` so each token hashes ONCE
    (the staged-projection rule: Catalyst has no CSE across output
    columns, and the shingle transform references the array once per
    n-gram position)."""
    return F.transform(toks, lambda t: F.xxhash64(t))


def shingle_ints_from_token_hashes(
    th: Column, n: int, *, mod_p: bool = True
) -> Column:
    """Distinct shingle int64s DIRECTLY from token-hash slices — no
    shingle string is ever materialized (round-15 verdict item 1: the
    token-hash-slice span hash of operators/contamination.py applied
    to the signature chain, where the r14 decomposition measured
    tokenize + ngram-concat + array_distinct-over-strings at ~20.5 s
    of the ~31 s 1M-doc build while the strong hash itself was ~1 s).
    Each n-gram hashes as xxhash64 over the n-long int64 slice of
    ``th``; ``mod_p`` reduces into [0, MERSENNE_P) — the MinHash
    permutation domain (same SHAPE as :func:`shingle_ints`, different
    VALUES: tokhash is its own signature family, incompatible with the
    md5-over-strings build — both sides of any banded or cross-set
    join must agree). ``mod_p=False`` keeps the full 64-bit
    domain for set-membership uses (exact-Jaccard rides, winnowing
    fingerprints) where the tighter 2³¹ domain would raise the
    within-doc collision rate for no benefit. Token arrays shorter
    than ``n`` yield an EMPTY array (NULL signature downstream — the
    same contract as the string path). Collision contract: two
    distinct n-grams merge at ~1/2⁶⁴ (1/2³¹ after mod_p, identical to
    the md5-path's post-mod domain), the bound already accepted for
    shingle_ints."""
    gram = (
        (lambda i: F.pmod(F.xxhash64(F.slice(th, i + 1, n)), F.lit(MERSENNE_P)))
        if mod_p
        else (lambda i: F.xxhash64(F.slice(th, i + 1, n)))
    )
    return F.when(
        F.size(th) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(0), F.size(th) - F.lit(n)), gram)
        ),
    ).otherwise(F.array().cast("array<long>"))


def minhash_signature_from_ints(xs: Column, k: int = 16) -> Column:
    """k-component MinHash signature via k linear permutations
    ``(a_i * x + b_i) mod p`` over pre-hashed shingle ints — the
    standard one-strong-hash / k-cheap-permutations scheme.

    ``xs`` MUST be a projected COLUMN (not the shingle_ints expression
    inline): the expression appears once per permutation and Catalyst
    does not CSE it, so inlining reruns the md5 pass k times. Null for
    rows with no shingles."""

    def _perm(a: int, b: int) -> Column:
        # closure, NOT lambda default args — pyspark HOF lambdas must be
        # unary (see functions/textstats.py langid note)
        return F.array_min(F.transform(xs, lambda x: (a * x + b) % MERSENNE_P))

    components = [_perm(PERM_A[i], PERM_B[i]) for i in range(k)]
    return F.when(F.size(xs) > 0, F.array(*components))


def minhash_signature(shingle_col: Column, k: int = 16) -> Column:
    """Single-expression form (hashes shingles k× — use the staged
    ``shingle_ints`` → ``minhash_signature_from_ints`` projections on
    hot paths; kept for small/ad-hoc inputs)."""
    return F.when(
        F.size(shingle_col) > 0,
        minhash_signature_from_ints(shingle_ints(shingle_col), k),
    )


def _validate_minhash_bands(k: int, bands: int, rows: int) -> None:
    if bands * rows != k:
        raise ValueError(
            f"signature length must equal bands*rows ({bands}*{rows} != {k}): "
            "a mismatch would silently slice wrong band boundaries"
        )


def band_hashes_column(bands: int, rows: int) -> str:
    """Name of the precomputed band-hash column (r17): the band/rows
    knobs are baked into the NAME so a table built at one banding can
    never silently feed a miner running another — a mismatched miner
    simply doesn't find the column and recomputes from ``sig``."""
    return f"_bands_{bands}x{rows}"


def band_hashes(sig: Column, bands: int, rows: int) -> Column:
    """Positional band-hash array (band_id = array position): md5 over
    the ``|``-joined r-slice of the signature per band, NULL for NULL
    signatures — the one banding expression. Computed ONCE at
    signature-table write time (``minhash_signatures(with_bands=...)``)
    it replaces the three runtime band-hash evaluations a miner build
    otherwise pays (the counts job + both sides of the band self-join)
    — guide §2.3
    "shuffle keys and metadata instead of [re-deriving them]"."""
    return F.when(
        sig.isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda j: F.md5(
                F.concat_ws("|", F.slice(sig, j * rows + 1, rows)).cast(
                    "binary"
                )
            ),
        ),
    )


def _minhash_banded(
    sigs: DataFrame,
    out_id: str,
    bands: int,
    rows: int,
    keep_sig: bool = False,
) -> DataFrame:
    """Band-exploded projection shared by the in-set and cross-set
    MinHash miners: one (id, band_id, band_hash) row per band; NULL
    signatures (shingle-less docs) drop here. ``keep_sig`` rides the
    full signature on every band row — the vectorized-screen input
    (the band shuffle then carries bands× sig copies, which buys the
    screen zero candidate enumeration and zero post-distinct sig
    joins; see minhash_near_dup_pairs pair_screen="blas").

    When ``sigs`` carries the matching precomputed band-hash column
    (:func:`band_hashes_column` — written by the signature-table
    build), the explode reads it POSITIONALLY instead of re-evaluating
    the md5-over-slice chain: the values are identical by
    construction, the banded scan column-prunes to the band array
    (the sig column stays unread unless ``keep_sig``), and the
    knob-stamped name guarantees a foreign banding can never match."""
    extra = ["sig"] if keep_sig else []
    pre = band_hashes_column(bands, rows)
    if pre in sigs.columns:
        # filter on the band column itself (NULL iff sig NULL, by
        # band_hashes' construction) so a committed-table counts scan
        # column-prunes to ONLY the band array — the sig column stays
        # unread unless keep_sig rides it
        return sigs.where(F.col(pre).isNotNull()).select(
            F.col("doc_id").alias(out_id),
            F.posexplode(F.col(pre)).alias("band_id", "band_hash"),
            *extra,
        )
    return sigs.where(F.col("sig").isNotNull()).select(
        F.col("doc_id").alias(out_id),
        F.posexplode(band_hashes(F.col("sig"), bands, rows)).alias(
            "band_id", "band_hash"
        ),
        *extra,
    )


def _minhash_blas_screen(id_col: str, k: int, threshold: float):
    """Per-bucket signature-agreement screen as ONE numpy broadcast —
    the MinHash face of the Gram-matmul screens (semantic._blas_screen
    lineage): within a bounded band bucket, the (c, k) int signature
    matrix compares against itself ((c, 1, k) == (1, c, k) summed over
    k), the strict upper triangle of est = counts / k >= threshold
    becomes the emitted pairs, and the same pair surfacing from
    several bands carries the identical est, so a plain .distinct()
    dedupes downstream. est arithmetic is bit-identical to the join
    path's size(filter(zip_with)) / k double division."""

    def screen(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "doc_a": pdf[id_col].iloc[0:0],
                    "doc_b": pdf[id_col].iloc[0:0],
                    "est_jaccard": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values(id_col)
        s = np.stack(pdf["sig"].to_numpy())
        est = (s[:, None, :] == s[None, :, :]).sum(axis=2) / float(k)
        ia, ib = np.nonzero(np.triu(est >= threshold, k=1))
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "doc_a": ids[ia],
                "doc_b": ids[ib],
                "est_jaccard": est[ia, ib],
            }
        )

    return screen


# Default LSH-bucket cap for every pair miner. A bucket of B members
# yields ~B²/2 candidate pairs, so 1000 bounds any single cohort at
# ~500k pairs — large enough that genuine near-dup clusters (tens to
# hundreds of members in web corpora) are untouched, small enough that
# a boilerplate cohort cannot square (the round-8 measured case: a
# 2.0M-pair cohort square took 401.6s uncapped vs 6.3s at max_bucket
# =100 — BASELINE.md). Callers doing oracle-exact parity pass
# ``max_bucket=None`` EXPLICITLY (the registry rows do); a 100 TB
# caller on defaults gets the capped shape.
DEFAULT_MAX_BUCKET = 1000

# pair_screen="auto" crossover: choose the vectorized (blas) per-group
# screen when the MEAN SURVIVING GROUP SIZE is at least this many rows,
# the enumerate-and-fold join below it. applyInPandas costs per GROUP
# (Arrow batch + Python dispatch), the join costs per candidate PAIR:
# tiny groups generate almost no pairs but still pay the group toll.
# MEASURED (BASELINE.md, "Round 13 — pair_screen=auto" sweep: 200k
# dim-64 vectors, bucket = id//m, min-of-2 interleaved, seconds join
# vs blas):
#   m=1 0.55/23.07  m=2 0.59/13.07  m=4 0.76/7.51  m=8 1.08/4.19
#   m=16 1.66/2.53  m=32 3.03/1.70  m=64 5.35/1.25
# — join wins through m=16, blas from m=32; 24 is the midpoint. The
# round-12 endpoints agree: minhash at 1M docs (~4M mostly-singleton
# buckets) join 28.5 s vs blas 287 s; SRP ~64-member buckets blas
# 6.0×; semantic bounded clusters blas 7.7× (BASELINE.md).
AUTO_SCREEN_MIN_MEAN = 24.0


def choose_pair_screen(
    small_rows: int,
    small_groups: int,
    big_rows: int,
    max_bucket: int,
    sliced: bool,
) -> str:
    """The pair_screen="auto" decision rule (shared by the MinHash,
    SRP and semantic miners): compute the mean size of the groups the
    screen will actually see and compare against the measured
    crossover. Under a slice strategy the oversized mass is cut into
    ~max_bucket-sized groups (ideal blas groups); under drop
    strategies it never reaches the screen."""
    rows = small_rows + (big_rows if sliced else 0)
    groups = small_groups + (
        -(-big_rows // max_bucket) if sliced and big_rows else 0
    )
    if groups <= 0:
        return "join"  # nothing survives — shape is irrelevant
    return "blas" if rows / groups >= AUTO_SCREEN_MIN_MEAN else "join"


def _group_size_stats(df: DataFrame, part_cols, max_bucket: int, counts=None):
    """One bounded agg feeding choose_pair_screen: (small_rows,
    small_groups, big_rows) over the grouped frame. Partial agg — only
    (key, count) rows shuffle, and the second-level agg folds them to
    ONE driver row. This is the eager job pair_screen="auto" pays at
    build time; callers that know their regime pin "join"/"blas" to
    skip it. ``counts``: a precomputed (and ideally checkpointed)
    ``DataFrame[..., _n]`` of per-group sizes — lets a caller that
    already counted the groups (calibrate_corpus shares one counts
    pass between the skew report and this) skip the second
    corpus-scale pass."""
    sized = (
        counts
        if counts is not None
        else df.groupBy(*part_cols).agg(F.count(F.lit(1)).alias("_n"))
    )
    row = (
        sized.select(
            F.coalesce(
                F.sum(F.when(F.col("_n") <= max_bucket, F.col("_n"))),
                F.lit(0),
            ).alias("small_rows"),
            F.count_if(F.col("_n") <= max_bucket).alias("small_groups"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > max_bucket, F.col("_n"))),
                F.lit(0),
            ).alias("big_rows"),
        )
        .first()
    )
    return int(row.small_rows), int(row.small_groups), int(row.big_rows)


def _counts_with_stats(df: DataFrame, part_cols, max_bucket: int):
    """ONE corpus-scale job producing BOTH the checkpointed
    ``(key, count)`` frame and the ``choose_pair_screen`` stats
    (round-14 verdict item 1): the screen-decision moments ride an
    ``Observation`` on the counts checkpoint, so the same pass that
    materializes the size distribution for the cap/slice stage also
    answers the regime question. Previously the ``pair_screen="auto"``
    decision paid a separate full band-explode + agg that
    ``cap_buckets``/``slice_buckets`` then recomputed — two or three
    corpus-scale passes per miner build; now every build-time decision
    and the cap/slice detection read this one checkpointed frame.
    The eager-checkpoint-then-observe shape is the AQE-safe metrics
    pattern cap_buckets documents."""
    from pyspark.sql import Observation

    obs = Observation()
    counts = (
        df.groupBy(*part_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .observe(
            obs,
            F.coalesce(
                F.sum(F.when(F.col("_n") <= max_bucket, F.col("_n"))),
                F.lit(0),
            ).alias("small_rows"),
            F.count_if(F.col("_n") <= max_bucket).alias("small_groups"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > max_bucket, F.col("_n"))),
                F.lit(0),
            ).alias("big_rows"),
        )
        .localCheckpoint(eager=True)
    )
    g = obs.get
    return counts, (
        int(g["small_rows"]), int(g["small_groups"]), int(g["big_rows"])
    )


def minhash_band_stats(
    spark,
    sigs: DataFrame,
    sidecar_dir: str | None,
    *,
    bands: int,
    rows: int,
    max_bucket: int | None,
) -> dict:
    """The (band, count) snapshot as a SECOND ARTIFACT of the
    signature-table build (r17 verdict item 1): computed once when the
    table is committed and persisted next to it, so every miner over
    that table answers its build-time decisions (screen regime,
    oversized-bucket existence, the anti-join heavy-hitter list) with
    ZERO decision jobs — where previously EACH miner build re-ran the
    corpus-scale counts pass (`_counts_with_stats`) over the banded
    frame (~0.27 s warm locally per build; one full signature-table
    pass at any scale, paid by minhash_near_dup_pairs, dedup_clusters
    and the corpus pipeline alike).

    Artifacts under ``sidecar_dir``:

    * ``screen_stats.json`` — the choose_pair_screen moments
      (small_rows/small_groups/big_rows) plus the banding knobs, so a
      foreign (bands, rows, max_bucket) can never answer for this
      table (the miner validates, same rule as ``calibration=``), and
      the table's commit fingerprint (:func:`_table_fingerprint`), so
      a table REBUILT at the same path never inherits the old
      sidecar's answers (a stale ``big_rows == 0`` would elide the cap
      over a bucket that is now oversized). Either mismatch raises on
      reload.
    * ``band_counts/`` (parquet) — the per-key counts frame, written
      ONLY when an oversized bucket exists (``big_rows > 0``): it is
      the cap/slice detection input. The common no-oversized corpus
      pays one light stats job (two-level partial agg → one driver
      row, no checkpoint) and skips both the counts write AND — via
      the miner's cap elision — the whole cap subtree.

    Cost shape: when ``sigs`` carries the precomputed band-hash column
    the stats job scans ONLY that column (column-pruned committed
    parquet, no md5 re-evaluation). Snapshot contract (ADVICE r14):
    ``sigs`` must be the COMMITTED table (deterministic and stable
    between this snapshot and the miner's action) — exactly what
    ensure_table returns. ``max_bucket=None`` writes a knob-stamped
    no-stats meta (the miner needs no decisions there).

    ``sidecar_dir=None`` (the per-invocation artifact shape — e.g. a
    localCheckpoint'ed signature frame that dies with the query)
    computes the same snapshot WITHOUT persisting it: the stats job is
    identical, and an oversized corpus's counts frame becomes a
    tracked localCheckpoint instead of a parquet sidecar (same
    stability contract, released with the query's other blocks).

    Returns the dict ``minhash_near_dup_pairs(band_stats=...)``
    consumes: ``{"bands", "rows", "max_bucket", "screen_stats",
    "counts"}`` (counts None unless oversized)."""
    import json
    import os

    if sidecar_dir is None:
        stats = None
        counts = None
        if max_bucket is not None:
            from mapreduce_implementation_spark.caching import (
                track_local_checkpoint,
            )

            banded = _minhash_banded(sigs, "doc_id", bands, rows)
            sr, sg, br = _group_size_stats(
                banded, ("band_id", "band_hash"), max_bucket
            )
            stats = {"small_rows": sr, "small_groups": sg, "big_rows": br}
            if br > 0:
                counts = track_local_checkpoint(
                    banded.groupBy("band_id", "band_hash").agg(
                        F.count(F.lit(1)).alias("_n")
                    )
                )
        return {
            "bands": bands, "rows": rows, "max_bucket": max_bucket,
            "screen_stats": stats, "counts": counts,
        }

    meta_path = os.path.join(sidecar_dir, "screen_stats.json")
    counts_path = os.path.join(sidecar_dir, "band_counts")
    fingerprint = _table_fingerprint(sigs)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if (meta.get("bands"), meta.get("rows"), meta.get("max_bucket")) != (
            bands, rows, max_bucket,
        ):
            raise ValueError(
                f"band-stats sidecar at {sidecar_dir} was built at "
                f"bands={meta.get('bands')} rows={meta.get('rows')} "
                f"max_bucket={meta.get('max_bucket')}, not the requested "
                f"({bands}, {rows}, {max_bucket}) — rebuild the sidecar"
            )
        if meta.get("fingerprint") != fingerprint:
            raise ValueError(
                f"band-stats sidecar at {sidecar_dir} was built over "
                "other committed files than the signature table now "
                "holds (rebuilt at the same path?) — rebuild the sidecar"
            )
        stats = meta.get("screen_stats")
        counts = (
            spark.read.parquet(counts_path)
            if stats is not None and stats["big_rows"] > 0
            else None
        )
        return {
            "bands": bands, "rows": rows, "max_bucket": max_bucket,
            "screen_stats": stats, "counts": counts,
        }

    stats = None
    counts = None
    if max_bucket is not None:
        banded = _minhash_banded(sigs, "doc_id", bands, rows)
        sr, sg, br = _group_size_stats(
            banded, ("band_id", "band_hash"), max_bucket
        )
        stats = {"small_rows": sr, "small_groups": sg, "big_rows": br}
        if br > 0:
            # the detection input only exists when something to detect
            # does; committed parquet = the stable snapshot the
            # anti-join list reads at action time
            banded.groupBy("band_id", "band_hash").agg(
                F.count(F.lit(1)).alias("_n")
            ).write.mode("overwrite").parquet(counts_path)
            counts = spark.read.parquet(counts_path)
    os.makedirs(sidecar_dir, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(
            {
                "bands": bands, "rows": rows, "max_bucket": max_bucket,
                "screen_stats": stats, "fingerprint": fingerprint,
            },
            f,
        )
    return {
        "bands": bands, "rows": rows, "max_bucket": max_bucket,
        "screen_stats": stats, "counts": counts,
    }


def _table_fingerprint(sigs: DataFrame) -> list:
    """Sorted [file URI, byte size] pairs of the files ``sigs`` scans —
    ``inputFiles()`` plus local stat calls, driver-side, no Spark job.
    A rewrite at the same path commits new part-file names (each write
    job stamps its id into them), so the fingerprint of a rebuilt table
    never matches the previous commit's. Sizes of non-local URIs are
    None: the names alone still change per commit."""
    import os
    from urllib.parse import urlparse

    out = []
    for uri in sigs.inputFiles():
        parsed = urlparse(uri)
        size = None
        if parsed.scheme in ("", "file"):
            try:
                size = os.path.getsize(parsed.path or uri)
            except OSError:
                pass
        out.append([uri, size])
    return sorted(out)


def _validate_rep_params(cap_strategy: str, n_representatives: int) -> None:
    """Miner-level guard (ADVICE r12): asking for k>1 representatives
    under a drop strategy would silently lose the recall repair the
    parameter buys — refuse loudly instead."""
    if cap_strategy != "representative" and n_representatives != 1:
        raise ValueError(
            "n_representatives > 1 requires cap_strategy="
            f"'representative' (got {cap_strategy!r})"
        )


def cap_buckets(
    df: DataFrame,
    part_cols: tuple[str, ...],
    max_bucket: int | None,
    observation=None,
    strategy: str = "window",
    rep_id_col: str | None = None,
    n_representatives: int = 1,
    rep_stratum_col: str | None = None,
    counts: DataFrame | None = None,
    keys_nonnull: bool = False,
) -> DataFrame:
    """Drop rows in LSH buckets larger than ``max_bucket`` — the
    boilerplate-cohort guard shared by every banded pair miner (a band
    value shared by a degenerate cohort would square that bucket).
    No-op when ``max_bucket`` is None (the explicit opt-out; miners
    default to DEFAULT_MAX_BUCKET).

    Two plan strategies, chosen by the CALLER's join shape (round-10
    adjudication, measured both ways in BASELINE.md):

    * ``"window"`` (default) — ``count() OVER (PARTITION BY bucket)``
      then filter. Right for the IN-SET self-join miners: the window
      needs exactly the exchange+sort on ``part_cols`` that the
      caller's sort-merge self-join needs anyway, and Spark REUSES it
      (one exchange feeds the window, the filter, and both join
      sides), so at corpus scale the cap rides the join's own shuffle
      for ~free. Interleaved A/B at sf0.1 minhash: window 1.81 s vs
      anti-join 2.01 s min-of-3 (the anti-join pays a second banded
      scan and forfeits the reuse).
    * ``"antijoin"`` — detect oversized buckets with a column-pruned
      ``groupBy(bucket).count()`` partial agg (only (bucket, count)
      rows move), then BROADCAST left-anti join the list away. Right
      for the CROSS-SET miners: the committed/reference side must stay
      exchange-free per probing micro-batch (the band join broadcasts
      the small new side, or reads a bucketed catalog table in place —
      plan-gated in tests/test_streaming_pipeline.py), and the window
      form would force a full exchange+sort of the reference every
      batch. The heavy-hitter list is small by construction (≤
      rows/max_bucket entries — every entry represents > max_bucket
      rows). NULL bucket keys are retained under this strategy
      (anti-join equality never matches NULL) — harmless, since a NULL
      key also never matches in the pair join.
    * ``"representative"`` (requires ``rep_id_col``) — keep the
      min-``rep_id_col`` row of each oversized bucket instead of
      dropping the bucket entirely. The cross-set recall repair
      (round 11): a probing NEW doc only needs ONE reference match to
      be FLAGGED as a duplicate of the committed corpus, so one
      representative per boilerplate cohort preserves flag recall for
      cohort matches at one row per cohort — where the anti-join
      silently un-flags every new doc that matches a capped cohort
      (exactly the most-duplicated content). The verify step still
      runs against the representative's real signature, so precision
      is untouched; recall within HETEROGENEOUS oversized buckets is
      partial (the representative may not resemble every cohort
      member — measure with cross_miner_recall_probe). Same scan and
      exchange count as antijoin: the bucket min rides the detection
      agg itself (one partial-agg pass), the keep decision is one
      broadcast LEFT join + filter (deliberately not a union — Union
      discards bucketed output partitioning), and on a bucketed
      catalog table everything rides the bucketing — the committed
      side stays exchange-free, plan-gated.

    ``n_representatives=k`` (round 12, ``"representative"`` only)
    keeps k rows per oversized bucket instead of one: the bucket is
    cut into k hash strata (keyed by ``rep_stratum_col`` — pass the
    row's SIGNATURE/content column so sub-families split
    deterministically when their content hashes differ — or the id
    hash), and each stratum keeps the row minimizing a SALTED id
    hash: k deterministic pseudo-uniform draws. NOT min-id per
    stratum — an id-ordered sub-family would monopolize every stratum
    it touches; uniform draws miss a fraction-p sub-family with
    probability only (1-p)^k. Repairs flag recall on heterogeneous
    cohorts under single-bucket blocking (SRP: 0.5 → 1.0 on the
    planted two-family cohort) and pair recall under multi-band
    blocking (BASELINE.md round 12). k=1 keeps the round-11 exact
    min-id behavior.

    ``observation`` (``pyspark.sql.Observation``, or a string name)
    makes the recall cost visible as ``capped_rows`` /
    ``capped_buckets`` metrics, under EITHER strategy via the anti-join
    detection branch, eagerly materialized (localCheckpoint): lazy
    CollectMetrics inside a broadcast subtree is unreliable — AQE's
    replanning can elide the instrumented stage copy and deliver a
    schema-less row (reproduced on Spark 4.1, pinned in
    tests/test_observability.py). Telemetry therefore implies the
    anti-join plan; its one extra pruned-column partial-agg action is
    the price of the number (default None = fully lazy window/antijoin
    per strategy).

    ``counts`` (round-14): a precomputed — and ideally checkpointed —
    ``DataFrame[*part_cols, _n]`` of per-key sizes (the
    ``_counts_with_stats`` frame the auto-screen decision already
    paid for). Detection then reads it instead of re-aggregating
    ``df``: the oversized list is ``counts.where(_n > max_bucket)``
    and the drop is the broadcast anti-join, UNDER EITHER drop
    strategy — so ``"window"`` with ``counts`` produces the anti-join
    plan, value-identical to the window form whenever the key columns
    are non-null (both miner callers guarantee this: band hashes are
    md5 strings, SRP buckets default to the all-zeros string; a
    NULL-keyed oversized group would be dropped by the window form
    but retained by the anti-join). ``"representative"`` rejects
    ``counts`` — its detection agg also computes the per-bucket
    representative mins, which a bare counts frame lacks.

    The ``counts`` frame is a SNAPSHOT and the same build/plan
    contract as slice_buckets' probe applies (ADVICE r14): detection
    reads the snapshot while the caller's pair join re-executes
    ``df`` at action time, so ``df`` (and anything it derives from —
    e.g. a caller-supplied signatures frame) must be deterministic
    and stable between the counts job and the action, else an
    oversized bucket that only materializes later escapes the
    anti-join's list. The in-set miner satisfies this by
    track_cache-ing self-computed signatures; hand a PRECOMPUTED
    (materialized or cached) frame when supplying both ``signatures``
    and a counts-fed cap yourself."""
    if max_bucket is None:
        if observation is not None:
            # fail at call time: a never-attached Observation makes the
            # caller's later obs.get raise obscurely
            raise ValueError(
                "cap observation requires a finite max_bucket "
                "(max_bucket=None never attaches the metrics)"
            )
        return df
    if strategy not in ("window", "antijoin", "representative"):
        raise ValueError(f"unknown cap strategy {strategy!r}")
    if strategy == "representative" and rep_id_col is None:
        raise ValueError("strategy='representative' requires rep_id_col")
    if strategy != "representative" and (
        n_representatives != 1 or rep_stratum_col is not None
    ):
        # a drop strategy would silently discard the representatives
        # the caller asked for — exactly the recall repair the
        # parameters exist to buy (ADVICE r12)
        raise ValueError(
            "n_representatives / rep_stratum_col apply only to "
            f"strategy='representative' (got strategy={strategy!r})"
        )
    if n_representatives < 1:
        raise ValueError(
            f"n_representatives must be >= 1, got {n_representatives}"
        )
    if counts is not None and strategy == "representative":
        raise ValueError(
            "counts= reuse supports the drop strategies only: "
            "representative detection also needs per-bucket rep mins"
        )
    if counts is not None and strategy == "window" and not keys_nonnull:
        # ADVICE r14: counts= turns the window drop into the anti-join
        # plan, whose semantics differ ON NULL KEYS ONLY (window drops
        # a NULL-keyed oversized group, anti-join equality never
        # matches NULL so it is retained). The internal miners pass
        # keys_nonnull=True (band hashes are md5 strings, bucket ids
        # ints — non-null by construction); an external caller must
        # either attest the same or request strategy="antijoin" so the
        # plan change is explicit, not keyed on an optimization param.
        raise ValueError(
            "counts= with strategy='window' executes as an anti-join, "
            "which RETAINS a NULL-keyed oversized group the window "
            "form would drop — pass keys_nonnull=True if the key "
            "columns cannot be NULL, or strategy='antijoin' to opt "
            "into anti-join semantics explicitly"
        )
    if counts is None and observation is None and strategy == "window":
        from pyspark.sql.window import Window

        w = Window.partitionBy(*part_cols)
        return (
            df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
            .where(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    # under "representative" the bucket min rides the SAME detection
    # agg — one partial-agg pass over df, not a second full read of
    # the (possibly corpus-scale committed) frame per probing batch.
    # n_representatives > 1 (round-12: heterogeneous-cohort repair)
    # keeps ONE row per hash STRATUM within the bucket — strata keyed
    # by xxhash64(rep_stratum_col or rep_id_col), and the per-stratum
    # pick is the min of a SALTED id hash, not the min id: n
    # deterministic pseudo-UNIFORM draws from the cohort. (A min-id
    # pick would let an id-ordered sub-family monopolize every
    # stratum — any stratum containing one small-id member of family
    # A yields A — whereas uniform draws miss a sub-family holding
    # fraction p with probability (1-p)^n. A content stratum column
    # additionally makes the split deterministic BY sub-family when
    # the content hash separates them.) Still the same one agg pass:
    # n conditional struct-mins ride the detection groupBy.
    if strategy == "representative" and n_representatives > 1:
        stratum = F.pmod(
            F.xxhash64(F.col(rep_stratum_col or rep_id_col)),
            F.lit(n_representatives),
        )
        sel = F.struct(
            F.xxhash64(F.col(rep_id_col), F.lit("repsel")).alias("h"),
            F.col(rep_id_col).alias("i"),
        )
    detect_aggs = [F.count(F.lit(1)).alias("_bucket_n")]
    if strategy == "representative":
        if n_representatives == 1:
            detect_aggs.append(F.min(rep_id_col).alias("_rep_id"))
        else:
            detect_aggs.extend(
                F.min(F.when(stratum == s, sel))
                .getField("i")
                .alias(f"_rep_{s}")
                for s in range(n_representatives)
            )
    if counts is not None:
        # detection from the shared checkpointed counts frame — zero
        # re-aggregation of df (round-14 verdict item 1)
        oversized = counts.withColumnRenamed("_n", "_bucket_n").where(
            F.col("_bucket_n") > max_bucket
        )
    else:
        oversized = (
            df.groupBy(*part_cols)
            .agg(*detect_aggs)
            .where(F.col("_bucket_n") > max_bucket)
        )
    if observation is not None:
        # capped_rows = rows REMOVED from mining: the whole oversized
        # mass under drop strategies, mass minus the kept
        # representatives per bucket under "representative"
        if strategy == "representative":
            kept = (
                F.lit(1)
                if n_representatives == 1
                else sum(
                    F.when(F.col(f"_rep_{s}").isNotNull(), 1).otherwise(0)
                    for s in range(n_representatives)
                )
            )
            removed = F.sum(F.col("_bucket_n") - kept)
        else:
            removed = F.sum("_bucket_n")
        oversized = oversized.observe(
            observation,
            F.coalesce(removed, F.lit(0)).alias("capped_rows"),
            F.count(F.lit(1)).alias("capped_buckets"),
        ).localCheckpoint(eager=True)
    if strategy != "representative":
        return df.join(
            F.broadcast(oversized.select(*part_cols)),
            list(part_cols),
            "left_anti",
        )
    # representative as ONE broadcast left join + filter (kept iff the
    # bucket is not oversized, or this row IS one of its per-stratum
    # min-id rows) — NOT a union of kept∪reps: Union discards the
    # child's output partitioning, which on a bucketed committed
    # reference would re-introduce the per-batch exchange the
    # anti-join strategy exists to avoid. A broadcast join preserves
    # the streamed side's (bucketed) partitioning, so the committed
    # side stays exchange-free — plan-gated in
    # tests/test_streaming_pipeline.py.
    if n_representatives == 1:
        mins = oversized.select(*part_cols, "_rep_id")
        return (
            df.join(F.broadcast(mins), list(part_cols), "left")
            .where(
                F.col("_rep_id").isNull()
                | (F.col(rep_id_col) == F.col("_rep_id"))
            )
            .drop("_rep_id")
        )
    rep_cols = [f"_rep_{s}" for s in range(n_representatives)]
    mins = oversized.select(*part_cols, *rep_cols).withColumn(
        "_ovs", F.lit(1)
    )
    is_rep = None
    for c in rep_cols:
        eq = F.col(rep_id_col) == F.col(c)
        is_rep = eq if is_rep is None else (is_rep | eq)
    return (
        df.join(F.broadcast(mins), list(part_cols), "left")
        .where(F.col("_ovs").isNull() | is_rep)
        .drop("_ovs", *rep_cols)
    )


def slice_buckets(
    df: DataFrame,
    part_cols: tuple[str, ...],
    max_bucket: int | None,
    id_col: str,
    observation=None,
    order_cols: tuple[str, ...] = (),
    counts: DataFrame | None = None,
    has_oversized: bool | None = None,
) -> DataFrame:
    """Bounded-slice alternative to :func:`cap_buckets`' drop
    semantics (round 11 — the same recall repair semantic_dedup's
    ``exempt_strategy="slice"`` got): rows in oversized buckets are
    KEPT and assigned a ``_slice`` id so the caller's pair join —
    which must add ``_slice`` equality to its condition — mines them
    within ``max_bucket``-sized windows instead of skipping them.

    Mechanics: oversized keys detected with a partial agg and
    broadcast back (≤ rows/max_bucket entries, same bound as the
    anti-join heavy-hitter list); their rows are positioned by
    ``assign_contiguous_ids`` over (part_cols…, id) — a range
    exchange, never a window on the bucket key (an oversized bucket
    is by definition one enormous partition key) — and cut into
    slices of ``max_bucket`` rows with a ONE-ROW overlap (each
    slice's first row also joins the previous slice). Rows in small
    buckets get ``_slice = 0`` untouched.

    Guarantee: within a HOMOGENEOUS cohort (mutually near-dup
    boilerplate — the case the cap exists for) every within-slice
    pair verifies, and the overlap row chains adjacent slices, so
    the cohort stays ONE connected component and collapses to its
    min id under the drop rule — at O(n · max_bucket) candidate cost
    instead of the square. The trade vs uncapped is PAIR
    completeness in heterogeneous buckets: id order carries no
    similarity signal, so a mixed bucket's groups scatter across
    slices and only same-slice pairs surface (measure with
    miner_recall_probe). ``order_cols`` inserts similarity-carrying
    sort keys between the bucket key and the id tiebreak (e.g. the
    SRP miner passes a deterministic projection so near-identical
    vectors sort adjacent). Note exact byte-identical cohorts are
    already collapsed by exact_dedup regardless — the slice arm's
    marginal value is the near-identical-but-not-byte-identical
    mega-cohort.

    ``observation`` reports ``sliced_rows``/``sliced_buckets`` (the
    oversized mass now mined in slices), eagerly materialized for
    the same AQE reason as cap_buckets.

    CONTRACT (ADVICE r12): the any-oversized probe below runs at
    BUILD time and its answer is baked into the returned plan —
    re-invoke this builder whenever the underlying data changes, and
    keep the input deterministic between build and action (a frame
    re-executed per micro-batch with moving data could mine a
    late-arriving oversized bucket un-sliced).

    ``counts`` (round-14): a precomputed checkpointed
    ``DataFrame[*part_cols, _n]`` — the sizes agg and the probe then
    read it instead of re-aggregating ``df``. ``has_oversized`` skips
    the take(1) probe entirely when the caller already knows the
    answer (the auto-screen stats carry ``big_rows``; a
    ``calibration=`` object answers with zero jobs) — same build/plan
    contract as the probe: the answer is baked into the returned
    plan."""
    if max_bucket is None:
        if observation is not None:
            raise ValueError(
                "slice observation requires a finite max_bucket"
            )
        return df.withColumn("_slice", F.lit(0).cast("long"))
    from mapreduce_implementation_spark.operators.ids import (
        assign_contiguous_ids,
    )

    sizes = (
        counts.withColumnRenamed("_n", "_bn")
        if counts is not None
        else df.groupBy(*part_cols).agg(F.count(F.lit(1)).alias("_bn"))
    )
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.coalesce(
                F.sum(F.when(F.col("_bn") > max_bucket, F.col("_bn"))),
                F.lit(0),
            ).alias("sliced_rows"),
            F.count_if(F.col("_bn") > max_bucket).alias("sliced_buckets"),
        ).localCheckpoint(eager=True)
    # Any-oversized existence probe (round-11 verdict item 1, same
    # shape as semantic_dedup's): without it the positioning barrier
    # (assign_contiguous_ids' eager localCheckpoint) and the
    # flag-join/union subtree execute even when NO bucket is oversized
    # — the common case. The probe is one take(1) over the partial
    # agg (<= distinct-key rows move); it makes this builder eager by
    # one job, and the scan it triggers is one the caller's pair join
    # was about to pay. With telemetry on, `sizes` is already
    # checkpointed and the probe reads cached rows. has_oversized
    # (round-14) answers it without any job at all.
    if has_oversized is None:
        has_oversized = bool(sizes.where(F.col("_bn") > max_bucket).take(1))
    if not has_oversized:
        return df.withColumn("_slice", F.lit(0).cast("long"))
    oversized_keys = sizes.where(F.col("_bn") > max_bucket).select(
        *part_cols
    ).withColumn("_ovs", F.lit(1))
    flagged = df.join(F.broadcast(oversized_keys), list(part_cols), "left")
    small = (
        flagged.where(F.col("_ovs").isNull())
        .drop("_ovs")
        .withColumn("_slice", F.lit(0).cast("long"))
    )
    big = flagged.where(F.col("_ovs") == 1).drop("_ovs")
    positioned = assign_contiguous_ids(
        big, [*part_cols, *order_cols, id_col], "_gpos"
    )
    gmin = positioned.groupBy(*part_cols).agg(F.min("_gpos").alias("_gmin"))
    base = (
        positioned.join(F.broadcast(gmin), list(part_cols))
        .withColumn("_rel", F.col("_gpos") - F.col("_gmin"))
        .withColumn("_slice", F.floor(F.col("_rel") / max_bucket))
    )
    overlap = base.where(
        (F.col("_rel") % max_bucket == 0) & (F.col("_slice") > 0)
    ).withColumn("_slice", F.col("_slice") - 1)
    sliced = (
        base.unionByName(overlap)
        .drop("_gpos", "_gmin", "_rel")
    )
    return small.unionByName(sliced)


def estimated_jaccard(sig_a: Column, sig_b: Column, k: int) -> Column:
    """Fraction of equal signature components (double in [0,1])."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda t: t)
    ) / F.lit(k)


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized content hash. Returns one survivor (min
    id) per distinct content + the duplicate count."""
    # spread BEFORE the hash projection — the shuffle must carry raw
    # text, not serialize the expression work onto the scan's partitions
    return (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), content_hash(text_col).alias("chash"))
        .groupBy("chash")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    k: int = 16,
    shingle_impl: str = "string",
    with_bands: tuple[int, int] | None = None,
) -> DataFrame:
    """Scan-side MinHash signature chain → DataFrame[doc_id, sig
    array<long>] (NULL sig for shingle-less docs).

    ``with_bands=(bands, rows)`` (r17) appends the positional band-hash
    array as a knob-stamped column (:func:`band_hashes_column`) so a
    MATERIALIZED signature table carries its LSH band keys: the miners'
    banded explode and the band-counts snapshot then read the stored
    hashes instead of re-evaluating md5-over-slice per consumer (three
    evaluations per build otherwise — counts job + both self-join
    sides). Value-identical to the runtime form by construction.

    ``shingle_impl`` (round-15 verdict item 1) picks the signature
    FAMILY, and the family fixes the kernel — one production path
    each:

    * ``"string"`` (default, the oracle arm): tokens → n-gram CONCAT
      STRINGS → ``array_distinct`` over strings → md5 per string
      (:func:`shingle_ints`) → the k permutation mins, all as JVM HOF
      expressions (``array_min(transform(...))``). DuckDB replays this
      bit-for-bit. A mapInPandas fold of the k permutations over the
      same shingle ints was a MEASURED WASH both times it was
      adjudicated (r13 string chain: expr 30.97 s vs 31.25 s at 1M
      docs; r16 tokhash chain: 19.52 vs 19.84 s — BASELINE.md): the
      fold is only ~3.3 s of the build, so vectorizing IT cannot pay
      for the shingle-int Arrow transfer.
    * ``"tokhash"`` (the production recommendation at scale): tokens
      → xxhash64 per token on the JVM → ONE fused mapInArrow kernel
      (:func:`_minhash_sig_fused`) that replays Spark's
      ``xxhash64``-over-slice shingle chain bit-for-bit in
      wrapping-uint64 numpy AND folds the permutations. No shingle
      string is ever materialized, no per-string strong hash runs
      (the r14 decomposition puts ~20.5 s of the ~31 s 1M-doc build
      in exactly the stages this skips), and the dominant ~16 s JVM
      slice-hash HOF stage never runs. Measured fresh-process
      interleaved min-of-3 at 1M docs (BASELINE.md r16): **1.76×**
      over the expression chain in the mapInPandas form (20.82 →
      11.80 s) and **2.36×** in the mapInArrow form (8.82 s),
      digest-identical on every line. The signatures are their own
      family, incompatible with the string build (both sides of any
      banded or cross-set join must use the same ``shingle_impl``).
      Recall / precision parity vs md5 is probe-pinned
      (tests/test_minhash_hash.py) — min-wise sampling quality does
      not depend on which injective map drew the shingle ints. The
      expression reference for this family is the public-helper
      composition :func:`token_hash_ints` →
      :func:`shingle_ints_from_token_hashes` →
      :func:`minhash_signature_from_ints`; the kernel is pinned
      digest-equal to it.

    Don't pick by hand: ``calibrate_corpus(shingle_impl="auto")`` —
    the ``calibrate`` CLI's default — prices both families on YOUR
    corpus (recall on the same frozen probe sample + interleaved
    build timing) and its report feeds this build at the recommended
    family via ``calibration=`` (round 16; the knob check refuses a
    contradicting explicit family).

    Staged projections, one expensive expression per step, each
    referenced as a COLUMN downstream: tokens → shingles → shingle
    ints (the md5 pass) → signature. Inlining any of these reruns it
    per reference (Catalyst has no CSE across output columns) — the
    staged form tokenizes and hashes exactly once per row.
    NO filter in this chain: a deterministic filter (size(sh) > 0)
    gets PUSHED BELOW the round-robin repartition by Catalyst, which
    drags the whole shingle/md5 expression chain into the single
    pre-shuffle scan task (serializing it 32×) and evaluates it twice.
    Shingle-less docs instead yield a NULL signature (the F.when in
    minhash_signature_from_ints, the valid-mask in the fused kernel),
    which the band explode drops.

    Parity is exact (every operand an integer — no rounding exists in
    this arithmetic; the fused kernel's uint64 wraps replay the
    JVM's); NULL/empty shingle sets yield NULL signatures in both
    families (pytest-pinned)."""
    if shingle_impl not in ("string", "tokhash"):
        raise ValueError(
            f"shingle_impl must be 'string' or 'tokhash', got {shingle_impl!r}"
        )
    base = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select(
        "doc_id",
        tokens(F.lower(F.col(text_col)), mode="simple").alias("_toks"),
    )
    if shingle_impl == "tokhash":
        out = _minhash_sig_fused(
            base.select("doc_id", token_hash_ints(F.col("_toks")).alias("_th")),
            shingle_n,
            k,
        )
    else:
        out = (
            base.select(
                "doc_id",
                F.array_distinct(word_ngrams(F.col("_toks"), shingle_n)).alias("sh"),
            )
            .select("doc_id", shingle_ints(F.col("sh")).alias("_xs"))
            .select("doc_id", minhash_signature_from_ints(F.col("_xs"), k).alias("sig"))
        )
    return _with_band_hashes(out, k, with_bands)


def _with_band_hashes(
    sigs: DataFrame, k: int, with_bands: tuple[int, int] | None
) -> DataFrame:
    if with_bands is None:
        return sigs
    b, r = with_bands
    _validate_minhash_bands(k, b, r)
    return sigs.withColumn(
        band_hashes_column(b, r), band_hashes(F.col("sig"), b, r)
    )


def _minhash_sig_fused(th_staged: DataFrame, n: int, k: int) -> DataFrame:
    """Fused mapInArrow tokhash signature kernel (see
    minhash_signatures): consumes the TOKEN-HASH arrays (``_th``) and
    computes shingle ints + the k permutation mins in one vectorized
    pass, so the per-position ``xxhash64(slice(_th, i, n))`` HOF stage
    — the dominant ~16 s of the ~19.5 s 1M-doc build per the r16
    decomposition (BASELINE.md r16), evaluated outside whole-stage
    codegen with one array allocation per n-gram position — never runs
    on the JVM at all.

    mapInArrow, not mapInPandas (round-16 second iteration): the
    pandas form converted each Arrow list row into its own small
    ndarray and re-flattened them with a per-doc ``np.concatenate``
    loop — measured as the DOMINANT cost of the kernel itself (the
    JVM tokenize+token-hash residue is only ~3.1 s of the ~12.5 s
    pandas-fused build at 1M docs). The Arrow ``ListArray`` already
    stores the flat int64 buffer + offsets, so the kernel reads
    ``flatten()``/``value_lengths()`` zero-copy and never touches a
    per-doc Python object: fresh-process interleaved min-of-3 at 1M
    docs, pandas-fused 12.45 s → arrow-native **8.82 s (1.41×)**,
    digest-identical (BASELINE.md r16 continued).

    Exactness: Spark's ``XxHash64`` over ``array<long>`` is the XXH64
    single-long round chained across elements with the running hash as
    seed (seed 42); that is ~10 integer ops per element, replayed here
    in wrapping uint64 numpy arithmetic and verified bit-identical
    (tests/test_minhash_hash.py digest parity vs the composed
    expression reference). The floored ``%`` of numpy int64 by a
    positive modulus equals Spark's ``pmod``. ``array_distinct`` is
    SKIPPED by design: the signature is a min over permuted shingle
    values and min is duplicate-invariant, so distinct-ing only
    changes work shape, not values. Docs with fewer than ``n`` tokens (or NULL token arrays,
    whose ``value_lengths`` fill as 0) yield NULL signatures — the
    expr contract.

    The permutation loop runs over the ~total-grams flat vector per
    batch (k passes + np.minimum.reduceat at the per-doc gram offsets):
    a single (k, total) matrix would be exact too, but peaks at k× the
    flat buffer per batch; the loop keeps the working set at ~3 arrays
    of the flat size regardless of k, plus n passes of the hash
    chain."""
    from pyspark import cloudpickle
    from pyspark.sql import types as T

    from mapreduce_implementation_spark.functions import xxh64np

    # ship the numpy-hash module BY VALUE (the multimodal/inference
    # pattern): the driver contract hands us arbitrary SparkSessions
    # whose Python workers may not have this package on sys.path (they
    # don't when the driver's cwd isn't the repo root), so the kernel
    # must close over the functions rather than import them worker-side
    cloudpickle.register_pickle_by_value(xxh64np)
    chain_over_slices = xxh64np.chain_over_slices

    a_consts = [int(a) for a in PERM_A[:k]]
    b_consts = [int(b) for b in PERM_B[:k]]
    id_field = th_staged.schema["doc_id"]
    out_schema = T.StructType(
        [id_field, T.StructField("sig", T.ArrayType(T.LongType()), True)]
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            rows = rb.num_rows
            if rows == 0:
                continue
            ids = rb.column(rb.schema.get_field_index("doc_id"))
            th = rb.column(rb.schema.get_field_index("_th"))
            # zero-copy-shaped reads: per-row lengths (nulls -> 0) and
            # the flat value buffer (flatten() respects batch slicing)
            lens = (
                th.value_lengths()
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = (
                th.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            all_off = np.zeros(rows + 1, dtype=np.int64)
            np.cumsum(lens, out=all_off[1:])
            valid_mask = lens >= n
            nv = int(valid_mask.sum())
            sig_values = np.empty(0, dtype=np.int64)
            if nv:
                lens_v = lens[valid_mask]
                doc_off_v = all_off[:-1][valid_mask]
                g = lens_v - (n - 1)
                gram_off = np.zeros(nv, dtype=np.int64)
                np.cumsum(g[:-1], out=gram_off[1:])
                total_g = int(g.sum())
                starts = np.repeat(doc_off_v - gram_off, g) + np.arange(
                    total_g, dtype=np.int64
                )
                h = chain_over_slices(flat, starts, n)
                s = h.view(np.int64) % MERSENNE_P  # floored % == pmod
                mins = np.empty((nv, k), dtype=np.int64)
                for j in range(k):
                    # a·s + b < 2^62 + 2^31: exact in int64
                    mins[:, j] = np.minimum.reduceat(
                        (a_consts[j] * s + b_consts[j]) % MERSENNE_P,
                        gram_off,
                    )
                sig_values = mins.ravel()
            counts = np.where(valid_mask, k, 0).astype(np.int32)
            offsets = np.zeros(rows + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            sig_arr = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(sig_values, type=pa.int64())
            )
            if not valid_mask.all():
                # short/NULL docs: empty lists -> NULL signatures
                sig_arr = pa.compute.if_else(
                    pa.array(valid_mask),
                    sig_arr,
                    pa.scalar(None, sig_arr.type),
                )
            yield pa.RecordBatch.from_arrays(
                [ids, sig_arr], names=["doc_id", "sig"]
            )

    return th_staged.mapInArrow(gen, out_schema)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    signatures: DataFrame | None = None,
    cap_observation=None,
    cap_strategy: str = "window",
    pair_screen: str = "auto",
    shingle_impl: str = "string",
    calibration: dict | None = None,
    band_stats: dict | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    ``band_stats`` (r17): the :func:`minhash_band_stats` sidecar of the
    SAME ``signatures`` table — the build-time decisions (screen
    regime, oversized existence, anti-join detection input) are then
    read from the artifact with ZERO decision jobs here, the same
    answers the in-build counts pass would have measured (the sidecar
    is computed from the committed table once, not per miner). Banding
    knobs are validated like ``calibration=``'s; ``calibration`` wins
    when both are given (it additionally pins the signature family).
    When the stats say NO bucket is oversized and no cap telemetry is
    requested, the cap subtree is elided outright (guide §2.4 — the
    window/anti-join drop provably removes nothing, so the plan skips
    it; value-identical, pinned in tests/test_dedup.py).

    Pipeline: shingle → signature (scan-side) → band explode → bucket
    self-join (the single shuffle) → signature-agreement filter.
    ``max_bucket`` guards oversized LSH buckets (boilerplate cohorts
    that would square; None keeps all for oracle parity), with the
    treatment chosen by ``cap_strategy``: ``"window"`` (default) or
    ``"antijoin"`` DROP the oversized buckets' rows from mining
    (cap_buckets — recall cost measured by miner_recall_probe);
    ``"slice"`` MINES them within max_bucket-sized id-ordered slices
    (slice_buckets — a homogeneous cohort still collapses to one
    component via the slice-overlap chain, at O(n·max_bucket) cost).
    Window stays the production default because exact_dedup already
    collapses byte-identical cohorts and the sf-scale probe shows the
    cap's pair loss is negligible on natural corpora; reach for slice
    when the corpus has near-identical-but-not-identical mega-cohorts
    (the telemetry says when: capped_rows under window/antijoin vs
    sliced_rows under slice).

    ``signatures``: a precomputed DataFrame[doc_id, sig] — normally the
    materialized signature TABLE (sources/materialize) — consumed by all
    three readers (band explode + both verify-join sides). When omitted,
    the chain is computed here and session-cached as a small-scale
    stand-in (released by the next registry query via
    caching.release_caches). A caller-supplied frame must be
    DETERMINISTIC AND STABLE for the build's lifetime (materialized
    table, cached frame — ADVICE r14): under ``pair_screen="auto"``
    with a finite cap, the screen/cap decisions read a checkpointed
    counts SNAPSHOT of it while the pair join re-executes it at
    action time, and a frame that shifts in between can grow an
    oversized bucket the anti-join's list never saw.

    ``pair_screen``: ``"auto"`` (default, round 13) measures the
    band-bucket size distribution with one bounded partial agg at
    build time and picks the regime-correct screen via
    ``choose_pair_screen`` (mean surviving bucket size vs the
    measured ``AUTO_SCREEN_MIN_MEAN`` crossover); ``"join"`` and
    ``"blas"`` pin it and skip the agg. The regimes are measured both
    ways (round 12, 1M-doc interleaved A/B, digest-identical): the
    vectorized per-bucket screen that won 6-8x for the embedding
    miners LOSES 10x here (join 28.5 s vs blas 287 s) because
    applyInPandas costs per GROUP, and minhash band buckets are
    numerous and mostly singletons on a natural corpus (~4M groups
    at 1M docs), where SRP buckets (~N/2^P ≈ 64 members) and
    semantic clusters (~1000 members) are few and large. The join
    screen additionally reuses the window cap's exchange for both
    join sides. "blas" fits corpora whose surviving buckets are near
    the cap (few, large); it requires a finite ``max_bucket`` (auto
    resolves to "join" under ``max_bucket=None``, the only legal
    screen there) and is parity pytest-gated across window/slice
    caps.

    ``calibration`` (round 14): the ``calibrate_corpus`` report (or
    its ``"minhash"`` section) for THIS corpus at THESE knobs — the
    auto-screen decision and the slice-probe answer are then read
    from its ``screen_stats`` with ZERO build-time Spark jobs. Knob
    mismatches (k/bands/rows/shingle_n/max_bucket) raise: a stale or
    foreign calibration would silently pick the wrong regime. Without
    it, ``"auto"`` pays ONE corpus-scale counts job whose checkpointed
    (band key, count) frame feeds the screen decision AND the
    cap/slice detection (``_counts_with_stats`` — previously the
    decision agg and the cap/slice stage each re-scanned the banded
    corpus; listener-gated in tests/test_build_jobs.py).

    ``shingle_impl`` picks the signature family when signatures are
    computed here, and the family fixes the kernel (see
    :func:`minhash_signatures`): ``"string"`` is the md5 oracle arm
    and the default, ``"tokhash"`` skips shingle-string
    materialization in one fused kernel. Recall/precision parity
    across families is probe-pinned (tests/test_minhash_hash.py);
    est_jaccard values differ per pair only in which k min-wise draws
    they estimate from. The family stamps into the calibration report
    and mismatch-raises like the structural knobs: signatures from
    different families never mix. A report stamped with any strong
    hash but md5 (``sig_hash``, a family no build produces any more)
    is refused the same way. To pick the family on evidence, run
    ``calibrate_corpus(shingle_impl="auto")`` (round 16) and pass its
    report as ``calibration=`` — the build then runs at the measured
    per-corpus recommendation."""
    _validate_minhash_bands(k, bands, rows)
    if pair_screen not in ("blas", "join", "auto"):
        raise ValueError(
            f"pair_screen must be 'blas', 'join' or 'auto', got {pair_screen!r}"
        )
    if signatures is None:
        sigs = track_cache(
            minhash_signatures(
                df, id_col, text_col, shingle_n=shingle_n, k=k,
                shingle_impl=shingle_impl,
            )
        )
    else:
        sigs = signatures
    counts = None
    has_oversized = None
    if calibration is not None:
        cal = calibration.get("minhash", calibration)
        # sig_hash/shingle_impl ride the loop too (ADVICE r14): a
        # calibration measured under one signature family answering
        # for another would hand screen_stats/has_oversized from the
        # wrong band-bucket distribution (e.g. a false
        # has_oversized=False skips the slice probe and an oversized
        # bucket mines un-sliced — the quadratic cost the cap exists
        # to bound). Every build hashes shingle strings with md5, so a
        # legacy report stamped with another sig_hash is refused here.
        for knob, val in (
            ("k", k), ("bands", bands), ("rows", rows),
            ("shingle_n", shingle_n), ("max_bucket", max_bucket),
            ("sig_hash", "md5"), ("shingle_impl", shingle_impl),
        ):
            if knob in cal and cal[knob] != val:
                raise ValueError(
                    f"calibration was measured at {knob}={cal[knob]!r} "
                    f"but this build uses {knob}={val!r} — recalibrate "
                    "or match the knobs (a mismatched distribution "
                    "would pick the wrong screen regime)"
                )
        stats = cal.get("screen_stats")
        if max_bucket is not None:
            if stats is None:
                raise ValueError(
                    "calibration carries no screen_stats (calibrated "
                    "with max_bucket=None?) — cannot answer the "
                    "finite-max_bucket build-time decisions"
                )
            has_oversized = stats["big_rows"] > 0
            if pair_screen == "auto":
                pair_screen = choose_pair_screen(
                    stats["small_rows"], stats["small_groups"],
                    stats["big_rows"], max_bucket, cap_strategy == "slice",
                )
        elif pair_screen == "auto":
            pair_screen = "join"
    elif band_stats is not None:
        # the signature table's own sidecar (minhash_band_stats):
        # knob-validated exactly like calibration — a foreign banding
        # answering for this table would pick the wrong regime or,
        # worse, hand the cap a stale oversized list
        for knob, val in (
            ("bands", bands), ("rows", rows), ("max_bucket", max_bucket),
        ):
            if knob in band_stats and band_stats[knob] != val:
                raise ValueError(
                    f"band_stats was computed at {knob}="
                    f"{band_stats[knob]!r} but this build uses "
                    f"{knob}={val!r} — rebuild the sidecar or match "
                    "the knobs"
                )
        stats = band_stats.get("screen_stats")
        if max_bucket is not None:
            if stats is None:
                raise ValueError(
                    "band_stats carries no screen_stats (built with "
                    "max_bucket=None?) — cannot answer the "
                    "finite-max_bucket build-time decisions"
                )
            has_oversized = stats["big_rows"] > 0
            if has_oversized:
                counts = band_stats.get("counts")
            if pair_screen == "auto":
                pair_screen = choose_pair_screen(
                    stats["small_rows"], stats["small_groups"],
                    stats["big_rows"], max_bucket, cap_strategy == "slice",
                )
        elif pair_screen == "auto":
            pair_screen = "join"
    elif pair_screen == "auto":
        if max_bucket is None:
            pair_screen = "join"
        else:
            counts, (sr, sg, br) = _counts_with_stats(
                _minhash_banded(sigs, "doc_id", bands, rows),
                ("band_id", "band_hash"),
                max_bucket,
            )
            has_oversized = br > 0
            pair_screen = choose_pair_screen(
                sr, sg, br, max_bucket, cap_strategy == "slice"
            )
    # Cap-subtree elision (r17, guide §2.4): when a trusted snapshot
    # says NO bucket exceeds max_bucket, the window/anti-join cap
    # provably drops nothing — skip it entirely unless the caller asked
    # for its telemetry. The slice arm already short-circuits on
    # has_oversized=False inside slice_buckets.
    skip_cap = (
        has_oversized is False
        and cap_observation is None
        and cap_strategy != "slice"
    )
    if pair_screen == "blas" and max_bucket is not None:
        # Vectorized screen (round 12, the Gram-screen lineage): with
        # a finite max_bucket every band bucket (or slice) is bounded,
        # so the signature-agreement verify collapses into one numpy
        # broadcast per group — no candidate-pair enumeration, and the
        # two post-distinct sig joins (two corpus-scale shuffles in
        # the join form) disappear because the signature rides the
        # band rows (bands x 8k bytes per doc through the one band
        # exchange). max_bucket=None keeps the join screen — the
        # oracle-parity path, unbounded buckets.
        from pyspark.sql import types as T

        banded = _minhash_banded(sigs, "doc_id", bands, rows, keep_sig=True)
        if cap_strategy == "slice":
            banded = slice_buckets(
                banded, ("band_id", "band_hash"), max_bucket, "doc_id",
                cap_observation, counts=counts, has_oversized=has_oversized,
            )
            group_cols = ["band_id", "band_hash", "_slice"]
        else:
            if not skip_cap:
                banded = cap_buckets(
                    banded, ("band_id", "band_hash"), max_bucket,
                    cap_observation, strategy=cap_strategy,
                    counts=counts if cap_strategy != "representative" else None,
                    keys_nonnull=True,
                )
            group_cols = ["band_id", "band_hash"]
        id_type = sigs.schema["doc_id"].dataType
        out_schema = T.StructType(
            [
                T.StructField("doc_a", id_type),
                T.StructField("doc_b", id_type),
                T.StructField("est_jaccard", T.DoubleType()),
            ]
        )
        return (
            banded.groupBy(*group_cols)
            .applyInPandas(
                _minhash_blas_screen("doc_id", k, threshold), out_schema
            )
            .distinct()
        )
    # The banded projection filters NULL sigs ABOVE the cached frame —
    # pushdown-safe: cache substitution (InMemoryRelation) happens
    # before the optimizer, so the filter lands on the cache scan, not
    # the raw text scan.
    banded = _minhash_banded(sigs, "doc_id", bands, rows)
    if cap_strategy == "slice":
        banded = slice_buckets(
            banded, ("band_id", "band_hash"), max_bucket, "doc_id",
            cap_observation, counts=counts, has_oversized=has_oversized,
        )
        extra = F.col("a._slice") == F.col("b._slice")
    else:
        if not skip_cap:
            banded = cap_buckets(
                banded, ("band_id", "band_hash"), max_bucket, cap_observation,
                strategy=cap_strategy,
                counts=counts if cap_strategy != "representative" else None,
                keys_nonnull=True,
            )
        extra = F.lit(True)
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & extra,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            estimated_jaccard(F.col("sig_a"), F.col("sig_b"), k).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def _min_label_components(src, dst):
    """Connected components of the edge list ``src[i] -- dst[i]`` (two
    int64 numpy arrays) → ``(verts, labels)``: every vertex once in
    ascending id order, and the min id of its component.

    Vectorized hook-and-pointer-jump union-find over compacted vertex
    indices. Each round hooks every root that still has an edge to
    another tree onto the smallest root it touches (``np.minimum.at``),
    then pointer-jumps every vertex to its root. ``parent[v] <= v``
    holds throughout, so a root is the min index of its tree — which,
    with ``np.unique``'s sorted order, is the min id — and every round
    that finds a live edge removes at least one root, so the loop
    terminates. Edges whose endpoints already share a root never
    separate again and are dropped from later rounds."""
    import numpy as np

    verts, idx = np.unique(np.concatenate((src, dst)), return_inverse=True)
    a, b = idx[: len(src)], idx[len(src):]
    parent = np.arange(len(verts))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return verts, verts[parent]
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). ``e`` is a directed edge list
    (u, v), no self-loops; returns the contracted edge list."""
    # large-star: per node u (over the SYMMETRIC neighborhood), link
    # every strictly-larger neighbor to min(N(u) ∪ {u})
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    large = (
        sym.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star: orient every edge to its larger endpoint, link the
    # smaller neighbors AND the node itself to the minimum
    oriented = large.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    with_min = oriented.join(smins, "u")
    small = (
        with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(with_min.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — O(log n) rounds instead of min-label propagation's
    O(component diameter), so a 10^6-hop chain labels in ~20 bounded
    shuffles at 100 TB. Each round is two groupBy aggregations + a
    distinct; ``localCheckpoint`` truncates lineage per round. Raises
    RuntimeError when the edge list still changes after
    ``max_rounds`` rounds: unconverged labels are wrong labels.

    Returns (doc_id, cluster_id) with cluster_id = min id of the
    component, matching the driver union-find path exactly."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes come from the UNFILTERED edge list: a node whose only edge is
    # a self-loop must still appear (own-label singleton), matching the
    # driver union-find path. Checkpointed here, like the edge rounds:
    # the returned frame must not reach back into ``edges``, which the
    # caller may unpersist (connected_components does) — a lazy node
    # set re-ran the whole edge pipeline on every output action.
    nodes = (
        raw.select("u")
        .union(raw.select(F.col("v").alias("u")))
        .distinct()
        .localCheckpoint()
    )
    e = raw.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    prev_sig = None
    for _ in range(max_rounds):
        e = _star_round(e).localCheckpoint()
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: full-range hash longs overflow BIGINT under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    else:
        raise RuntimeError(
            f"star contraction did not converge within {max_rounds} rounds"
        )
    # converged: every edge points child → component root (the min id)
    return (
        nodes.join(e, nodes["u"] == e["u"], "left")
        .select(
            nodes["u"].alias("doc_id"),
            F.coalesce(e["v"], nodes["u"]).alias("cluster_id"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph → duplicate
    CLUSTERS: ``(doc_id, cluster_id)`` with cluster_id = min doc id in
    the component. Pair emission (minhash_near_dup_pairs) finds edges;
    component labeling is what dedup actually needs — keep one doc per
    cluster, not per pair.

    Hybrid: when the edge list is small (≤ ``local_threshold`` pairs —
    it is a candidate-pair DERIVATIVE of the corpus, usually tiny
    relative to it), collect it as one Arrow table and label it with a
    vectorized numpy union-find on the driver (_min_label_components):
    one collect instead of many bounded shuffles. The driver holds it
    columnar — 16 B/edge of int64 endpoints plus the Arrow buffer they
    come from, and the int64 vertex/label arrays. The default threshold
    is 1M pairs: 1M edges over 1.5M vertices measured +136 MiB of peak
    driver Python RSS on a 4-core host, comfortably inside a modest
    cluster driver. Above the threshold, alternating
    large-star/small-star contraction (connected_components_star)
    labels it in O(log n) rounds regardless of component diameter;
    ``max_iterations`` bounds those rounds, and it raises RuntimeError
    rather than return unconverged labels.

    Raises ValueError when any edge has a NULL ``src`` or ``dst``
    endpoint, on every path: a NULL id names no document.
    """
    # persist: the edge pipeline (LSH join + verify) is consumed 2×
    # here (stats + collect, or stats + star contraction)
    edges = edges.persist()
    stats = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col(src).isNull() | F.col(dst).isNull()).alias("n_null"),
    ).collect()[0]
    if stats.n_null:
        edges.unpersist()
        raise ValueError(
            f"connected_components: {stats.n_null} of {stats.n} edges have "
            f"a NULL {src!r} or {dst!r} endpoint; drop or fill them first"
        )
    if stats.n <= local_threshold:
        import pyarrow as pa

        table = edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        ).toArrow()
        spark = edges.sparkSession
        edges.unpersist()
        verts, labels = _min_label_components(
            table.column("src").to_numpy(), table.column("dst").to_numpy()
        )
        return spark.createDataFrame(
            pa.table({"doc_id": verts, "cluster_id": labels}),
            "doc_id long, cluster_id long",
        )
    try:
        return connected_components_star(
            edges, src, dst, max_rounds=max_iterations
        )
    finally:
        edges.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    n_fingerprints: int = 1,
    cap_observation=None,
    fingerprint=None,
    cap_strategy: str = "window",
    shingle_impl: str = "string",
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing a winnowing
    fingerprint (cheap bucket join, never all-pairs). ``cap_strategy``
    mirrors minhash_near_dup_pairs ("window"/"antijoin" drop oversized
    fingerprint buckets, "slice" mines them within bounded id-ordered
    slices — note the shingle arrays ride the sliced rows through the
    positioning exchange, so slice here moves heavier rows than the
    hash-only miners).

    ``shingle_impl`` (round-15 verdict item 1, the minhash_signatures
    knob applied to this miner's even heavier string chain):
    ``"string"`` (default, the oracle arm) rides the distinct n-gram
    CONCAT STRINGS on every banded row and fingerprints by md5
    winnowing; ``"tokhash"`` rides distinct int64 shingle hashes
    (xxhash64 over token-hash slices, full 64-bit domain — see
    :func:`shingle_ints_from_token_hashes`) and fingerprints by the
    N smallest of those ints (fallback for shingle-less docs:
    xxhash64 of the joined tokens, mirroring the content-hash
    fallback). The verify is then exact Jaccard over HASHED shingle
    sets — equal to string Jaccard up to the accepted ~1/2⁶⁴
    collision contract — and the rows the fp self-join shuffles carry
    fixed-width longs instead of ~shingle_n-word strings. A custom
    ``fingerprint=`` fn is string-impl only (it maps the token array
    under string semantics).

    ``max_bucket`` routes the fingerprint-blocked self-join through
    ``cap_buckets`` — the same boilerplate-cohort guard as the MinHash/
    SimHash miners. A single winnowing fingerprint is exactly the kind
    of key a boilerplate cohort (headers, templates) collapses onto,
    and the self-join SQUARES the bucket; the cap drops buckets larger
    than ``max_bucket`` docs before the join (recall loss only inside
    degenerate cohorts — the standard web-dedup trade). None keeps all
    buckets (oracle parity at test scale); at 100 TB always set it.

    ``n_fingerprints``: block on the N smallest md5 shingle hashes per
    doc instead of only the minimum — a pair qualifies as a candidate
    when the docs share ANY of their N fingerprints, so recall rises
    monotonically with N (N=1 is exactly the classic winnowing block;
    results are a superset for larger N, pytest-pinned) at ≤N× the
    banded row count. The candidate multiset is deduped by ``distinct``
    AFTER the jaccard verify — the duplicate rows are value-identical,
    and the few qualifying pairs are far cheaper to distinct than the
    full candidate set is to pre-shuffle.

    ``fingerprint``: callable ``(toks_col) -> Column`` producing the
    blocking fingerprint from the token-array column (single-fp mode
    only); defaults to functions/textstats.doc_fingerprint (min-md5
    winnowing).

    Returns DataFrame[doc_a, doc_b, jaccard_sim] with doc_a < doc_b.
    One shuffle (the fp bucket self-join); the shingle arrays ride the
    banded rows so the verify is join-local."""
    from mapreduce_implementation_spark.functions.textstats import doc_fingerprint

    if n_fingerprints < 1:
        raise ValueError(f"n_fingerprints must be >= 1, got {n_fingerprints}")
    if n_fingerprints > 1 and fingerprint is not None:
        raise ValueError(
            "a custom fingerprint fn is single-fp only; leave it unset "
            "when n_fingerprints > 1"
        )
    if shingle_impl not in ("string", "tokhash"):
        raise ValueError(
            f"shingle_impl must be 'string' or 'tokhash', got {shingle_impl!r}"
        )
    if shingle_impl == "tokhash" and fingerprint is not None:
        raise ValueError(
            "fingerprint= is string-impl only (it maps the token array "
            "under string semantics); leave it unset with tokhash"
        )
    staged = (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select(
            "doc_id", tokens(F.lower(F.col(text_col)), mode="simple").alias("_toks")
        )
    )
    if shingle_impl == "tokhash":
        # staged projections: token hashes once, then the distinct
        # int64 shingle hashes (full 64-bit domain — set membership,
        # not permutation input) plus the shingle-less fallback key
        g = staged.select(
            "doc_id", token_hash_ints(F.col("_toks")).alias("_th"), "_toks"
        ).select(
            "doc_id",
            shingle_ints_from_token_hashes(
                F.col("_th"), shingle_n, mod_p=False
            ).alias("sh"),
            F.xxhash64(F.concat_ws(" ", F.col("_toks"))).alias("_fb"),
        )
        fps = F.when(
            F.size(F.col("sh")) > 0,
            F.slice(F.array_sort(F.col("sh")), 1, n_fingerprints),
        ).otherwise(F.array(F.col("_fb")))
        f = (
            g.select("doc_id", F.explode(fps).alias("fp"), F.col("sh"))
            if n_fingerprints > 1
            else g.select("doc_id", fps[0].alias("fp"), F.col("sh"))
        )
    elif n_fingerprints == 1:
        fp_fn = fingerprint or (
            lambda toks_col: doc_fingerprint(
                text_col, shingle=shingle_n, toks=toks_col
            )
        )
        f = staged.select(
            "doc_id",
            fp_fn(F.col("_toks")).alias("fp"),
            F.array_distinct(word_ngrams(F.col("_toks"), shingle_n)).alias("sh"),
        )
    else:
        # N smallest md5 shingle hashes (sorted-slice), falling back to
        # the content hash for shingle-less docs — the same fallback as
        # doc_fingerprint, so N=1 membership is preserved. Shingles are
        # projected ONCE and the hash pass reads the column (no CSE
        # across output columns — the staged-projection rule).
        g = staged.select(
            "doc_id",
            F.array_distinct(word_ngrams(F.col("_toks"), shingle_n)).alias("sh"),
            F.col("_toks"),
        )
        hashes = F.array_sort(
            F.transform(F.col("sh"), lambda s: F.md5(s.cast("binary")))
        )
        fps = F.when(
            F.size(F.col("sh")) > 0, F.slice(hashes, 1, n_fingerprints)
        ).otherwise(
            F.array(F.md5(F.concat_ws(" ", F.col("_toks")).cast("binary")))
        )
        f = g.select("doc_id", F.explode(fps).alias("fp"), F.col("sh"))
    if cap_strategy == "slice":
        f = slice_buckets(f, ("fp",), max_bucket, "doc_id", cap_observation)
        slice_eq = F.col("a._slice") == F.col("b._slice")
    else:
        f = cap_buckets(
            f, ("fp",), max_bucket, cap_observation, strategy=cap_strategy
        )
        slice_eq = F.lit(True)
    a, b = f.alias("a"), f.alias("b")
    jac = jaccard(F.col("a.sh"), F.col("b.sh"))
    out = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & slice_eq,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )
    return out.distinct() if n_fingerprints > 1 else out


def token_hashes(text: Column | str) -> Column:
    """md5 hex per whitespace token — project this as a COLUMN before
    simhash_from_hashes so the hashing runs once, not once per bit."""
    col = F.col(text) if isinstance(text, str) else text
    return F.transform(
        tokens(F.lower(col), mode="simple"), lambda t: F.md5(t.cast("binary"))
    )


def _validate_simhash_bits(n_bits: int) -> None:
    """md5 supplies 32 hex digits and the digit-wise evaluation emits
    4 bits per digit: an n_bits not a multiple of 4 would zip a short
    contribution vector against the n_bits accumulator (silent
    null-tailed garbage in the simhash_from_hashes fold, a reshape
    crash in the signature kernel), and n_bits > 128 would read past
    the digest."""
    if n_bits % 4 != 0 or not 4 <= n_bits <= 128:
        raise ValueError(
            "n_bits must be a multiple of 4 in [4, 128] (md5 supplies "
            f"32 hex digits, 4 bits each), got {n_bits}"
        )


def simhash_from_hashes(hashes: Column, n_bits: int = 64) -> Column:
    """SimHash over pre-hashed tokens as an ``n_bits``-char '0'/'1'
    string (weighted by token frequency — tokens enter once per
    occurrence).

    Bit b of md5(token) = bit (3 - b%4) of hex digit b//4 — identical to
    the DuckDB oracle formula, but evaluated digit-wise: each hex digit
    is parsed ONCE (n_bits/4 ``conv`` calls per token) and expanded to
    its 4 bits with integer masks, then per-token ±1 vectors are
    elementwise-summed in a single ``aggregate`` pass. The naive
    per-(bit × token) form costs n_bits× more string conversions — it
    was 7× slower end-to-end at sf0.1."""
    _validate_simhash_bits(n_bits)
    n_digits = n_bits // 4

    def token_contrib(h: Column) -> Column:
        digits = F.transform(
            F.sequence(F.lit(0), F.lit(n_digits - 1)),
            lambda d: F.conv(F.substring(h, d + 1, 1), 16, 10).cast("int"),
        )

        def pm(cond: Column) -> Column:
            return F.when(cond, F.lit(1)).otherwise(F.lit(-1))

        return F.flatten(
            F.transform(
                digits,
                lambda dg: F.array(
                    pm(dg.bitwiseAND(F.lit(8)) != 0),
                    pm(dg.bitwiseAND(F.lit(4)) != 0),
                    pm(dg.bitwiseAND(F.lit(2)) != 0),
                    pm(dg.bitwiseAND(F.lit(1)) != 0),
                ),
            )
        )

    zeros = F.array_repeat(F.lit(0), n_bits)
    return F.aggregate(
        F.transform(hashes, token_contrib),
        zeros,
        lambda acc, c: F.zip_with(acc, c, lambda x, y: x + y),
        lambda acc: F.array_join(
            F.transform(
                acc, lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0"))
            ),
            "",
        ),
    )


def simhash_bits(text: Column | str, n_bits: int = 64) -> Column:
    """Single-expression SimHash (rehashes tokens per bit — use the
    staged ``token_hashes`` → ``simhash_from_hashes`` projections on
    hot paths; kept for small/ad-hoc inputs)."""
    return simhash_from_hashes(token_hashes(text), n_bits)


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_bits: int = 64,
) -> DataFrame:
    """Scan-side SimHash signature chain → DataFrame[id_col, simhash
    '0'/'1' string] — the staged producer shared by the in-set miner,
    the registry query, and materialized signature tables.

    One kernel (round 13 — the assignment lesson applied to the
    bit-sum fold): the md5 pass (``token_hashes``) stays JVM-side,
    and the per-doc ±1 bit sums compute per Arrow batch as pure
    integer numpy — hex chars → nibbles → a (tokens, n_bits) bit
    matrix → ``np.add.reduceat`` per-doc sums — replacing the
    interpreted ``aggregate(zip_with)`` fold whose inner
    ``token_contrib`` costs n_bits/4 ``conv`` string parses per token
    (CodegenFallback). Quiet-host 1M-doc interleaved A/B: **2.02×
    (46.9 → 23.3 s)**, digest-identical — the n_bits-wide per-token
    fold carries enough arithmetic to pay for the transfer, unlike
    MinHash's k=16 doc-level fold (a measured wash; see
    minhash_signatures). All arithmetic is small-integer exact in
    both engines, so parity is bitwise, not approximate; NULL text →
    NULL signature and zero-token docs → the all-ones string
    replicate the ``aggregate`` NULL/init semantics of the expression
    reference ``simhash_from_hashes(token_hashes(...))`` — the form
    the DuckDB oracle replays (pytest-pinned digest parity)."""
    _validate_simhash_bits(n_bits)
    staged = spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", token_hashes(F.col(text_col)).alias("_hs")
    )
    # NOTE: the kernel reads only the first n_bits/4 chars of each
    # 32-char md5; truncating JVM-side first was measured and
    # REJECTED — the extra interpreted transform(substring) pass costs
    # more than the halved Arrow transfer saves (1M docs: untruncated
    # 23.3 s vs truncated 32-39 s, same session protocol)
    out = _simhash_sig_arrow(staged, n_bits)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def _simhash_sig_arrow(staged: DataFrame, n_bits: int) -> DataFrame:
    """mapInPandas SimHash kernel (see simhash_signatures): per Arrow
    batch the first n_bits/4 hex chars of every token hash concatenate
    into ONE ascii buffer; nibble values, the 4-bit expansion, and the
    ±1 contributions are vectorized, and ``np.add.reduceat`` folds the
    (total_tokens, n_bits) contribution matrix to per-doc sums.
    Map-only — no shuffle, no join-back."""
    from pyspark.sql import types as T

    n_digits = n_bits // 4
    id_field = staged.schema["doc_id"]
    out_schema = T.StructType(
        [id_field, T.StructField("simhash", T.StringType(), True)]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        shifts = np.array([3, 2, 1, 0], dtype=np.uint8)
        ones = "1" * n_bits

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            hs = pdf["_hs"].to_numpy()
            lens = np.fromiter(
                (-1 if x is None else len(x) for x in hs), dtype=np.int64, count=n
            )
            sigs = np.empty(n, dtype=object)
            sigs[lens == 0] = ones  # aggregate([] , zeros): 0 >= 0 → all '1'
            nz = np.nonzero(lens > 0)[0]
            if len(nz):
                buf = "".join(
                    h[:n_digits] for i in nz for h in hs[i]
                ).encode("ascii")
                b = np.frombuffer(buf, dtype=np.uint8)
                # lowercase hex: '0'-'9' → v-48, 'a'-'f' → v-87
                nib = np.where(b >= 97, b - 87, b - 48).astype(np.uint8)
                # keep the bit matrix uint8 and fold ±1 algebraically
                # (sum of ±1 == 2·popcount − n_tokens): the int32 ±1
                # matrix this replaces peaked at 4× the bytes per
                # batch — long-doc batches were an avoidable worker
                # OOM risk (review r13b)
                bits = ((nib[:, None] >> shifts) & 1).reshape(-1, n_bits)
                offs = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=offs[1:])
                bitsums = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)
                sums = 2 * bitsums - lens[nz][:, None]
                bitchars = np.where(sums >= 0, "1", "0")
                for pos, i in enumerate(nz):
                    sigs[i] = "".join(bitchars[pos])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": sigs}
            )

    return staged.mapInPandas(gen, out_schema)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (distinct
    semantics).

    The intersection SIZE comes from ``array_intersect`` — hash-based
    O(|a|+|b|) per pair, where the previous ``filter(array_contains)``
    form was O(|a|·|b|) interpreted (quadratic in doc length exactly
    where the ngram miner's verify piles up long-document candidates).
    array_intersect's cross-engine caveats are element ORDER and null
    handling — order never reaches ``size()``, and NULL elements are
    STRIPPED up front (ADVICE r13: array_intersect can emit NULL into
    the intersection where the previous filter(array_contains) form
    never did, and sizes always counted nulls — neither is a Jaccard
    anyone means), so the helper computes Jaccard over the NON-NULL
    distinct elements for any caller. On the null-free shingle arrays
    the miners verify, the strip is a no-op scan and the oracle
    formula (DuckDB list_filter counting) stays value-identical;
    parity is pytest-pinned (test_jaccard_exact_value + the ngram
    registry oracle row)."""
    a = F.filter(a, lambda x: x.isNotNull())
    b = F.filter(b, lambda x: x.isNotNull())
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(None).cast("double"))


def _validate_simhash_blocking(n_bits: int, bands: int, max_hamming: int) -> None:
    if n_bits % bands != 0:
        raise ValueError(f"bands must divide n_bits, got {bands}/{n_bits}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming {max_hamming} > bands-1 {bands - 1}: the band "
            "blocking would MISS qualifying pairs; raise bands or lower "
            "max_hamming"
        )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    signatures: DataFrame | None = None,
    cap_observation=None,
    cap_strategy: str = "window",
) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming-LSH — the
    third pair-mining family next to MinHash (set overlap) and
    embedding cosine: simhash measures weighted token-multiset drift,
    catching template edits MinHash shingles miss.

    Blocking is the classic pigeonhole split (Manku et al.'s web-dedup
    construction, public literature): the ``n_bits`` signature splits
    into ``bands`` contiguous substrings; any pair within Hamming
    distance ``bands - 1`` agrees EXACTLY on at least one band, so for
    ``max_hamming <= bands - 1`` (default 3 <= 3) the band equi-join is
    LOSSLESS — no candidate with a qualifying distance is missed, while
    the join touches only same-band buckets, never the cross product.
    The exact Hamming verify runs on candidates only. ``max_bucket``
    mirrors the MinHash boilerplate guard (a band value shared by a
    degenerate cohort — e.g. near-empty docs — would square a bucket);
    ``cap_strategy`` mirrors minhash_near_dup_pairs: "window"/
    "antijoin" drop oversized buckets, "slice" mines them within
    max_bucket-sized id-ordered slices (slice_buckets).

    Returns DataFrame[doc_a, doc_b, hamming] with doc_a < doc_b.
    One shuffle (the band self-join); signatures are scan-side or a
    precomputed/materialized table via ``signatures``
    (DataFrame[id_col, simhash])."""
    _validate_simhash_blocking(n_bits, bands, max_hamming)
    if signatures is None:
        sigs = track_cache(
            simhash_signatures(df, id_col, text_col, n_bits=n_bits)
        )
    else:
        sigs = signatures
    banded = _simhash_banded(sigs, id_col, "simhash", "doc_id", n_bits, bands)
    if cap_strategy == "slice":
        banded = slice_buckets(
            banded, ("band_id", "band_val"), max_bucket, "doc_id",
            cap_observation,
        )
        slice_eq = F.col("a._slice") == F.col("b._slice")
    else:
        banded = cap_buckets(
            banded, ("band_id", "band_val"), max_bucket, cap_observation,
            strategy=cap_strategy,
        )
        slice_eq = F.lit(True)
    left = banded.alias("a")
    right = banded.alias("b")
    # verify INSIDE the band join (the signature words ride the band
    # rows — no re-join back to sigs), then distinct only the few
    # qualifying pairs: a pair sharing several bands is verified up to
    # `bands` times at ~4 instructions each, far cheaper than a
    # pre-verify distinct shuffle of the full candidate multiset
    return (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & slice_eq,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming_words("a", "b", n_bits).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_banded(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    out_id: str,
    n_bits: int,
    bands: int,
) -> DataFrame:
    """Banded projection shared by the in-set and cross-set Hamming
    miners: one row per (doc, band) carrying the band substring AND the
    signature parsed into 32-bit words.

    The word parse happens ONCE PER DOC here so the per-candidate
    verify is word_count × (xor + bit_count) instead of an
    n_bits-iteration substring fold — ~10× cheaper exactly where LSH
    skew piles up candidates (7.8 s → 1.35 s at sf0.1, ~190k candidates
    from low-entropy 16-bit bands; BASELINE.md). Words, not one 64-bit
    parse: conv(..., 2, 10) parses unsigned, so a leading-1 64-char
    string would overflow a signed long."""
    width = n_bits // bands
    n_words = (n_bits + 31) // 32
    words = [
        F.conv(F.expr(f"substring({sig_col}, {w * 32 + 1}, 32)"), 2, 10)
        .cast("long")
        .alias(f"w{w}")
        for w in range(n_words)
    ]
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
        F.col(sig_col),
        *words,
    ).select(
        out_id,
        "band_id",
        F.expr(f"substring({sig_col}, band_id * {width} + 1, {width})").alias(
            "band_val"
        ),
        *[F.col(f"w{w}") for w in range(n_words)],
    )


def _hamming_words(a: str, b: str, n_bits: int) -> Column:
    """Hamming distance between two word-parsed banded rows (aliases
    ``a``/``b``) — per-word xor + popcount, summed."""
    return sum(
        (
            F.bit_count(F.col(f"{a}.w{w}").bitwiseXOR(F.col(f"{b}.w{w}")))
            for w in range((n_bits + 31) // 32)
        ),
        F.lit(0),
    ).cast("int")


def minhash_banded_frame(
    sigs: DataFrame, bands: int, rows: int, k: int = 16
) -> DataFrame:
    """The COMMITTED-side banded-signature artifact: one row per
    (doc, band), signature riding — ``DataFrame[doc_id, band_id,
    band_hash, sig]``.

    Built once per corpus snapshot and written as a bucketed catalog
    table on the band join key, it is the layout that makes every
    later cross-set probe shuffle-free on the corpus side::

        write_bucketed_table(
            minhash_banded_frame(sigs, bands, rows, k),
            "committed_bands", path,
            bucket_cols=("band_id", "band_hash"), n_buckets=...)

    then every micro-batch calls ``minhash_cross_near_dup(new_sigs,
    ref_banded=spark.table("committed_bands"))`` — the band equi-join
    reads bucket i against the batch's rows hashed to bucket i, and
    the signature payload rides the banded rows so the verify step
    needs NO second join against the committed table. Storage trade:
    the signature is duplicated ``bands`` times (k small ints — cheap
    vs re-shuffling the corpus every batch)."""
    _validate_minhash_bands(k, bands, rows)
    return _minhash_banded(sigs, "doc_id", bands, rows, keep_sig=True)


def minhash_cross_near_dup(
    new_sigs: DataFrame,
    ref_sigs: DataFrame | None = None,
    *,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    cap_observation=None,
    ref_banded: DataFrame | None = None,
    cap_strategy: str = "representative",
    n_representatives: int = 1,
) -> DataFrame:
    """Near-dup pairs BETWEEN two signature sets — the incremental-
    ingest shape: which NEW documents near-duplicate the EXISTING
    corpus (both sides DataFrame[doc_id, sig], e.g. from
    minhash_signatures / the materialized signature table).

    Same LSH machinery as the in-set operator (band explode → bucket
    equi-join → signature-agreement verify), but the join is
    new × reference instead of a self-join: candidate volume scales
    with |new batch| × bucket occupancy, not the corpus square, and the
    reference side is read from its committed table with only the
    banded projection shuffled. Returns DataFrame[new_id, ref_id,
    est_jaccard]; a new doc with NO qualifying row is genuinely novel.

    ``max_bucket`` caps REFERENCE bucket size (a degenerate reference
    cohort — boilerplate docs — would multiply every matching new doc
    by the whole cohort). ``cap_strategy``: ``"representative"``
    (default) keeps the min-id row per oversized bucket, so cohort
    matches still flag (against the representative) at one reference
    row per cohort — measured flag recall 0.465 → 1.000 at a biting
    cap (BASELINE.md round 11); ``"antijoin"`` is the opt-in DROP
    behavior — oversized reference buckets are removed entirely, and a
    new doc matching ONLY a capped cohort is silently NOT flagged —
    see cap_buckets.

    ``ref_banded`` (instead of ``ref_sigs``): a precomputed
    :func:`minhash_banded_frame` — normally a BUCKETED catalog table
    on ``(band_id, band_hash)`` (sources/bucketed). The recurring-
    probe configuration: the committed side then contributes ZERO
    exchanges per batch (the band join reads its buckets in place;
    even the ``max_bucket`` detection groupBy rides the bucketing) and
    the verify reads the riding ``sig`` column with no second join
    against the committed table — plan-gated in
    tests/test_streaming_pipeline.py."""
    _validate_minhash_bands(k, bands, rows)
    if (ref_sigs is None) == (ref_banded is None):
        raise ValueError("pass exactly one of ref_sigs / ref_banded")
    _validate_rep_params(cap_strategy, n_representatives)
    bn = _minhash_banded(new_sigs, "new_id", bands, rows)
    sa = new_sigs.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_a"))
    if ref_banded is not None:
        br = cap_buckets(
            ref_banded.select(
                F.col("doc_id").alias("ref_id"),
                "band_id",
                "band_hash",
                F.col("sig").alias("sig_b"),
            ),
            ("band_id", "band_hash"),
            max_bucket,
            cap_observation,
            strategy=cap_strategy,
            **(
                {
                    "rep_id_col": "ref_id",
                    "n_representatives": n_representatives,
                    "rep_stratum_col": "sig_b",
                }
                if cap_strategy == "representative"
                else {}
            ),
        )
        cand = (
            bn.join(br, ["band_id", "band_hash"])
            .select("new_id", "ref_id", "sig_b")
            .distinct()
        )
        return (
            cand.join(sa, "new_id")
            .select(
                "new_id",
                "ref_id",
                estimated_jaccard(F.col("sig_a"), F.col("sig_b"), k).alias(
                    "est_jaccard"
                ),
            )
            .where(F.col("est_jaccard") >= threshold)
        )
    br = cap_buckets(
        _minhash_banded(ref_sigs, "ref_id", bands, rows),
        ("band_id", "band_hash"),
        max_bucket,
        cap_observation,
        strategy=cap_strategy,
        # the slim banded frame carries no signature column; strata
        # fall back to the id hash (diversity by draw, not by content)
        **(
            {"rep_id_col": "ref_id", "n_representatives": n_representatives}
            if cap_strategy == "representative"
            else {}
        ),
    )
    cand = (
        bn.join(br, ["band_id", "band_hash"])
        .select("new_id", "ref_id")
        .distinct()
    )
    sb = ref_sigs.select(F.col("doc_id").alias("ref_id"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "new_id")
        .join(sb, "ref_id")
        .select(
            "new_id",
            "ref_id",
            estimated_jaccard(F.col("sig_a"), F.col("sig_b"), k).alias(
                "est_jaccard"
            ),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def simhash_cross_near_dup(
    new_sigs: DataFrame,
    ref_sigs: DataFrame,
    *,
    n_bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    cap_observation=None,
    cap_strategy: str = "representative",
    n_representatives: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs BETWEEN two signature sets — the
    incremental-ingest face of the Hamming miner, completing the
    cross-set family next to minhash_cross_near_dup: which NEW
    documents sit within ``max_hamming`` of the EXISTING corpus (both
    sides DataFrame[id_col, sig_col] of n_bits-char '0'/'1' strings,
    e.g. from the staged token_hashes → simhash_from_hashes chain or a
    materialized signature table).

    Same lossless pigeonhole blocking as the in-set operator (any pair
    within Hamming ``bands - 1`` agrees exactly on >= 1 band), but the
    band equi-join is new × reference: candidate volume scales with
    |new batch| × bucket occupancy, never the corpus square, and only
    the banded projection of the committed reference table shuffles.
    The word-parsed xor+bit_count verify rides the band rows (no
    re-join). ``max_bucket`` caps REFERENCE buckets (a boilerplate
    reference cohort would multiply every matching new doc).

    Returns DataFrame[new_id, ref_id, hamming]; a new doc with no
    qualifying row is genuinely novel."""
    _validate_simhash_blocking(n_bits, bands, max_hamming)
    _validate_rep_params(cap_strategy, n_representatives)
    bn = _simhash_banded(
        new_sigs, id_col, sig_col, "new_id", n_bits, bands
    ).alias("a")
    br = cap_buckets(
        _simhash_banded(ref_sigs, id_col, sig_col, "ref_id", n_bits, bands),
        ("band_id", "band_val"),
        max_bucket,
        cap_observation,
        strategy=cap_strategy,
        **(
            {
                "rep_id_col": "ref_id",
                "n_representatives": n_representatives,
                "rep_stratum_col": sig_col,
            }
            if cap_strategy == "representative"
            else {}
        ),
    ).alias("b")
    return (
        bn.join(
            br,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("a.new_id").alias("new_id"),
            F.col("b.ref_id").alias("ref_id"),
            _hamming_words("a", "b", n_bits).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def miner_recall_probe(
    df: DataFrame,
    miner,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_sample: int = 1_000,
    threshold: float = 0.5,
    shingle_n: int = 3,
    salt: str = "recallprobe",
    max_sample: int = 5_000,
) -> dict:
    """Measure a pair miner's RECALL on a bounded deterministic sample
    — "measure, don't guess" for the banding/threshold knobs: the
    match probability 1-(1-J^rows)^bands is theory; this is the number
    on YOUR corpus.

    Protocol: take the ``n_sample`` docs with the smallest
    ``xxhash64(id, salt)`` (a TakeOrdered — deterministic, corpus-size
    independent, stable under re-runs so probes are comparable across
    knob settings), compute GROUND TRUTH as the exact shingle-set
    Jaccard over all sample pairs (an explicit bounded cross join —
    ``n_sample`` is capped at ``max_sample`` because truth is O(n²);
    at the default 1000 that is ~500k pair evaluations, a few seconds
    on a laptop and trivial on a cluster), run ``miner`` (a callable
    ``sample_df -> DataFrame[doc_a, doc_b, ...]``) on the SAME sample,
    and report::

        {"sample_n", "true_pairs", "found_pairs", "found_true",
         "recall", "precision"}

    ``recall`` counts miner∩truth over truth, so it folds together
    LSH blocking loss, bucket-cap loss, AND signature estimation error
    at the threshold boundary — exactly the composite the knob tuner
    pays for. ``precision`` is found_true/found_pairs (estimation
    false-positives). Sampling measures the miner's per-pair behavior,
    not cohort-squared effects — pair miners are pair-local, so
    in-sample recall estimates corpus recall for pair SELECTION; run
    the probe at a couple of ``salt`` values to bound sampling noise."""
    if n_sample > max_sample:
        raise ValueError(
            f"n_sample={n_sample} exceeds max_sample={max_sample}: "
            "ground truth is O(n^2); raise max_sample consciously"
        )
    sample = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(salt)), F.col(id_col))
        .limit(n_sample)
        .localCheckpoint(eager=True)  # one frozen sample for both passes
    )
    sh = sample.select(
        F.col(id_col).alias("_pid"),
        shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .where(F.col("a._pid") < F.col("b._pid"))
        .select(
            F.col("a._pid").alias("doc_a"),
            F.col("b._pid").alias("doc_b"),
            jaccard(F.col("a._sh"), F.col("b._sh")).alias("_j"),
        )
        .where(F.col("_j") >= threshold)
        .collect()
    }
    found = {
        (r.doc_a, r.doc_b) for r in miner(sample).select("doc_a", "doc_b").collect()
    }
    found_true = len(found & true_pairs)
    return {
        "sample_n": sample.count(),
        "true_pairs": len(true_pairs),
        "found_pairs": len(found),
        "found_true": found_true,
        "recall": (found_true / len(true_pairs)) if true_pairs else None,
        "precision": (found_true / len(found)) if found else None,
    }


def cross_miner_recall_probe(
    df: DataFrame,
    cross_miner,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_sample: int = 1_000,
    threshold: float = 0.5,
    shingle_n: int = 3,
    salt: str = "recallprobe",
    split_salt: str = "crossplit",
    max_sample: int = 5_000,
) -> dict:
    """Measure a CROSS-SET pair miner's recall across the committed /
    new boundary — the ingest-path counterpart of
    :func:`miner_recall_probe` (round-10 verdict item 2: the in-set
    miner had a measured recall number, the cross-set family that
    guards INGEST had only equivalence gates).

    Protocol: the same frozen deterministic sample (smallest
    ``xxhash64(id, salt)``, capped at ``max_sample`` because truth is
    O(n²)), split into a committed REFERENCE half and a NEW-batch half
    by ``xxhash64(id, split_salt)`` parity — a hash split, so cluster
    mates straddle the boundary the way a real corpus's do when new
    crawls re-collect old boilerplate. GROUND TRUTH is the exact
    shingle-set Jaccard over the ref × new pairs ONLY (the straddling
    pairs — in-set pairs on either side are the in-set probe's job,
    and a real ingest batch has already self-deduped). ``cross_miner``
    is a callable ``(new_sample_df, ref_sample_df) ->
    DataFrame[new_id, ref_id, ...]`` — the caller composes the real
    production chain (signatures → banding → ``minhash_cross_near_dup``
    / ``simhash_cross_near_dup`` / ``srp_cross_near_dup``, caps on,
    optionally through a written bucketed reference table) so the
    number prices the WHOLE path, not one stage. Returns::

        {"sample_n", "ref_n", "new_n", "true_pairs", "found_pairs",
         "found_true", "recall", "precision"}
    """
    if n_sample > max_sample:
        raise ValueError(
            f"n_sample={n_sample} exceeds max_sample={max_sample}: "
            "ground truth is O(n^2); raise max_sample consciously"
        )
    sample = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(salt)), F.col(id_col))
        .limit(n_sample)
        .localCheckpoint(eager=True)  # one frozen sample for all passes
    )
    is_ref = F.pmod(F.xxhash64(F.col(id_col), F.lit(split_salt)), F.lit(2)) == 0
    ref, new = sample.where(is_ref), sample.where(~is_ref)

    def _sh(side: DataFrame, out: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(out),
            shingles(F.col(text_col), shingle_n).alias(f"_sh_{out}"),
        )

    true_pairs = {
        (r.new_id, r.ref_id)
        for r in _sh(new, "new_id")
        .crossJoin(_sh(ref, "ref_id"))
        .select(
            "new_id",
            "ref_id",
            jaccard(F.col("_sh_new_id"), F.col("_sh_ref_id")).alias("_j"),
        )
        .where(F.col("_j") >= threshold)
        .collect()
    }
    found = {
        (r.new_id, r.ref_id)
        for r in cross_miner(new, ref).select("new_id", "ref_id").collect()
    }
    found_true = len(found & true_pairs)
    # FLAG recall — the ingest decision metric: of the new docs that
    # SHOULD be flagged (>=1 true committed near-twin), how many got
    # >=1 true hit. Pair recall under-credits the representative cap
    # strategy, which deliberately returns one pair per cohort.
    should_flag = {n for n, _ in true_pairs}
    flagged = {n for n, _ in found & true_pairs}
    return {
        "sample_n": sample.count(),
        "ref_n": ref.count(),
        "new_n": new.count(),
        "true_pairs": len(true_pairs),
        "found_pairs": len(found),
        "found_true": found_true,
        "recall": (found_true / len(true_pairs)) if true_pairs else None,
        "precision": (found_true / len(found)) if found else None,
        "flag_recall": (
            len(flagged & should_flag) / len(should_flag)
            if should_flag
            else None
        ),
    }
