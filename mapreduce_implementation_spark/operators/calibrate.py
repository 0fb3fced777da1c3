"""One-call corpus pre-flight calibrator (round-13 verdict item 8):
compose the measurement tools — ``profile.skew_report``,
``dedup.miner_recall_probe``, ``dedup.cross_miner_recall_probe``,
``textstats.quality_threshold_for_retention`` — into a single
``calibrate_corpus(df)`` that a new 100 TB corpus runs BEFORE the
first full dedup/filter pass, returning the recommended knobs WITH
their measured recall/retention instead of four manual calls.

Cost envelope (deliberate): one full-corpus t-digest pass for the
quality floor, one banded partial-agg pass for the bucket-skew top-N,
and three bounded TakeOrdered samples (the probes' frozen samples) —
everything else is sample-sized. No collect is unbounded.

The reference engine (a WordCount MapReduce) has no calibration
surface; this belongs to the LLM-training-data extension set
(SURVEY.md §2c), built from the probes rounds 10-12 measured
one-by-one (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    cross_miner_recall_probe,
    miner_recall_probe,
    minhash_cross_near_dup,
    minhash_near_dup_pairs,
    minhash_signatures,
)


def calibrate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_fraction: float = 0.7,
    threshold: float = 0.5,
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    cap_strategy: str = "window",
    shingle_impl: str = "string",
    n_sample: int = 300,
    skew_top_n: int = 5,
    recall_floor: float = 0.8,
    recommend_shingle: bool = False,
    build_probe_docs: int = 100_000,
) -> dict:
    """Measure the production dedup/quality knobs on ``docs`` and
    return them as recommendations WITH their evidence::

        {
          "quality": {"floor", "keep_fraction", "sample_retention"},
          "minhash": {"k", "bands", "rows", "shingle_n", "threshold",
                       "pair_screen", "mean_bucket_size",
                       "recall", "precision", ...probe fields},
          "cross":   {"recall", "flag_recall", "precision", ...},
          "buckets": {"max_bucket", "top": [(band_id, band_hash,
                       n_rows, share), ...], "cap_bites"},
          "warnings": [...],
        }

    * quality floor: ``quality_threshold_for_retention`` (one t-digest
      corpus pass) targeting ``keep_fraction``; realized retention is
      re-measured on the bounded probe sample (``sample_retention``) so
      the number is evidence, not a promise.
    * in-set near-dup recall: ``miner_recall_probe`` running the REAL
      production miner (``minhash_near_dup_pairs`` at the given
      k/bands/rows/cap) against exact shingle-Jaccard truth on a
      frozen ``n_sample`` sample — recall folds blocking loss, cap
      loss and signature estimation error together (round-10 protocol,
      measured 0.918 on the Zipf rehearsal corpus).
    * cross-set ingest recall: ``cross_miner_recall_probe`` through the
      production chain (signatures → ``minhash_cross_near_dup`` with
      the representative cap) — ``flag_recall`` is the ingest decision
      metric (round-11: representative keeps it 1.0 where drop
      strategies lose entire cohorts).
    * bucket skew + screen regime: ONE (band key, count) pass over the
      banded frame, checkpointed, feeds both the top-N skew rows
      (``skew_report``'s output shape) and the ``pair_screen="auto"``
      decision with its evidence — ``cap_bites`` says whether any real
      bucket exceeds ``max_bucket`` (then the cap/slice strategy choice
      actually matters on THIS corpus), ``oversized_rows`` how much
      mass that policy decides over. ``cap_strategy`` (ADVICE r13) is
      the strategy the DEPLOYED miner will use — under ``"slice"`` the
      oversized mass is folded back into ~max_bucket-sized screen
      groups, which can flip the join/blas decision, so the report's
      ``pair_screen`` matches what ``minhash_near_dup_pairs`` at the
      same strategy actually picks. The raw distribution moments ride
      along as ``minhash.screen_stats`` so a miner handed this report
      (``calibration=``) re-derives the decision for ANY strategy with
      zero Spark jobs.

    ``warnings`` flags recall under ``recall_floor`` (raise ``k``),
    empty-truth samples (corpus too sparse to probe — synthesize or
    plant, as the round-10 note records), and a biting cap. The
    returned knob values are the measured production defaults; pytest
    pins them against the hand-derived round-10/11 values on the
    rehearsal corpus (tests/test_corpus_api.py).

    Shingle-family recommendation (round-16 verdict item 2 — a user
    following the pre-flight previously got the slower string build
    silently): with ``shingle_impl="auto"`` — the ``calibrate`` CLI's
    default — or ``recommend_shingle=True`` (library opt-in: the
    probe's build timings make the report non-deterministic across
    runs, which the bare library call keeps as a contract) the report
    gains a ``"shingle"`` section that prices BOTH families on this
    corpus — per-family miner recall on the same frozen probe sample,
    and per-family signature-build seconds on a bounded
    ``build_probe_docs`` sample (interleaved min-of-2; the chain is
    map-only, so per-doc cost transfers) — and recommends ``tokhash``
    iff it is faster AND its recall sits inside the string arm's
    draw-noise band (±0.05; min-wise sampling quality does not depend
    on which injective map drew the shingle ints —
    tests/test_minhash_hash.py). In-process caveat: both arms share
    this process's JIT draw, which COMPRESSES the ratio on a slow
    draw (BASELINE.md r15) — it never flips the faster arm, so the
    recommendation stands; cross-process numbers live in BASELINE.md.

    ``shingle_impl="auto"`` ADOPTS the recommendation: the main
    calibration (banded counts, screen regime, headline probes) then
    runs under the recommended family, so the report's
    ``minhash.shingle_impl`` matches and feeding it back as
    ``calibration=`` to ``minhash_near_dup_pairs`` /
    ``CorpusPipelineConfig(calibration=...)`` builds at the
    recommended family with zero extra jobs. With an EXPLICIT family
    the recommendation is advisory: a warning says when the other
    family measured better (recalibrate with ``"auto"`` to adopt)."""
    from mapreduce_implementation_spark.functions.textstats import (
        quality_score,
        quality_threshold_for_retention,
    )
    from mapreduce_implementation_spark.operators.dedup import (
        _group_size_stats,
        _minhash_banded,
        choose_pair_screen,
    )
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    if cap_strategy not in ("window", "antijoin", "representative", "slice"):
        raise ValueError(f"unknown cap strategy {cap_strategy!r}")
    if shingle_impl not in ("string", "tokhash", "auto"):
        raise ValueError(
            f"shingle_impl must be string|tokhash|auto, got {shingle_impl!r}"
        )
    warnings: list[str] = []

    # 0) shingle-family recommendation (round-16 verdict item 2): price
    # both families on THIS corpus before anything else so "auto" can
    # run the rest of the calibration under the winner
    shingle_section: dict | None = None
    inset_by_arm: dict = {}
    if recommend_shingle or shingle_impl == "auto":
        shingle_section, inset_by_arm = _probe_shingle_families(
            docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
            k=k, bands=bands, rows=rows, threshold=threshold,
            max_bucket=max_bucket, n_sample=n_sample,
            build_probe_docs=build_probe_docs,
        )
        if shingle_impl == "auto":
            shingle_impl = shingle_section["recommendation"]
        shingle_section["adopted"] = (
            shingle_impl == shingle_section["recommendation"]
        )
        if not shingle_section["adopted"]:
            warnings.append(
                "measured shingle-family recommendation is "
                f"{shingle_section['recommendation']!r} "
                f"(tokhash build speedup "
                f"{shingle_section['build_speedup_tokhash']}x on the "
                "probe) but this calibration ran under "
                f"{shingle_impl!r} — recalibrate with "
                "shingle_impl='auto' to adopt it"
            )

    # 1) quality floor from the retention target (t-digest corpus pass)
    floor = quality_threshold_for_retention(
        docs, keep_fraction, text_col=text_col
    )
    sample = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit("calibrate")), F.col(id_col))
        .limit(n_sample)
        .localCheckpoint(eager=True)
    )
    srow = sample.select(
        F.count(F.lit(1)).alias("n"),
        F.count_if(quality_score(text_col) >= floor).alias("kept"),
    ).first()
    retention = (srow.kept / srow.n) if srow.n else None

    # 2) in-set miner recall at the production knobs (reused from the
    # family probe when it already ran this exact miner/sample)
    if shingle_impl in inset_by_arm:
        inset = inset_by_arm[shingle_impl]
    else:
        def miner(s: DataFrame) -> DataFrame:
            return minhash_near_dup_pairs(
                s, id_col, text_col, shingle_n=shingle_n, k=k, bands=bands,
                rows=rows, threshold=threshold, max_bucket=max_bucket,
                shingle_impl=shingle_impl,
            )

        inset = miner_recall_probe(
            docs, miner, id_col=id_col, text_col=text_col,
            n_sample=n_sample, threshold=threshold, shingle_n=shingle_n,
        )

    # 3) cross-set ingest recall through the production chain
    def cross(new: DataFrame, ref: DataFrame) -> DataFrame:
        new_sigs = minhash_signatures(
            new, id_col, text_col, shingle_n=shingle_n, k=k,
            shingle_impl=shingle_impl,
        )
        ref_sigs = minhash_signatures(
            ref, id_col, text_col, shingle_n=shingle_n, k=k,
            shingle_impl=shingle_impl,
        )
        return minhash_cross_near_dup(
            new_sigs, ref_sigs, k=k, bands=bands, rows=rows,
            threshold=threshold, max_bucket=max_bucket,
            cap_strategy="representative",
        )

    crossr = cross_miner_recall_probe(
        docs, cross, id_col=id_col, text_col=text_col, n_sample=n_sample,
        threshold=threshold, shingle_n=shingle_n,
    )

    # 4+5) band-bucket skew AND the screen regime from ONE counts pass
    # (review r13b: the corpus-scale md5/shingle/band chain is the
    # dominant cost here — count the buckets once, checkpoint the
    # (key, count) frame on the executors, and derive both the top-N
    # skew rows and the pair_screen="auto" decision from it)
    banded = _minhash_banded(
        minhash_signatures(
            docs, id_col, text_col, shingle_n=shingle_n, k=k,
            shingle_impl=shingle_impl,
        ),
        "doc_id", bands, rows,
    )
    counts = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    total_rows = counts.agg(F.sum("_n")).first()[0] or 0
    top = [
        (int(r.band_id), str(r.band_hash), int(r._n), float(r._n) / total_rows)
        for r in counts.orderBy(
            F.col("_n").desc(), "band_id", "band_hash"
        ).limit(skew_top_n).collect()
    ]
    cap_bites = bool(
        max_bucket is not None and top and top[0][2] > max_bucket
    )

    # screen regime: the pair_screen="auto" decision plus its evidence
    # (mean surviving bucket size vs the measured AUTO_SCREEN_MIN_MEAN
    # crossover; oversized_rows = the mass the cap/slice policy decides
    # over) — tiny aggs over the checkpointed counts, no second corpus
    # pass
    if max_bucket is not None:
        small_rows, small_groups, big_rows = _group_size_stats(
            banded, ("band_id", "band_hash"), max_bucket, counts=counts
        )
        screen = choose_pair_screen(
            small_rows, small_groups, big_rows, max_bucket,
            cap_strategy == "slice",
        )
        mean_bucket = (
            round(small_rows / small_groups, 2) if small_groups else None
        )
        screen_stats = {
            "small_rows": int(small_rows),
            "small_groups": int(small_groups),
            "big_rows": int(big_rows),
        }
    else:
        screen, mean_bucket, big_rows = "join", None, 0
        screen_stats = None

    if inset["true_pairs"] == 0:
        warnings.append(
            "in-set probe sampled ZERO true pairs — the corpus's "
            "near-dups are too sparse for a bounded sample (round-10 "
            "note); probe a planted/synthetic corpus for the recall "
            "number"
        )
    elif inset["recall"] is not None and inset["recall"] < recall_floor:
        warnings.append(
            f"in-set recall {inset['recall']:.3f} < {recall_floor}: "
            f"signature estimation too coarse at threshold "
            f"{threshold} — raise k (linear signature cost)"
        )
    if crossr["true_pairs"] and (
        crossr.get("flag_recall") is not None
        and crossr["flag_recall"] < recall_floor
    ):
        warnings.append(
            f"cross-set flag recall {crossr['flag_recall']:.3f} < "
            f"{recall_floor}: raise n_representatives on the ingest cap"
        )
    if cap_bites:
        warnings.append(
            f"max_bucket={max_bucket} BITES (top bucket "
            f"{top[0][2]} rows): choose the oversized-mass policy "
            "deliberately — slice mines it, window/antijoin drop it, "
            "representative keeps one row (telemetry prices each)"
        )

    return {
        "quality": {
            "floor": floor,
            "keep_fraction": keep_fraction,
            "sample_retention": retention,
        },
        "minhash": {
            "k": k, "bands": bands, "rows": rows,
            "shingle_n": shingle_n, "threshold": threshold,
            # the signature FAMILY the distribution was measured under
            # (ADVICE r14): a build at a different shingle_impl has
            # different band-bucket counts, so the miner's knob check
            # raises on mismatch like the structural knobs
            "shingle_impl": shingle_impl,
            "max_bucket": max_bucket, "cap_strategy": cap_strategy,
            "pair_screen": screen, "mean_bucket_size": mean_bucket,
            "oversized_rows": int(big_rows),
            "screen_stats": screen_stats,
            **inset,
        },
        "cross": {"cap_strategy": "representative", **crossr},
        "buckets": {
            "max_bucket": max_bucket, "top": top, "cap_bites": cap_bites,
        },
        "shingle": shingle_section,
        "warnings": warnings,
    }


def _probe_shingle_families(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int,
    k: int,
    bands: int,
    rows: int,
    threshold: float,
    max_bucket: int | None,
    n_sample: int,
    build_probe_docs: int,
) -> tuple[dict, dict]:
    """Price the two shingle families on THIS corpus (round-16 verdict
    item 2). Two measurements per family:

    * miner recall through the REAL production miner on the same
      frozen probe sample (identical salt ⇒ identical sample, so the
      recalls are directly comparable; families legitimately differ by
      draw noise on borderline pairs — the ±0.05 band the
      recommendation rule uses, same contract as
      tests/test_minhash_hash.py).
    * signature-build seconds on a bounded deterministic
      ``build_probe_docs`` sample, arms INTERLEAVED, min-of-2 per arm.
      The signature chain is map-only (no shuffle), so per-doc cost
      transfers to the full corpus; both arms share this process's JIT
      draw, which on a slow draw COMPRESSES the ratio but never flips
      the faster arm (BASELINE.md r15) — the cross-process
      BASELINE.md numbers (2.36x build at 1M docs under the r16
      fused kernel; 1.38x in the pre-fused r15 measure) are the
      scale-grade evidence, this probe is the per-corpus check.

    Returns ``(section, inset_by_arm)`` — the report's ``"shingle"``
    section plus each arm's full recall-probe dict so the caller
    reuses the final family's probe instead of re-running it."""
    import time

    def _materialize(df: DataFrame) -> None:
        df.write.mode("overwrite").format("noop").save()

    arms = ("string", "tokhash")
    inset_by_arm: dict = {}
    for arm in arms:
        def m(s: DataFrame, a: str = arm) -> DataFrame:
            return minhash_near_dup_pairs(
                s, id_col, text_col, shingle_n=shingle_n, k=k,
                bands=bands, rows=rows, threshold=threshold,
                max_bucket=max_bucket, shingle_impl=a,
            )

        inset_by_arm[arm] = miner_recall_probe(
            docs, m, id_col=id_col, text_col=text_col, n_sample=n_sample,
            threshold=threshold, shingle_n=shingle_n,
        )

    bsample = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col))
        .orderBy(
            F.xxhash64(F.col(id_col), F.lit("shinglebuild")), F.col(id_col)
        )
        .limit(build_probe_docs)
        .localCheckpoint(eager=True)
    )
    bn = bsample.count()
    build_sec = {a: float("inf") for a in arms}
    for _ in range(2):
        for arm in arms:
            t0 = time.perf_counter()
            _materialize(
                minhash_signatures(
                    bsample, id_col, text_col, shingle_n=shingle_n, k=k,
                    shingle_impl=arm,
                )
            )
            build_sec[arm] = min(
                build_sec[arm], time.perf_counter() - t0
            )
    r_s = inset_by_arm["string"]["recall"]
    r_t = inset_by_arm["tokhash"]["recall"]
    # recommend the fast family only when its recall sits inside the
    # string arm's draw-noise band; unprobe-able recalls (sparse
    # corpus) fall back to the pytest-pinned parity contract
    recall_ok = r_s is None or r_t is None or r_t >= r_s - 0.05
    faster = build_sec["tokhash"] < build_sec["string"]
    section = {
        "recommendation": "tokhash" if (recall_ok and faster) else "string",
        "build_probe_docs": int(bn),
        "build_speedup_tokhash": (
            round(build_sec["string"] / build_sec["tokhash"], 2)
            if build_sec["tokhash"]
            else None
        ),
        "string": {
            "build_sec": round(build_sec["string"], 3),
            "recall": r_s,
            "precision": inset_by_arm["string"]["precision"],
        },
        "tokhash": {
            "build_sec": round(build_sec["tokhash"], 3),
            "recall": r_t,
            "precision": inset_by_arm["tokhash"]["precision"],
        },
    }
    return section, inset_by_arm


def calibrate_ann(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    target_recall: float = 0.9,
    sample_n: int = 20_000,
    n_queries: int = 32,
    nprobe_max: int = 8,
    kmeans_iters: int = 3,
    sq8_bytes_floor: int = 1 << 30,
    n_rows: int | None = None,
) -> dict:
    """Measure the IVF knobs for THIS corpus and return them with
    their evidence (round-15 verdict item 4: ``nlist`` was a
    hand-picked constant and ``nprobe`` was tuned once on the planted
    fixture — at 100 TB the √N-lists rule and a recall-targeted
    nprobe are the difference between a pruned scan and a full one).

    Recommendations::

        {"ann": {
           "n_rows", "dim",
           "nlist":   round(√N) clamped to [4, 65536] — the standard
                      IVF sizing rule: lists of ~√N vectors balance
                      the centroid scan (O(nlist·d) per query) against
                      the probed-list scan (O(nprobe·N/nlist·d)),
           "points_per_list": N / nlist,
           "nprobe":  the SMALLEST nprobe whose measured recall@k on
                      the probe sample meets ``target_recall``,
           "recall_curve": [[nprobe, recall], ...] — the evidence,
           "recall":  the recommended setting's measured recall,
           "quantize": "int8" when the float index would exceed
                      ``sq8_bytes_floor`` (the measured SQ8 regime:
                      a storage/IO trade that wins when inverted
                      lists are large relative to cache — BASELINE.md
                      r13/r14 — at a recall cost bounded by the
                      quantization noise, re-measured here),
           "sq8_recall": recall@k at the recommended nprobe scoring
                      SQ8 CODES against float truth — measured
                      UNCONDITIONALLY (even when the float index is
                      small enough that quantize stays None, the
                      number is the evidence for flipping it later;
                      None only when the truth set is empty),
           "est_index_bytes": N · dim · 4,
           "probe": {"sample_n", "nlist_probe", "n_queries", "k"}},
         "warnings": [...]}

    Protocol — measure, don't guess, at BOUNDED cost: recall-vs-nprobe
    is measured on a deterministic hash-ordered ``sample_n`` sample
    against exact brute-force truth for ``n_queries`` queries, with
    the sample's list count scaled to preserve the recommendation's
    POINTS PER LIST (``nlist_probe = n_sample / (N/nlist)``) — recall
    at fixed points-per-list and fixed nprobe is driven by cluster
    geometry, not corpus size, so the sample curve transfers (the
    same bounded-sample practice as the coarse-quantizer training in
    train_centroids, and the FAISS line of public work). Everything
    here is sample-sized except the one column-pruned count (skipped
    when ``n_rows`` is passed — the build-job-unification pattern).

    Feeding the build (the miners' ``calibration=`` pattern):
    ``materialize_ivf_index(..., calibration=report)`` raises when the
    trained centroid count contradicts the calibrated ``nlist`` and
    resolves ``quantize="auto"`` from the report;
    ``ivf_topk_from_index(..., nprobe=None, calibration=report)``
    probes at the calibrated depth and raises when an explicit nprobe
    is SHALLOWER than calibrated (deeper only raises recall)."""
    from mapreduce_implementation_spark.operators.similarity import (
        SQ8_CODE_COL,
        brute_force_topk,
        ivf_topk,
        quantize_sq8,
        train_centroids,
    )

    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1], got {target_recall}"
        )
    if nprobe_max < 1:
        raise ValueError(f"nprobe_max must be >= 1, got {nprobe_max}")
    warnings: list[str] = []
    n = int(n_rows) if n_rows is not None else (
        emb.where(F.col(emb_col).isNotNull()).select(id_col).count()
    )
    if n == 0:
        raise ValueError("cannot calibrate ANN knobs on an empty corpus")
    nlist = max(4, min(65_536, round(n ** 0.5)))
    points_per_list = n / nlist

    sample = (
        emb.where(F.col(emb_col).isNotNull())
        .select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit("annprobe")), F.col(id_col))
        .limit(sample_n)
        .localCheckpoint(eager=True)
    )
    n_s = sample.count()
    first = sample.select(F.size("embedding").alias("d")).first()
    dim = int(first.d) if first and first.d is not None else 0
    nlist_probe = max(2, min(n_s, round(n_s / points_per_list)))
    if round(n_s / points_per_list) < 2:
        # ADVICE r15: when the >=2 clamp binds, the probe's lists are
        # DENSER than the recommendation's points_per_list — the stated
        # basis for the recall curve transferring to the full corpus —
        # so say so instead of letting the report imply parity held
        warnings.append(
            f"nlist_probe clamp binds (sample {n_s} vectors / "
            f"points_per_list {points_per_list:.0f} rounds below 2): "
            "the probe cannot preserve points-per-list, so the recall "
            "curve may not transfer — raise sample_n toward at least "
            f"{int(2 * points_per_list)} vectors"
        )
    if n_s < 2 * k:
        warnings.append(
            f"probe sample has only {n_s} vectors for k={k} — recall "
            "numbers are near-degenerate; calibrate on a larger corpus"
        )

    centroids = train_centroids(
        sample, k=nlist_probe, iters=kmeans_iters
    ).localCheckpoint(eager=True)
    queries = (
        sample.orderBy(
            F.xxhash64(F.col("vec_id"), F.lit("annquery")), F.col("vec_id")
        )
        .limit(n_queries)
        .localCheckpoint(eager=True)
    )
    truth = {
        (r[0], r[1])
        for r in brute_force_topk(sample, queries, k=k).collect()
    }

    def recall_of(pairs) -> float | None:
        if not truth:
            return None
        return round(len(pairs & truth) / len(truth), 4)

    curve: list[list] = []
    reco_nprobe = None
    for nprobe in range(1, min(nprobe_max, nlist_probe) + 1):
        got = {
            (r[0], r[1])
            for r in ivf_topk(
                sample, queries, centroids, k=k, nprobe=nprobe
            ).collect()
        }
        rec = recall_of(got)
        curve.append([nprobe, rec])
        if rec is not None and rec >= target_recall:
            reco_nprobe = nprobe
            break
    if reco_nprobe is None:
        reco_nprobe = curve[-1][0] if curve else 1
        warnings.append(
            f"recall {curve[-1][1] if curve else None} at "
            f"nprobe={reco_nprobe} is below target {target_recall}: "
            "raise nprobe_max, raise nlist quality (more k-means "
            "iters), or accept the measured recall"
        )
    recall = curve[-1][1] if curve else None

    est_bytes = n * dim * 4
    quantize = "int8" if est_bytes >= sq8_bytes_floor else None
    # SQ8 recall evidence at the recommended depth: score the int8
    # CODES against the float truth (cosine is scale-invariant; the
    # cast noise is the only delta). Measured, not assumed.
    sq8_pairs = {
        (r[0], r[1])
        for r in ivf_topk(
            quantize_sq8(sample, "embedding").select(
                "vec_id", F.col(SQ8_CODE_COL).alias("embedding")
            ),
            queries,
            centroids,
            k=k,
            nprobe=reco_nprobe,
        ).collect()
    }
    sq8_recall = recall_of(sq8_pairs)

    return {
        "ann": {
            "n_rows": n,
            "dim": dim,
            "nlist": nlist,
            "points_per_list": round(points_per_list, 1),
            "nprobe": reco_nprobe,
            "target_recall": target_recall,
            "recall_curve": curve,
            "recall": recall,
            "quantize": quantize,
            "sq8_recall": sq8_recall,
            "est_index_bytes": est_bytes,
            "probe": {
                "sample_n": n_s,
                "nlist_probe": nlist_probe,
                "n_queries": n_queries,
                "k": k,
            },
        },
        "warnings": warnings,
    }
