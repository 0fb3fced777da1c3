"""The two MinHash signature families and their kernels.

``shingle_impl="string"`` (the oracle arm) hashes shingle STRINGS with
md5 in a JVM expression chain; ``shingle_impl="tokhash"`` draws
shingle ints from xxhash64 token-hash slices in one fused mapInArrow
kernel that never materializes a shingle string. The fused kernel is
pinned bit-for-bit to its expression reference, composed from public
helpers: ``token_hash_ints`` → ``shingle_ints_from_token_hashes`` →
``minhash_signature_from_ints``. Min-wise sampling quality does not
depend on which injective map drew the shingle ints, so recall and
precision on planted corpora must match across families.
"""

from __future__ import annotations

import pytest

from mapreduce_implementation_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def planted(spark):
    rows = []
    vid = 0
    for i in range(10):  # exact twin pairs, mutually dissimilar
        t = (
            f"pairtext{i}a pairtext{i}b pairtext{i}c pairtext{i}d "
            f"pairtext{i}e pairtext{i}f pairtext{i}g pairtext{i}h"
        )
        rows += [(vid, t), (vid + 1, t)]
        vid += 2
    for j in range(20):  # unrelated filler
        rows.append(
            (1000 + j, f"unrelated filler {j} about topic{j} widget{j} "
                       f"sprocket{j} flange{j} gadget{j}")
        )
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# Round-15 verdict item 1: shingle_impl="tokhash" — shingle int64s from
# token-hash slices, no shingle string ever materialized. The span-kernel
# template (contamination.py span_impl="tokhash", 2.6x at 4M docs) applied
# to the signature chain, where the r14 decomposition measured the
# string stages (tokenize+ngram-concat+array_distinct) at ~20.5 s of the
# ~31 s 1M-doc build. md5-over-strings stays the oracle arm.
# ---------------------------------------------------------------------------


def test_tokhash_sig_domain_and_null_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, None),
            (3, ""),
            (4, "one two"),  # fewer tokens than shingle_n=3
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    sigs = {
        r.doc_id: None if r.sig is None else tuple(r.sig)
        for r in dd.minhash_signatures(docs, shingle_impl="tokhash").collect()
    }
    for d in (2, 3, 4):
        assert sigs[d] is None
    assert sigs[1] == sigs[5] and sigs[1] is not None
    assert len(sigs[1]) == 16
    assert all(0 <= v < dd.MERSENNE_P for v in sigs[1])
    # a different shingle family produces different min-wise draws
    md5 = {
        r.doc_id: None if r.sig is None else tuple(r.sig)
        for r in dd.minhash_signatures(docs, shingle_impl="string").collect()
    }
    assert md5[1] != sigs[1]


def _tokhash_reference(docs, shingle_n=3, k=16):
    """The tokhash family as JVM expressions, composed from the public
    helpers — the same tokenizer as minhash_signatures, then token
    hashes → slice-hashed shingle ints → permutation mins."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.functions.text import tokens

    toks = tokens(F.lower(F.col("text")), mode="simple")
    return (
        docs.select("doc_id", dd.token_hash_ints(toks).alias("_th"))
        .select(
            "doc_id",
            dd.shingle_ints_from_token_hashes(F.col("_th"), shingle_n).alias("_xs"),
        )
        .select("doc_id", dd.minhash_signature_from_ints(F.col("_xs"), k).alias("sig"))
    )


def test_tokhash_fused_parity_and_null_semantics(spark):
    """Round 16 (continued): the fused kernel replays Spark's
    xxhash64-over-slice chain in numpy — signatures must be
    BIT-IDENTICAL to the composed expression reference (same family,
    not another one), including the NULL contract for shingle-less
    docs. The fresh-process 1M-doc A/B that made fused the tokhash
    kernel (expr 20.82 s vs fused 11.80 s min-of-3, digest parity on
    every line) is in BASELINE.md r16."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, None),
            (3, ""),
            (4, "one two"),  # fewer tokens than shingle_n=3
            (5, "x y z"),  # exactly shingle_n tokens -> 1 shingle
            (6, "repeat repeat repeat repeat"),  # duplicate shingles
            (7, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )

    def as_dict(df):
        return {
            r.doc_id: None if r.sig is None else tuple(r.sig)
            for r in df.collect()
        }

    reference = as_dict(_tokhash_reference(docs))
    fused = as_dict(dd.minhash_signatures(docs, shingle_impl="tokhash"))
    assert reference == fused
    for d in (2, 3, 4):
        assert fused[d] is None
    assert fused[1] == fused[7] is not None
    assert all(0 <= v < dd.MERSENNE_P for v in fused[1])


def test_fused_kernels_ship_xxh64np_by_value(spark, planted):
    """The fused kernels must register functions/xxh64np for BY-VALUE
    cloudpickle (the multimodal._ship_codecs_by_value contract):
    arbitrary driver sessions run Python workers WITHOUT this package
    on sys.path (driver cwd != repo root), so a worker-side import of
    the module raises ModuleNotFoundError and every fused build dies.
    pytest runs from the repo root where the worker-side import
    happens to work — this pin is the in-suite stand-in for the
    /tmp-cwd driver canary that caught the original bug."""
    from pyspark import cloudpickle

    from mapreduce_implementation_spark.functions import xxh64np
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    # building the frames triggers the registration (construction-time)
    dd.minhash_signatures(planted, shingle_impl="tokhash")
    duplicate_span_stats(planted, n=5)
    assert (
        xxh64np.__name__ in cloudpickle.list_registry_pickle_by_value()
    )


def test_tokhash_miner_recall_parity(spark, planted):
    """Planted-corpus recall/precision through the REAL miner chain is
    identical under tokhash: min-wise sampling quality does not depend
    on which injective map drew the shingle ints."""

    def miner(shingle_impl):
        return lambda s: dd.minhash_near_dup_pairs(
            s, "doc_id", "text", k=16, bands=4, rows=4,
            threshold=0.5, max_bucket=None, shingle_impl=shingle_impl,
        )

    md5 = dd.miner_recall_probe(
        planted, miner("string"), n_sample=60, threshold=0.5
    )
    tok = dd.miner_recall_probe(
        planted, miner("tokhash"), n_sample=60, threshold=0.5
    )
    assert md5["true_pairs"] == tok["true_pairs"] == 10
    assert md5["recall"] == tok["recall"] == 1.0
    assert md5["precision"] == tok["precision"] == 1.0


def test_tokhash_cross_miner_recall_parity(spark, planted):
    """The cross-set ingest chain (signatures -> minhash_cross_near_dup)
    under tokhash flags the straddling twins exactly like md5 — both
    sides of the band join share the family, so blocking holds."""

    def cross(shingle_impl):
        def run(new, ref):
            new_sigs = dd.minhash_signatures(
                new, "doc_id", "text", k=16, shingle_impl=shingle_impl
            )
            ref_sigs = dd.minhash_signatures(
                ref, "doc_id", "text", k=16, shingle_impl=shingle_impl
            )
            return dd.minhash_cross_near_dup(
                new_sigs, ref_sigs, k=16, bands=4, rows=4,
                threshold=0.5, max_bucket=None,
            )
        return run

    md5 = dd.cross_miner_recall_probe(
        planted, cross("string"), n_sample=60, threshold=0.5
    )
    tok = dd.cross_miner_recall_probe(
        planted, cross("tokhash"), n_sample=60, threshold=0.5
    )
    assert md5["true_pairs"] == tok["true_pairs"] > 0
    assert md5["recall"] == tok["recall"] == 1.0
    assert md5["precision"] == tok["precision"] == 1.0


def test_tokhash_pairs_match_md5_on_exact_twins(spark, planted):
    """Exact twins estimate 1.0 under any family — the pair SET on this
    corpus is family-invariant even though the signatures differ."""

    def pairs(shingle_impl):
        return sorted(
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in dd.minhash_near_dup_pairs(
                planted, threshold=0.5, max_bucket=None,
                shingle_impl=shingle_impl,
            ).collect()
        )

    assert pairs("string") == pairs("tokhash")


def test_tokhash_ngram_jaccard_matches_string(spark, planted):
    """Exact Jaccard over HASHED shingle sets equals string Jaccard up
    to the ~1/2^64 collision contract — identical on the planted
    corpus, for both single- and multi-fingerprint blocking."""
    for nfp in (1, 3):
        s = sorted(
            (r.doc_a, r.doc_b, r.jaccard_sim)
            for r in dd.ngram_jaccard_pairs(
                planted, threshold=0.5, max_bucket=None,
                n_fingerprints=nfp, shingle_impl="string",
            ).collect()
        )
        t = sorted(
            (r.doc_a, r.doc_b, r.jaccard_sim)
            for r in dd.ngram_jaccard_pairs(
                planted, threshold=0.5, max_bucket=None,
                n_fingerprints=nfp, shingle_impl="tokhash",
            ).collect()
        )
        assert s == t and len(s) == 10


def test_tokhash_ngram_jaccard_shingleless_fallback(spark):
    """Shingle-less docs take the joined-tokens fallback KEY (non-null,
    equal for byte-identical docs — same contract as the string path's
    content-hash fallback: the fp stays groupable for the cap, while
    the empty-set jaccard verify still emits no pair — exact twins are
    exact_dedup's job). Both impls must agree."""
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "other thing")],
        ["doc_id", "text"],
    )
    for impl in ("string", "tokhash"):
        got = dd.ngram_jaccard_pairs(
            docs, threshold=0.0, max_bucket=None, shingle_impl=impl
        ).collect()
        assert got == []


def test_tokhash_knob_validation(spark, planted):
    with pytest.raises(ValueError, match="shingle_impl"):
        dd.minhash_signatures(planted, shingle_impl="bogus")
    with pytest.raises(ValueError, match="string-impl only"):
        dd.ngram_jaccard_pairs(
            planted, shingle_impl="tokhash",
            fingerprint=lambda t: t[0],
        )


def test_calibration_family_mismatch_raises(spark, planted):
    """ADVICE r14: a calibration measured under one signature family
    must refuse to answer for a build under another — the band-bucket
    distribution (screen_stats, has_oversized) is family-specific.
    Every build hashes shingle strings with md5, so a legacy report
    stamped ``sig_hash="xxhash64"`` is refused too, never band-matched
    against md5 builds."""
    mh = {
        "k": 16, "bands": 4, "rows": 4, "shingle_n": 3,
        "max_bucket": 1000, "shingle_impl": "string",
        "screen_stats": {
            "small_rows": 10, "small_groups": 5, "big_rows": 0,
        },
    }
    with pytest.raises(ValueError, match="shingle_impl"):
        dd.minhash_near_dup_pairs(
            planted, max_bucket=1000, shingle_impl="tokhash",
            calibration={"minhash": mh},
        )
    legacy = {"minhash": {**mh, "sig_hash": "xxhash64"}}
    with pytest.raises(ValueError, match="sig_hash='xxhash64'"):
        dd.minhash_near_dup_pairs(planted, max_bucket=1000, calibration=legacy)
    # matched family, with or without the md5 stamp older reports
    # carry: accepted (plan-only check, no action needed)
    for cal in ({"minhash": mh}, {"minhash": {**mh, "sig_hash": "md5"}}):
        dd.minhash_near_dup_pairs(planted, max_bucket=1000, calibration=cal)
