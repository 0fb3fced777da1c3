"""r17 verdict item 1: the (band, count) screen snapshot is derived as
a second artifact of the signature-table build (minhash_band_stats)
and the table carries its precomputed band hashes — the miner then
makes every build-time decision with ZERO jobs and the band md5 chain
evaluates once per build instead of three times.

Gates:

* value parity of the band_stats-fed miner vs the in-build measured
  ("auto") path, on a no-oversized corpus (where the cap subtree is
  ELIDED outright) AND on a genuinely oversized one (where the sidecar
  counts parquet feeds the anti-join detection);
* both branches of the band explode (the precomputed band-hash column
  and the runtime ``band_hashes`` fallback) and the committed-side
  ``minhash_banded_frame`` equal a hashlib md5-over-slice reference,
  and a MISMATCHED banding never matches the knob-stamped column name;
* zero decision jobs in the miner when band_stats is supplied
  (job-group gate, the test_build_jobs protocol);
* sidecar persistence: a second minhash_band_stats call reloads from
  the committed meta; foreign knobs raise, and so does a table rebuilt
  at the same path under the old sidecar (commit fingerprint).
"""

from __future__ import annotations

import itertools
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators import dedup as dd

KNOBS = dict(shingle_n=2, k=8, bands=2, rows=4, threshold=0.5)

_gseq = itertools.count()


def _count_jobs(spark, build):
    sc = spark.sparkContext
    gid = f"bandstats-gate-{next(_gseq)}"
    sc.setJobGroup(gid, "band-stats gate", interruptOnCancel=False)
    try:
        out = build()
    finally:
        sc.setJobGroup("bandstats-gate-done", "out of the gated group")
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"common boilerplate prefix shared text variant {i % 3}")
        for i in range(30)
    ]
    boiler = (
        "terms of service agreement text repeated verbatim across the "
        "whole mirror set of pages"
    )
    rows += [(100 + j, boiler) for j in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _table_with_sidecar(spark, docs, max_bucket):
    from mapreduce_implementation_spark.sources.materialize import (
        ensure_table,
    )

    root = tempfile.mkdtemp(prefix="mris_bandstats_")
    sigs = ensure_table(
        spark,
        os.path.join(root, "sigs"),
        lambda: dd.minhash_signatures(
            docs, "doc_id", "text", shingle_n=KNOBS["shingle_n"],
            k=KNOBS["k"], with_bands=(KNOBS["bands"], KNOBS["rows"]),
        ),
    )
    stats = dd.minhash_band_stats(
        spark, sigs, os.path.join(root, "sigs_bandstats"),
        bands=KNOBS["bands"], rows=KNOBS["rows"], max_bucket=max_bucket,
    )
    return root, sigs, stats


def _pairs(docs, sigs, max_bucket, **kw):
    return dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", max_bucket=max_bucket,
        signatures=sigs, **KNOBS, **kw
    )


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def _band_reference(sig_rows, bands, rows):
    """The banding formula the DuckDB twins replay: md5 hex of the
    ``|``-joined r-slice of the signature, one row per band."""
    import hashlib

    return {
        (
            doc_id,
            j,
            hashlib.md5(
                "|".join(map(str, sig[j * rows:(j + 1) * rows])).encode()
            ).hexdigest(),
            tuple(sig),
        )
        for doc_id, sig in sig_rows
        if sig is not None
        for j in range(bands)
    }


def test_precomputed_band_hashes_match_runtime(spark, docs):
    sigs = dd.minhash_signatures(
        docs, "doc_id", "text", shingle_n=2, k=8, with_bands=(2, 4)
    )
    assert dd.band_hashes_column(2, 4) in sigs.columns
    plain = sigs.select("doc_id", "sig")
    # a shingle-less doc's NULL signature must yield no band row
    plain = plain.unionByName(
        spark.createDataFrame([(999, None)], plain.schema)
    )
    frame = dd.minhash_banded_frame(plain, 2, 4, k=8)
    assert frame.columns == ["doc_id", "band_id", "band_hash", "sig"]
    # a foreign banding must not match the stamped column: k=8 also
    # factors as 4x2, whose hashes differ from the stored 2x4, so the
    # band explode falls back to the runtime band_hashes expression
    assert dd.band_hashes_column(4, 2) not in sigs.columns
    branches = {
        "precomputed": dd._minhash_banded(
            sigs, "doc_id", 2, 4, keep_sig=True
        ),
        "runtime": dd._minhash_banded(plain, "doc_id", 2, 4, keep_sig=True),
        "frame": frame,
        "foreign": dd._minhash_banded(sigs, "doc_id", 4, 2, keep_sig=True),
    }
    tagged = None
    for tag, df in branches.items():
        df = df.select(F.lit(tag).alias("tag"), "*")
        tagged = df if tagged is None else tagged.unionByName(df)
    got = {tag: set() for tag in branches}
    for r in tagged.collect():
        got[r.tag].add((r.doc_id, r.band_id, r.band_hash, tuple(r.sig)))
    sig_rows = [tuple(r) for r in plain.collect()]
    ref = _band_reference(sig_rows, 2, 4)
    assert ref
    for tag in ("precomputed", "runtime", "frame"):
        assert got[tag] == ref, tag
    assert got["foreign"] == _band_reference(sig_rows, 4, 2)


@pytest.mark.parametrize("max_bucket", [50, 10])
def test_band_stats_miner_parity(spark, docs, max_bucket):
    # max_bucket=50: nothing oversized (the 30-doc boiler cohort fits)
    # -> cap subtree elided; max_bucket=10: the cohort is oversized ->
    # sidecar counts parquet feeds the anti-join detection
    root, sigs, stats = _table_with_sidecar(spark, docs, max_bucket)
    assert (stats["screen_stats"]["big_rows"] > 0) == (max_bucket == 10)
    assert (stats["counts"] is not None) == (max_bucket == 10)
    fed = _pairs(docs, sigs, max_bucket, band_stats=stats)
    measured = _pairs(docs, sigs.select("doc_id", "sig"), max_bucket)
    assert _rowset(fed) == _rowset(measured)


def test_band_stats_zero_decision_jobs(spark, docs):
    root, sigs, stats = _table_with_sidecar(spark, docs, 50)
    _, n_jobs = _count_jobs(
        spark, lambda: _pairs(docs, sigs, 50, band_stats=stats)
    )
    assert n_jobs == 0, f"band_stats miner build triggered {n_jobs} jobs"


def test_band_stats_sidecar_reload_and_knob_guard(spark, docs):
    root, sigs, stats = _table_with_sidecar(spark, docs, 10)
    # reload from the committed meta: zero jobs, same answers
    def reload():
        return dd.minhash_band_stats(
            spark, sigs, os.path.join(root, "sigs_bandstats"),
            bands=2, rows=4, max_bucket=10,
        )

    again, n_jobs = _count_jobs(spark, reload)
    # <= 1: spark.read.parquet fires one tiny footer-read job for
    # schema inference; the point is NO data pass (the standalone
    # counts action costs 2+ jobs over the banded frame)
    assert n_jobs <= 1, f"sidecar reload triggered {n_jobs} jobs"
    assert again["screen_stats"] == stats["screen_stats"]
    assert again["counts"] is not None
    with pytest.raises(ValueError, match="sidecar"):
        dd.minhash_band_stats(
            spark, sigs, os.path.join(root, "sigs_bandstats"),
            bands=2, rows=4, max_bucket=99,
        )
    # the miner's own knob check: stats measured at one max_bucket
    # cannot answer for another
    with pytest.raises(ValueError, match="band_stats"):
        _pairs(docs, sigs, 50, band_stats=stats)


def test_band_stats_sidecar_refuses_rebuilt_table(spark, docs):
    """A signature table rebuilt at the same path must not inherit its
    old sidecar: a stale big_rows == 0 would elide the cap over a
    bucket that is now oversized."""
    root, sigs, stats = _table_with_sidecar(
        spark, docs.where("doc_id < 100"), 50
    )
    assert stats["screen_stats"]["big_rows"] == 0
    boiler = docs.where("doc_id >= 100")
    bigger = boiler.union(boiler.select((F.col("doc_id") + 100).alias("doc_id"), "text"))
    dd.minhash_signatures(
        bigger, "doc_id", "text", shingle_n=KNOBS["shingle_n"],
        k=KNOBS["k"], with_bands=(KNOBS["bands"], KNOBS["rows"]),
    ).write.mode("overwrite").parquet(os.path.join(root, "sigs"))
    rebuilt = spark.read.parquet(os.path.join(root, "sigs"))
    fresh = dd.minhash_band_stats(
        spark, rebuilt, None, bands=2, rows=4, max_bucket=50
    )
    assert fresh["screen_stats"]["big_rows"] > 0  # 60 boilerplate twins
    with pytest.raises(ValueError, match="rebuild the sidecar"):
        dd.minhash_band_stats(
            spark, rebuilt, os.path.join(root, "sigs_bandstats"),
            bands=2, rows=4, max_bucket=50,
        )


def test_cap_elision_requires_no_observation(spark, docs):
    # telemetry still implies the cap subtree even when nothing is
    # oversized: the observation must attach (and read zero)
    from pyspark.sql import Observation

    root, sigs, stats = _table_with_sidecar(spark, docs, 50)
    obs = Observation()
    out = _pairs(
        docs, sigs, 50, band_stats=stats, cap_observation=obs,
        cap_strategy="antijoin",
    )
    out.collect()
    assert obs.get["capped_rows"] == 0
