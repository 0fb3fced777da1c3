"""Behavioral tests for benchmark decontamination
(operators/contamination.ngram_contamination)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.contamination import (
    ngram_contamination,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_overlap_counts_distinct_grams(spark):
    # benchmark holds exactly one trigram: "a b c"
    bench = _docs(spark, [(100, "a b c")])
    docs = _docs(
        spark,
        [
            (1, "a b c d"),          # grams: "a b c", "b c d" -> 1 hit
            # trigrams: (a b c) x2, (b c a) x2, (c a b) x2 -> 3 distinct,
            # 1 of them leaked
            (2, "a b c a b c a b"),
            (3, "x y z w"),          # no overlap
        ],
    )
    got = {
        r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination_frac)
        for r in ngram_contamination(docs, bench, n=3).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[3][1] == 0 and got[3][2] == 0.0  # zero-overlap doc is KEPT
    # distinct semantics: repetition inflates neither side of the ratio
    assert got[2] == (3, 1, 1 / 3)


def test_short_docs_yield_no_row(spark):
    bench = _docs(spark, [(100, "a b c")])
    docs = _docs(spark, [(1, "a b"), (2, "")])
    assert ngram_contamination(docs, bench, n=3).count() == 0


def test_case_insensitive_match(spark):
    bench = _docs(spark, [(100, "A B C")])
    docs = _docs(spark, [(1, "a b c")])
    [r] = ngram_contamination(docs, bench, n=3).collect()
    assert r.n_contaminated == 1


def test_benchmark_side_is_broadcast(spark):
    bench = _docs(spark, [(100, "a b c")])
    docs = _docs(spark, [(1, "a b c d")])
    plan = ngram_contamination(docs, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_invalid_n_raises(spark):
    bench = _docs(spark, [(100, "a b c")])
    with pytest.raises(ValueError):
        ngram_contamination(bench, bench, n=0)


def test_duplicate_span_stats_finds_shared_spans(spark):
    """Two docs sharing a verbatim 24-word passage (different
    surroundings — document-level near-dup would score them low) are
    both flagged with dup spans; a unique doc reports zero; short docs
    yield no row."""
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    passage = " ".join(f"w{i}" for i in range(24))
    docs = spark.createDataFrame(
        [
            (1, "intro one " + passage + " outro alpha beta"),
            (2, "completely different lead in text " + passage + " tail"),
            (3, " ".join(f"u{i}" for i in range(30))),  # unique content
            (4, "too short for twenty gram spans"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_span_stats(docs, n=20).collect()}
    assert out[1].n_dup_spans >= 5 and out[2].n_dup_spans >= 5
    assert 0 < out[1].dup_span_frac < 1 and 0 < out[2].dup_span_frac < 1
    assert out[3].n_dup_spans == 0 and out[3].dup_span_frac == 0.0
    assert 4 not in out  # < 20 tokens -> no spans -> no row

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        duplicate_span_stats(docs, n=1)


def test_duplicate_span_stats_plan_shape(spark):
    """There must be NO window over the span hash: holder counts are
    a partial-agg groupBy, so a hot span is map-side combined instead
    of forming one spilling window task (the round-8 single-task
    ceiling). Two scan+explode branches are EXPECTED — Spark plans no
    ReusedExchange across DataFrame branches, so the per-doc totals
    branch re-tokenizes the 2-column pruned scan (the operator
    docstring argues the trade)."""
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )
    from mapreduce_implementation_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # the span rows come out of the fused MapInArrow kernel, no
    # Generate/explode node at all — still two scan branches, still no
    # Window
    plan = plan_of(duplicate_span_stats(docs, n=20))
    # "Scan parquet" appears in the tree line AND the details header
    # (2 per node)
    assert plan.count("Scan parquet") == 4, plan  # two branches
    assert plan.count(") MapInArrow") == 2, plan  # one kernel per branch
    assert ") Generate" not in plan, plan  # no JVM explode in fused
    assert "Window" not in plan, plan  # no hot-key single-task ceiling


def test_duplicate_span_stats_planted_hot_span(spark):
    """A universal span (held by EVERY doc) — the skew case the
    partial-agg formulation exists for — still produces exact per-doc
    counts: each doc has the shared passage's spans as dups and its
    own filler as unique."""
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    passage = " ".join(f"hot{i}" for i in range(20))  # exactly one 20-gram
    rows = [
        (i, passage + " " + " ".join(f"d{i}w{j}" for j in range(20)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_span_stats(docs, n=20).collect()
    assert len(out) == 200
    for r in out:
        # 40 tokens -> 21 spans; every span touching a private word is
        # unique to its doc — only the pure-hot-passage span is shared
        assert r.n_spans == 21, r
        assert r.n_dup_spans == 1, r
        assert abs(r.dup_span_frac - 1 / 21) < 1e-12


def test_duplicate_span_stats_sampled_mode_error_bound(spark, sf_dir):
    """Round-10 verdict item 7: the hash-sampled span mode. Per kept
    span the dup classification is EXACT (sampling keys on content,
    so all holders agree) — gated by comparing the corpus-level dup
    mass estimate against the exact run on real documents — and the
    protocol is deterministic, stamps its rate, and refuses rate < 1.
    """
    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = duplicate_span_stats(docs, n=5).toPandas()
    est = duplicate_span_stats(docs, n=5, sample_rate=4).toPandas()

    assert "span_sample_rate" not in exact.columns
    assert (est["span_sample_rate"] == 4).all()
    # totals are scaled-back estimates of the exact totals: corpus
    # aggregate within binomial-noise tolerance (30% at this SF)
    t_exact, t_est = exact["n_spans"].sum(), est["n_spans"].sum()
    assert abs(t_est - t_exact) / t_exact < 0.3, (t_est, t_exact)
    d_exact, d_est = exact["n_dup_spans"].sum(), est["n_dup_spans"].sum()
    if d_exact:
        assert abs(d_est - d_exact) / max(d_exact, 1) < 0.5, (d_est, d_exact)
    # per-doc frac is a ratio in [0, 1]
    assert est["dup_span_frac"].between(0, 1).all()

    again = duplicate_span_stats(docs, n=5, sample_rate=4).toPandas()
    assert est.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )

    import pytest as _pytest
    with _pytest.raises(ValueError, match="sample_rate"):
        duplicate_span_stats(docs, n=5, sample_rate=0)


def test_duplicate_span_stats_hybrid_bounds_zipf_error(spark):
    """Round-11 verdict item 7: content-hash sampling carries each
    distinct span's whole multiplicity, so concentrated (Zipfian)
    corpora measured 26% dup-total error at rate 16. The hybrid
    estimator (heavy_hitter_support) exact-counts every sketched
    heavy span and samples only the tail — on the same cluster law
    the rehearsal corpus uses, the corpus dup-mass estimate must land
    within 10% at rate 16."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.operators.contamination import (
        duplicate_span_stats,
    )

    # the rehearsal's floor(1/u) Zipf cluster law in miniature:
    # cluster 1 alone holds ~15% of the corpus as one shared base
    # text — exactly the concentration that breaks single-stratum
    # content sampling
    h = F.abs(F.xxhash64(F.col("id"), F.lit("scatter")))
    u = ((h % 1_000_000) + 1) / 1_000_000.0
    cluster = F.floor(1.0 / u).cast("long")
    base_seed = F.when((h % 10) < 3, cluster).otherwise(
        F.col("id") + F.lit(1_000_000_000)
    )

    def word(seed, tag, j):
        return F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(seed, F.lit(tag), F.lit(j)), F.lit(5000)),
        )

    text = F.concat_ws(
        " ",
        *[word(base_seed, "b", j) for j in range(30)],
        *[word(F.col("id"), "t", j) for j in range(8)],
    )
    docs = spark.range(30_000).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )

    exact = duplicate_span_stats(docs, n=20).toPandas()
    hybrid = duplicate_span_stats(
        docs, n=20, sample_rate=16
    ).toPandas()

    d_exact = exact["n_dup_spans"].sum()
    d_hybrid = hybrid["n_dup_spans"].sum()
    assert d_exact > 0
    assert abs(d_hybrid - d_exact) / d_exact < 0.10, (d_hybrid, d_exact)
    # totals estimate holds too, and the rate is stamped
    t_exact, t_hybrid = exact["n_spans"].sum(), hybrid["n_spans"].sum()
    assert abs(t_hybrid - t_exact) / t_exact < 0.10, (t_hybrid, t_exact)
    assert (hybrid["span_sample_rate"] == 16).all()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="heavy_hitter_support"):
        duplicate_span_stats(docs, n=20, sample_rate=16, heavy_hitter_support=1.5)


def _span_corpus(spark):
    rows = []
    boiler = " ".join(f"b{i}" for i in range(30))
    for d in range(40):
        uniq = " ".join(f"u{d}x{i}" for i in range(25))
        rows.append((d, boiler + " " + uniq if d % 2 == 0 else uniq))
    rows.append((100, None))
    rows.append((101, "short text"))
    rows.append((102, ""))
    # one 20-gram twice in a doc: the per-doc distinct must count it once
    rep = " ".join(f"r{i}" for i in range(20))
    rows.append((103, f"{rep} {rep} tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_span_impl_parity_and_validation(spark):
    """round-14: the operator's span classification must equal the
    string-concat span hashes' (tests/span_reference.py) fed through
    the same aggregation tail, on a corpus where no 64-bit collision
    occurs: same rows, same counts. Sampled mode is deterministic and
    its heavy-hitter stratum exact."""
    from span_reference import string_span_hashes

    from mapreduce_implementation_spark.operators.contamination import (
        _span_stats,
        duplicate_span_stats,
    )

    docs = _span_corpus(spark)
    exact = _sorted_rows(duplicate_span_stats(docs, n=20))
    assert exact  # non-empty
    assert exact == _sorted_rows(
        _span_stats(
            string_span_hashes(docs, "doc_id", "text", 20), "doc_id",
            None, None,
        )
    )
    # sampled mode: content-hash sampling legitimately picks DIFFERENT
    # spans per hash function (the estimator is unbiased over the
    # hash-function choice, not hash-invariant), so the check is
    # determinism + exactness of the sampled classification, not row
    # equality: the operator repeats itself, and the heavy-hitter
    # stratum (weight-1 exact) keeps the boilerplate dup mass
    # identical to the exact mode's for every doc
    kw = dict(sample_rate=2, heavy_hitter_support=0.01)
    sampled = _sorted_rows(duplicate_span_stats(docs, n=20, **kw))
    assert sampled == _sorted_rows(duplicate_span_stats(docs, n=20, **kw))
    exact_dup = {r[0]: r[2] for r in exact}
    for r in sampled:
        if r[0] in exact_dup and exact_dup[r[0]] > 0:
            assert r[2] == exact_dup[r[0]], r


def test_span_impl_fused_parity(spark):
    """Round 16 (continued): the fused kernel replays the JVM
    slice-hash chain in numpy (functions/xxh64np.py) and computes the
    per-doc distinct with one lexsort — the (id, h) multiset it emits
    must be BIT-IDENTICAL to the expression reference's
    (tests/span_reference.py), so the whole operator output equals the
    reference fed through the same tail in exact AND
    sampled/heavy-hitter modes (content-hash sampling sees the same
    hashes, so the sampled rows match row-for-row)."""
    from span_reference import tokhash_span_hashes

    from mapreduce_implementation_spark.operators.contamination import (
        _span_hashes,
        _span_stats,
        duplicate_span_stats,
    )

    docs = _span_corpus(spark)
    ref = tokhash_span_hashes(docs, "doc_id", "text", 20)
    spans = _sorted_rows(_span_hashes(docs, "doc_id", "text", 20))
    assert spans  # non-empty
    assert spans == _sorted_rows(ref)  # a multiset: duplicates kept
    for kw in ({}, dict(sample_rate=2, heavy_hitter_support=0.01)):
        got = _sorted_rows(duplicate_span_stats(docs, n=20, **kw))
        assert got == _sorted_rows(
            _span_stats(
                ref, "doc_id", kw.get("sample_rate"),
                kw.get("heavy_hitter_support"),
            )
        ), kw
