"""Round-14 verdict item 1: the build-time decision jobs are unified
behind ONE reusable (key, count) stats pass.

Gate (listener): a default-configured miner build (pair_screen="auto")
triggers AT MOST ONE decision ACTION — the `_counts_with_stats` pass
whose checkpointed frame feeds the screen decision AND the cap/slice
detection — and ZERO jobs when a ``calibration=`` report answers the
decisions up front. Counted via job groups
(``sc.setJobGroup`` + ``statusTracker().getJobIdsForGroup``): every
job the build triggers on this thread lands in the group. AQE splits
one action into one job per materialized exchange stage, so the gate
is SELF-CALIBRATING: the build may trigger at most the jobs of one
standalone ``_counts_with_stats`` action over the identical frame —
i.e. nothing beyond the single counts pass.

The slice strategy's positioning barrier (assign_contiguous_ids'
eager materialization) is MINING work, not a decision job — it only
runs when the corpus genuinely has an oversized bucket, under pinned
screens too. So the slice gates are: no-oversized corpus → the
subtree is skipped and auto pays exactly the one counts job;
oversized corpus → auto triggers NO MORE build jobs than a pinned
screen does (the counts job replaces the pinned build's slice probe).

Parity: the counts-fed cap/slice detection must be value-identical to
the round-13 window/agg forms, including on a corpus whose
boilerplate cohort makes a bucket genuinely oversized.
"""

from __future__ import annotations

import itertools

import pytest

from mapreduce_implementation_spark.operators import dedup as dd

_group_seq = itertools.count()


def _count_build_jobs(spark, build):
    """Run ``build()`` inside a fresh job group; return (result,
    n_jobs_triggered)."""
    sc = spark.sparkContext
    gid = f"build-gate-{next(_group_seq)}"
    sc.setJobGroup(gid, "build-job gate", interruptOnCancel=False)
    try:
        out = build()
    finally:
        sc.setJobGroup("build-gate-done", "out of the gated group")
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    return out, len(jobs)


@pytest.fixture(scope="module")
def docs(spark):
    # 3 near-dup families + a 30-doc byte-identical boilerplate cohort
    # (oversized at max_bucket=10: every band bucket it occupies holds
    # 30 rows)
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


@pytest.fixture(scope="module")
def docs_small(spark):
    # no bucket exceeds max_bucket=50 (each family holds ~10 docs)
    rows = [
        (i, f"common boilerplate prefix shared text variant {i % 3}")
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 3 == 0:  # planted near-dup
            rows.append((1000 + i, [x + 0.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def planes(spark):
    import random

    rng = random.Random(5)
    return spark.createDataFrame(
        [(p, [rng.uniform(-1, 1) for _ in range(8)]) for p in range(2)],
        "plane_id int, plane_emb array<double>",
    )


MINHASH_KNOBS = dict(shingle_n=2, k=8, bands=2, rows=4, threshold=0.5)


def _mh_build(corpus, max_bucket, **kw):
    return dd.minhash_near_dup_pairs(
        corpus, "doc_id", "text", max_bucket=max_bucket, **MINHASH_KNOBS, **kw
    )


def _calibration(big_rows):
    return {
        "minhash": {
            **{k: v for k, v in MINHASH_KNOBS.items() if k != "threshold"},
            "max_bucket": 10,
            "screen_stats": {
                "small_rows": 60, "small_groups": 6, "big_rows": big_rows,
            },
        }
    }


def _counts_baseline(spark, docs, max_bucket):
    """Jobs of ONE standalone _counts_with_stats action over the same
    banded frame the miner builds (signatures precomputed so the plans
    are identical)."""
    sigs = dd.minhash_signatures(docs, shingle_n=2, k=8)
    banded = dd._minhash_banded(sigs, "doc_id", 2, 4)
    _, base = _count_build_jobs(
        spark,
        lambda: dd._counts_with_stats(
            banded, ("band_id", "band_hash"), max_bucket
        ),
    )
    return sigs, base


class TestMinhashBuildJobs:
    def test_auto_window_costs_at_most_one_counts_action(self, spark, docs):
        sigs, base = _counts_baseline(spark, docs, 10)
        _, n = _count_build_jobs(
            spark,
            lambda: _mh_build(
                docs, 10, cap_strategy="window", signatures=sigs
            ),
        )
        assert 0 < n <= base, f"auto/window build: {n} jobs vs baseline {base}"

    def test_auto_slice_no_oversized_costs_at_most_one_counts_action(
        self, spark, docs_small
    ):
        sigs, base = _counts_baseline(spark, docs_small, 50)
        _, n = _count_build_jobs(
            spark,
            lambda: _mh_build(
                docs_small, 50, cap_strategy="slice", signatures=sigs
            ),
        )
        assert 0 < n <= base, f"auto/slice build: {n} jobs vs baseline {base}"

    def test_auto_slice_oversized_no_worse_than_pinned(self, spark, docs):
        """On an oversized corpus the slice subtree's positioning
        barrier runs under ANY screen; auto's counts job replaces the
        pinned build's slice probe, so auto must not exceed pinned."""
        _, n_pinned = _count_build_jobs(
            spark,
            lambda: _mh_build(
                docs, 10, cap_strategy="slice", pair_screen="join"
            ),
        )
        _, n_auto = _count_build_jobs(
            spark, lambda: _mh_build(docs, 10, cap_strategy="slice")
        )
        assert n_auto <= n_pinned, (n_auto, n_pinned)

    def test_calibration_window_builds_zero_jobs(self, spark, docs):
        _, n = _count_build_jobs(
            spark,
            lambda: _mh_build(
                docs, 10, cap_strategy="window", calibration=_calibration(60)
            ),
        )
        assert n == 0, f"calibrated window build triggered {n} jobs"

    def test_calibration_slice_no_oversized_builds_zero_jobs(
        self, spark, docs_small
    ):
        cal = {
            "minhash": {
                **{k: v for k, v in MINHASH_KNOBS.items() if k != "threshold"},
                "max_bucket": 50,
                "screen_stats": {
                    "small_rows": 60, "small_groups": 6, "big_rows": 0,
                },
            }
        }
        _, n = _count_build_jobs(
            spark,
            lambda: _mh_build(
                docs_small, 50, cap_strategy="slice", calibration=cal
            ),
        )
        assert n == 0, f"calibrated slice build triggered {n} jobs"

    def test_pinned_screen_window_builds_zero_jobs(self, spark, docs):
        _, n = _count_build_jobs(
            spark, lambda: _mh_build(docs, 10, pair_screen="join")
        )
        assert n == 0

    def test_calibration_knob_mismatch_raises(self, spark, docs):
        cal = {"minhash": {"k": 16, "bands": 4, "rows": 4}}
        with pytest.raises(ValueError, match="calibration was measured"):
            _mh_build(docs, 10, calibration=cal)

    def test_calibration_without_stats_raises(self, spark, docs):
        cal = {"minhash": {"screen_stats": None, "max_bucket": 10}}
        with pytest.raises(ValueError, match="screen_stats"):
            _mh_build(docs, 10, calibration=cal)

    @pytest.mark.parametrize("cap_strategy", ["window", "slice"])
    def test_auto_parity_vs_pinned_on_oversized_corpus(
        self, spark, docs, cap_strategy
    ):
        """auto (counts-fed caps) == pinned join == pinned blas on a
        corpus with a genuinely oversized cohort — the counts-fed
        anti-join/slice detection is value-identical to the window/agg
        forms."""

        def pairs(screen):
            return sorted(
                (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
                for r in _mh_build(
                    docs, 10, cap_strategy=cap_strategy, pair_screen=screen
                ).collect()
            )

        auto = pairs("auto")
        assert auto == pairs("join") == pairs("blas")
        assert auto  # families survive the cap and genuinely pair

    def test_calibrate_corpus_report_feeds_miner(self, spark, docs):
        """End-to-end: the real calibrate_corpus report drives a
        zero-job build whose output matches the auto build."""
        from mapreduce_implementation_spark.operators.calibrate import (
            calibrate_corpus,
        )

        cal = calibrate_corpus(
            docs, max_bucket=10, n_sample=50, **MINHASH_KNOBS
        )
        assert cal["minhash"]["screen_stats"] is not None

        calibrated, n = _count_build_jobs(
            spark, lambda: _mh_build(docs, 10, calibration=cal)
        )
        assert n == 0
        got = sorted(
            (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
            for r in calibrated.collect()
        )
        want = sorted(
            (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
            for r in _mh_build(docs, 10).collect()
        )
        assert got == want


class TestSrpBuildJobs:
    def test_auto_window_costs_at_most_pinned_plus_counts(
        self, spark, vectors, planes
    ):
        from mapreduce_implementation_spark.operators import (
            similarity as sim,
        )
        from mapreduce_implementation_spark.operators.semantic import (
            srp_near_dup_pairs,
        )

        bucketed = sim._with_buckets(
            dd.spread(vectors), planes, "vec_id", "embedding", keep_emb=True
        )
        _, base = _count_build_jobs(
            spark,
            lambda: dd._counts_with_stats(
                bucketed.select("bucket"), ("bucket",), 10
            ),
        )
        # pinned build still collects the (driver-small) planes frame
        _, n_pinned = _count_build_jobs(
            spark,
            lambda: srp_near_dup_pairs(
                vectors, planes, max_bucket=10, cap_strategy="window",
                pair_screen="join",
            ),
        )
        _, n_auto = _count_build_jobs(
            spark,
            lambda: srp_near_dup_pairs(
                vectors, planes, max_bucket=10, cap_strategy="window"
            ),
        )
        assert n_auto <= n_pinned + base, (n_auto, n_pinned, base)

    @pytest.mark.parametrize("cap_strategy", ["window", "slice"])
    def test_auto_parity_vs_pinned(
        self, spark, vectors, planes, cap_strategy
    ):
        from mapreduce_implementation_spark.operators.semantic import (
            srp_near_dup_pairs,
        )

        def pairs(screen):
            return sorted(
                (r.id_a, r.id_b, round(r.cos_sim, 9))
                for r in srp_near_dup_pairs(
                    vectors, planes, threshold=0.99, max_bucket=30,
                    cap_strategy=cap_strategy, pair_screen=screen,
                ).collect()
            )

        auto = pairs("auto")
        assert auto == pairs("join") == pairs("blas")
        assert auto


class TestCapBucketsCounts:
    def test_counts_fed_cap_matches_window(self, spark):
        df = spark.createDataFrame(
            [(i, "big" if i < 20 else f"s{i % 5}") for i in range(40)],
            "id long, key string",
        )
        counts = df.groupBy("key").agg(
            dd.F.count(dd.F.lit(1)).alias("_n")
        ).localCheckpoint(eager=True)
        plain = sorted(
            r.id for r in dd.cap_buckets(df, ("key",), 10).collect()
        )
        fed = sorted(
            r.id
            for r in dd.cap_buckets(
                df, ("key",), 10, counts=counts, keys_nonnull=True
            ).collect()
        )
        assert plain == fed
        assert len(plain) == 20  # the 20-row "big" cohort dropped

    def test_counts_with_window_requires_nonnull_attestation(self, spark):
        """ADVICE r14: counts= silently turned strategy='window' into
        anti-join semantics (NULL-keyed oversized groups retained, not
        dropped) — external callers must now either attest non-null
        keys or request the anti-join plan explicitly."""
        df = spark.createDataFrame([(1, "a")], "id long, key string")
        counts = df.groupBy("key").agg(dd.F.count(dd.F.lit(1)).alias("_n"))
        with pytest.raises(ValueError, match="keys_nonnull"):
            dd.cap_buckets(df, ("key",), 10, counts=counts)
        # both explicit outs are accepted
        dd.cap_buckets(df, ("key",), 10, counts=counts, keys_nonnull=True)
        dd.cap_buckets(df, ("key",), 10, counts=counts, strategy="antijoin")

    def test_counts_rejected_for_representative(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, key string")
        counts = df.groupBy("key").agg(dd.F.count(dd.F.lit(1)).alias("_n"))
        with pytest.raises(ValueError, match="counts="):
            dd.cap_buckets(
                df, ("key",), 10, strategy="representative",
                rep_id_col="id", counts=counts,
            )

    def test_slice_counts_and_has_oversized(self, spark):
        df = spark.createDataFrame(
            [(i, "big" if i < 25 else f"s{i}") for i in range(40)],
            "id long, key string",
        )
        counts = df.groupBy("key").agg(
            dd.F.count(dd.F.lit(1)).alias("_n")
        ).localCheckpoint(eager=True)
        plain = sorted(
            (r.id, r._slice)
            for r in dd.slice_buckets(df, ("key",), 10, "id").collect()
        )
        fed = sorted(
            (r.id, r._slice)
            for r in dd.slice_buckets(
                df, ("key",), 10, "id", counts=counts, has_oversized=True
            ).collect()
        )
        assert plain == fed
        # has_oversized=False short-circuits the whole slice subtree
        flat = dd.slice_buckets(
            df, ("key",), 10, "id", counts=counts, has_oversized=False
        )
        assert {r._slice for r in flat.collect()} == {0}


class TestConnectedComponentsJobs:
    def test_local_path_job_count(self, spark):
        """On a pre-persisted edge frame the local path launches at most
        3 jobs — what the Row-collect implementation it replaced launched
        on the same frame: the edge-count aggregate (an AQE shuffle-map
        job plus its result job) and one collect. The NULL-endpoint
        count rides inside that aggregate and adds no job."""
        edges = (
            spark.createDataFrame(
                [(i, i + 1) for i in range(200)] + [(500, 501)],
                "doc_a long, doc_b long",
            )
            .repartition(4)
            .persist()
        )
        edges.count()
        out, n = _count_build_jobs(
            spark, lambda: dd.connected_components(edges)
        )
        assert 0 < n <= 3, f"local connected_components launched {n} jobs"
        assert out.count() == 203


class TestIvfServeJobs:
    """The IVF serve path runs from driver-local frames: train_centroids
    returns a LocalRelation, so collecting it runs no job; a warm append
    runs its layout sniff and its write, and a warm probe one query
    collect, the index's schema inference and its action's jobs."""

    DDL = "centroid_id int, centroid_emb array<long>"

    @pytest.fixture(scope="class")
    def served(self, spark, tmp_path_factory):
        import random

        from mapreduce_implementation_spark.operators import (
            similarity as sim,
        )

        rng = random.Random(23)

        def batch(n, offset):
            return spark.createDataFrame(
                [
                    (offset + i, [rng.uniform(-1, 1) for _ in range(8)])
                    for i in range(n)
                ],
                "vec_id long, embedding array<float>",
            )

        path = str(tmp_path_factory.mktemp("ivf_serve") / "index")
        cents = sim.train_centroids(batch(400, 0), k=4, iters=1)
        sim.append_to_ivf_index(batch(400, 0), cents, path, 0)
        return sim, cents, path, batch

    def test_train_centroids_output_collects_without_a_job(
        self, spark, served
    ):
        from pyspark.sql.types import StructType

        _, cents, _, _ = served
        rows, n = _count_build_jobs(spark, cents.collect)
        assert n == 0, f"collecting the centroids ran {n} jobs"
        assert len(rows) == 4
        assert cents.schema == StructType.fromDDL(self.DDL)

    def test_warm_append_at_most_two_jobs(self, spark, served):
        sim, cents, path, batch = served
        fresh = batch(100, 10_000)
        _, n = _count_build_jobs(
            spark, lambda: sim.append_to_ivf_index(fresh, cents, path, 1)
        )
        assert 0 < n <= 2, f"warm append ran {n} jobs"

    def test_warm_probe_at_most_five_jobs(self, spark, served):
        """Query collect, schema inference, and the action's broadcast,
        shuffle and result jobs. The broadcast side is the driver-built query frame,
        scanned locally (a row-list frame costs the same job count, so
        the plan is checked too)."""
        sim, cents, path, batch = served
        queries = batch(8, 20_000)

        def run():
            probe = sim.ivf_topk_from_index(
                spark, path, queries, cents, k=5, nprobe=2
            )
            return probe, probe.collect()

        (probe, rows), n = _count_build_jobs(spark, run)
        assert 0 < n <= 5, f"warm probe ran {n} jobs"
        assert {r.query_id for r in rows} == set(range(20_000, 20_008))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
