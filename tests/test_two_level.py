"""Two-level (coarse → fine) centroid hierarchy — the O((k1+k2)·d)
assignment path that lets semantic_dedup scale its cluster count
(operators/similarity.train_two_level_centroids / assign_two_level)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from similarity_reference import assign_two_level_reference

from mapreduce_implementation_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _vecs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def hierarchy(spark):
    vecs = _vecs(spark)
    coarse, fine = sim.train_two_level_centroids(
        vecs, k_coarse=4, k_fine=3, iters=1
    )
    return vecs, coarse, fine


def test_hierarchy_shape_and_global_ids(hierarchy):
    _, coarse, fine = hierarchy
    c = coarse.collect()
    f = fine.collect()
    assert {r.centroid_id for r in c} == set(range(len(c)))
    # global ids are unique, and each maps back to its coarse cell
    gids = [r.centroid_id for r in f]
    assert len(gids) == len(set(gids))
    for r in f:
        assert r.centroid_id // 3 == r.coarse_id
        assert 1 <= len([x for x in f if x.coarse_id == r.coarse_id]) <= 3


def test_assignment_total_and_optimal_within_cell(hierarchy):
    """Every vector gets exactly one fine centroid, and it is the
    argmax-quantized-cosine member of its coarse cell's fine set
    (ties -> smaller id) — recomputed independently in Python."""
    vecs, coarse, fine = hierarchy
    out = sim.assign_two_level(
        vecs, coarse, fine, keep_cols=("embedding",)
    ).collect()
    assert len(out) == vecs.count()

    cents = {
        int(r.centroid_id): [float(x) for x in r.centroid_emb]
        for r in coarse.collect()
    }
    cells: dict[int, list] = {}
    for r in fine.collect():
        cells.setdefault(int(r.coarse_id), []).append(
            (int(r.centroid_id), [float(x) for x in r.centroid_emb])
        )

    def q(x: float) -> float:  # DECIMAL(10,4) half-up, like the engine
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    def cos_q(a, b):
        dot = sum(x * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return q(dot / (na * nb)) if na and nb else None

    for row in out:
        emb = [float(x) for x in row.embedding]
        best_c = max(
            cents, key=lambda cid: (cos_q(cents[cid], emb) or -9, -cid)
        )
        want = max(
            cells[best_c], key=lambda t: (cos_q(t[1], emb) or -9, -t[0])
        )[0]
        assert row.centroid_id == want, (row.vec_id, row.centroid_id, want)


def test_semantic_dedup_over_two_level_assignment(spark, hierarchy):
    """The assignment= path: planted identical twins sharing a cell
    are deduped (keep-min-id), output stays one row per vector."""
    from mapreduce_implementation_spark.operators.semantic import (
        semantic_dedup,
    )

    vecs, coarse, fine = hierarchy
    base = vecs.limit(0)  # schema only
    twin_src = vecs.where(F.col("vec_id") < 5)
    twins = twin_src.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    all_vecs = vecs.unionByName(twins).unionByName(base)
    assigned = sim.assign_two_level(
        all_vecs, coarse, fine, keep_cols=("embedding",)
    )
    out = semantic_dedup(
        None, assignment=assigned, threshold=0.9999
    ).toPandas()
    assert len(out) == all_vecs.count()
    dropped = set(out[out["keep"] == 0]["vec_id"])
    assert {1_000_000 + i for i in range(5)} <= dropped
    # originals survive (their twin has the larger id)
    assert not (set(range(5)) & dropped)


def test_assign_two_level_impl_parity(spark, hierarchy):
    """Round 13: the fused arrow kernel (coarse matmul + per-cell fine
    matmul, map-only) must equal the expression reference (flat
    ROW_NUMBER argmax over coarse, then over the chosen cell's fine
    rows) row for row — including null and zero-vector rows, which
    take the smallest cell's smallest fine id."""
    vecs, coarse, fine = hierarchy
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        StructField,
        StructType,
    )

    extra = spark.createDataFrame(
        [(900001, None), (900002, [0.0] * len(vecs.first().embedding))],
        StructType(
            [
                StructField("vec_id", IntegerType(), False),
                StructField("embedding", ArrayType(FloatType()), True),
            ]
        ),
    )
    allv = vecs.select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    ).unionByName(extra)
    a = assign_two_level_reference(allv, coarse, fine).collect()
    b = sim.assign_two_level(allv, coarse, fine).collect()
    assert sorted((r.vec_id, r.centroid_id) for r in a) == sorted(
        (r.vec_id, r.centroid_id) for r in b
    )
    assert len(b) == allv.count()
    # coarse ids start at 0 and fine ids are coarse_id * k_fine + rank
    got = {r.vec_id: r.centroid_id for r in b}
    assert got[900001] == got[900002] == 0
