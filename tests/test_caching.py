"""Scoped cache tracking (caching.py): ``release_caches`` frees exactly
the blocks the tracked operators made — never an RDD someone else
persisted while a tracked checkpoint ran."""

from __future__ import annotations

from mapreduce_implementation_spark.caching import (
    release_caches,
    track_local_checkpoint,
)


def test_release_frees_only_the_checkpoints_own_rdd(spark, monkeypatch):
    sc = spark.sparkContext
    df = spark.range(10)
    # the session's concrete DataFrame class (PySpark 4 splits classic
    # and Connect frames), whose localCheckpoint the operator calls
    cls = type(df)
    real = cls.localCheckpoint
    foreign = []

    def checkpoint_beside_a_foreign_persist(self, *args, **kwargs):
        # another thread persists (and fills) its own RDD while the
        # tracked checkpoint runs
        rdd = sc.parallelize(range(8), 2).persist()
        rdd.count()
        foreign.append(rdd)
        return real(self, *args, **kwargs)

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet())

    monkeypatch.setattr(
        cls, "localCheckpoint", checkpoint_beside_a_foreign_persist
    )
    release_caches()
    chk = track_local_checkpoint(df)
    own = chk._jdf.logicalPlan().rdd().id()
    [rdd] = foreign
    try:
        assert {own, rdd.id()} <= persisted()
        assert release_caches() == 1
        left = persisted()
        assert rdd.id() in left, "released a foreign RDD"
        assert own not in left, "kept the checkpoint's own RDD"
    finally:
        rdd.unpersist()
