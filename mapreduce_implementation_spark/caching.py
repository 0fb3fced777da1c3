"""Scoped cache tracking.

Several operators cache an intermediate that feeds multiple consumers
(minhash signatures, the 5-min rollup tier). The cache must outlive the
operator function — the CALLER runs the consuming action after the
function returns — so the operator can't unpersist it itself. Instead,
caches register here and ``release_caches()`` drops every tracked block;
the query registry calls it on entry to each query, so a long sweep
(the driver runs 50 queries in one session) never accumulates more than
one query's worth of cached blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []
_LIVE_RDDS: list = []  # JVM RDD handles from tracked localCheckpoints


def track_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register for deferred release."""
    df.cache()
    _LIVE.append(df)
    return df


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + register the materialized
    blocks for deferred release (r17). ``DataFrame.unpersist()`` is a
    CacheManager call and does NOT free localCheckpoint blocks (they
    belong to the underlying RDD, normally reclaimed only by GC-driven
    ContextCleaner) — so the checkpoint's own JVM RDD, the one its
    ``LogicalRDD`` plan reads, is registered and unpersisted
    explicitly in ``release_caches``. An RDD another thread persists
    meanwhile is never captured."""
    chk = df.localCheckpoint(eager=True)
    _LIVE_RDDS.append(chk._jdf.logicalPlan().rdd())
    return chk


def release_caches() -> int:
    """Unpersist every tracked cache and checkpoint (blocking=False);
    returns count."""
    n = len(_LIVE) + len(_LIVE_RDDS)
    for df in _LIVE:
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    _LIVE.clear()
    for jrdd in _LIVE_RDDS:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    _LIVE_RDDS.clear()
    return n
