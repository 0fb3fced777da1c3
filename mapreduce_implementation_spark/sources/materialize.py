"""Materialized corpus-artifact tables — signatures and index
assignments as parquet TABLES rather than session caches.

This is the engine analog of the reference's materialized ``./inter/``
intermediate layout (/root/reference/Worker.cc:174-183), done the way a
100 TB pipeline needs it: a ``.cache()`` dies with the session and
cannot hold a corpus-sized derivative, while a (partitioned) parquet
table survives the run, is shared by every consumer in a query, and —
for partition-keyed artifacts like IVF inverted lists — lets probes
prune whole directories at planning time (``PartitionFilters``,
plan-gated in tests/test_plans.py).

Two lifecycles:

* ``ensure_table`` — build-once / reuse-everywhere: a committed dataset
  (``_SUCCESS`` marker) is read back without rebuilding, so repeated
  queries (and repeated runs pointed at the same path) share one build.
* ``scratch_dir`` — a per-invocation artifact directory for registered
  queries, so the correctness/bench sweeps stay honestly COLD (every
  invocation pays the full build); removed at interpreter exit because
  the returned result frame reads the table lazily — the driver
  collects AFTER the query function returns.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from mapreduce_implementation_spark.sources.sinks import (
    write_partitioned_dataset,
)


def scratch_dir(prefix: str = "mris_artifact_") -> str:
    """Temp directory for artifact tables built inside a registered
    query; cleaned up at process exit (not earlier — see module doc)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def ensure_table(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    partition_cols: Sequence[str] = (),
    cluster: bool = True,
) -> DataFrame:
    """Read the artifact table at ``path`` if it is committed (has the
    ``_SUCCESS`` marker); otherwise call ``build()``, write it (hive-
    partitioned when ``partition_cols`` is given), and read it back.

    The read-back (rather than returning ``build()``'s frame) matters:
    every consumer scans the TABLE, so the expensive derivation runs
    exactly once per path no matter how many times the artifact is
    consumed — within a query, across queries, or across runs.

    Partitioned writes CLUSTER on the partition columns by default
    (round 13: a plain partitionBy write commits up to tasks×values
    files — 43.0 s/4096 files vs 2.5 s/64 files on the 800k IVF index,
    BASELINE.md); pass ``cluster=False`` for skewed partition values
    (one task per value otherwise) and compact afterwards."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = build()
        if partition_cols:
            write_partitioned_dataset(
                df, path, list(partition_cols), cluster=cluster
            )
        else:
            _sized_for_write(df).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


TARGET_FILE_BYTES = 128 * 1024 * 1024  # guide §6: 128 MB–1 GB per file


def _sized_for_write(df: DataFrame) -> DataFrame:
    """Right-size an artifact frame for its parquet write (r16, guide
    §6): a build frame that was spread() across the cores would
    otherwise commit one near-empty file per task (32 files for a
    ~1 MB signature table locally; task-count files at scale), paying
    per-file commit/listing/open cost on every write AND read-back.

    The file count derives from the upstream SCAN bytes (the same
    local-path probe spread() uses — artifact tables here are strict
    column subsets/derivatives of their input, so input bytes bound
    output bytes): ``ceil(input_bytes / TARGET_FILE_BYTES)`` keeps
    files in the 128 MB band at any scale (TOTAL scan bytes, not
    per-file ceilings, so a many-tiny-files input still converges to
    few right-sized outputs). An explicit round-robin
    ``repartition(k)`` — never ``coalesce(k)`` — so the expensive
    derivation keeps its scan/spread parallelism and only the tiny
    finished rows converge (coalesce(1) re-serialized the whole sig
    chain onto one core: 1.52 s vs 0.71 s, OPTIMIZATION_r16.md).
    Unresolvable inputs (object-store URIs, no-file sources) fall back
    to the AQE ``rebalance`` hint: advisory-size partitioning decided
    at runtime from real shuffle statistics.

    EXPANDING builds (r17 verdict item 6 / ADVICE r16): the
    input-bytes bound assumes the artifact is a strict subset/
    derivative of its scan — true for every current consumer
    (signatures, pack tables) but WRONG for a generator build
    (explode/posexplode: a shingle- or ngram-level artifact can be
    many times its input). A plan containing a Generate node therefore
    falls back to the rebalance hint too: AQE sizes the files from the
    REAL post-explosion shuffle statistics instead of an
    under-provisioned byte guess (pinned in
    tests/test_sources.py::test_ensure_table_write_sizing_expanding)."""
    import os as _os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.hint("rebalance")
    if _plan_has_generator(df):
        return df.hint("rebalance")
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            total = None
            break
        try:
            total += _os.path.getsize(parsed.path or uri)
        except OSError:
            total = None
            break
    if total is None:
        return df.hint("rebalance")
    # TOTAL bytes, not per-file ceilings: a many-tiny-files input (the
    # layout this sizing exists to avoid propagating) must not inflate
    # the estimate to one output file per input file
    est = max(1, -(-total // TARGET_FILE_BYTES))
    if est >= df.sparkSession.sparkContext.defaultParallelism:
        # the write is already at-or-above core-count wide; more
        # repartitioning buys nothing and costs a corpus-scale exchange
        return df
    return df.repartition(est)


def _plan_has_generator(df: DataFrame) -> bool:
    """True when the optimized logical plan contains a Generate node
    (explode/posexplode/inline …) — the row-multiplying shapes whose
    output bytes the scan-size estimate cannot bound. The walk covers
    each node's subquery plans (a scalar subquery stays an expression
    in the optimized plan, not a child) as well as its children.
    Driver-side plan walk only (the spread() probe pattern); unknown
    plan surfaces (Spark Connect — no _jdf) conservatively report True
    so the caller falls back to runtime-statistics sizing."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName().startswith("Generate"):
                return True
            for nested in (node.children(), node.subqueries()):
                for i in range(nested.size()):
                    stack.append(nested.apply(i))
        return False
    except Exception:
        return True
