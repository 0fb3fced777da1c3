"""Source/sink format surface: JSONL and CSV roundtrips (Spark
built-ins are the engine's connectors; these tests pin the semantics we
rely on — schema fidelity, nested JSON props, header handling)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from mapreduce_implementation_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_jsonl_roundtrip_with_nested_props(spark, tmp_path):
    events = (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "user_id",
            "event_type",
            "value",
            F.from_json(
                "props", MapType(StringType(), StringType())
            ).alias("props"),
        )
        .limit(200)
    )
    path = str(tmp_path / "events.jsonl")
    events.write.mode("overwrite").json(path)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_s", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", MapType(StringType(), StringType())),
        ]
    )
    back = spark.read.schema(schema).json(path)
    assert back.count() == events.count()
    a = {r.event_id: (r.ts_s, r.user_id, r.event_type, r.value, dict(r.props or {}))
         for r in events.collect()}
    b = {r.event_id: (r.ts_s, r.user_id, r.event_type, r.value, dict(r.props or {}))
         for r in back.collect()}
    assert a == b


def test_csv_roundtrip_with_header(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation.csv")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(path)
    )
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    a = sorted((r.n_nationkey, r.n_name) for r in nation.collect())
    b = sorted((r.n_nationkey, r.n_name) for r in back.collect())
    assert a == b


def test_register_views_enables_plain_sql(spark):
    """The SQL surface: after register_views, any ANSI query runs via
    spark.sql against the catalog — the API a SQL-first user of the
    engine would reach for."""
    from mapreduce_implementation_spark.sources.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    out = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_customers DESC, n_name LIMIT 3
        """
    ).collect()
    assert len(out) == 3 and all(r.n_customers >= 1 for r in out)
    # events view got the ns-timestamp workaround: ts must be usable
    mx = spark.sql("SELECT MAX(ts) AS m FROM events").collect()[0].m
    assert mx is not None

def _write_events_fixture(path, ts_unit: str, tz=None) -> list[int]:
    """Tiny events table with ts in the given pyarrow timestamp unit.
    Returns the expected epoch seconds per event_id order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    secs = [1_700_000_000, 1_700_000_007, 1_700_003_600]
    mult = {"ns": 1_000_000_000, "us": 1_000_000}[ts_unit]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(
                    [s * mult for s in secs], pa.timestamp(ts_unit, tz=tz)
                ),
                "user_id": pa.array([10, 11, 10], pa.int64()),
                "event_type": pa.array(["click", "view", "purchase"]),
                "value": pa.array([1.0, 2.0, 3.0]),
                "props": pa.array(["{}"] * 3),
            }
        ),
        path,
    )
    return secs


def test_events_loader_is_encoding_portable(spark, tmp_path):
    """Regression armor for the round-5 breakage: the SAME instants
    written as parquet TIMESTAMP(NANOS), timestamp[us] (NTZ), and
    timestamp[us, UTC] must load to identical epoch seconds through
    BOTH the batch loader and the streaming source. A hardcoded
    encoding assumption fails this on day one."""
    from mapreduce_implementation_spark.operators.events import epoch_s
    from mapreduce_implementation_spark.streaming.queries import (
        run_available_now,
    )
    from mapreduce_implementation_spark.streaming.sources import (
        read_events_stream,
    )

    encodings = [("ns", None), ("us", None), ("us", "UTC")]
    for i, (unit, tz) in enumerate(encodings):
        d = tmp_path / f"enc_{unit}_{tz or 'ntz'}"
        d.mkdir()
        expected = _write_events_fixture(d / "events.parquet", unit, tz)

        batch = load_table(spark, str(d), "events")
        got = [
            r.s
            for r in batch.select("event_id", epoch_s("ts").alias("s"))
            .orderBy("event_id")
            .collect()
        ]
        assert got == expected, f"batch loader wrong for {unit}/{tz}"

        stream = read_events_stream(spark, str(d), glob="events.parquet")
        name = f"enc_stream_{i}"
        run_available_now(
            stream.select("event_id", epoch_s("ts").alias("s")),
            name,
            output_mode="append",
        )
        got_s = [r.s for r in spark.table(name).orderBy("event_id").collect()]
        assert got_s == expected, f"streaming source wrong for {unit}/{tz}"


def test_long_ts_outside_nanos_range_raises(spark, tmp_path):
    """A plain BIGINT ts column holding epoch-MICROS is type-identical
    to the nanosAsLong encoding; blind div-1000 would turn it into
    ~1970 garbage with zero errors. The magnitude guard must refuse
    loudly instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_implementation_spark.sources.catalog import (
        normalize_event_ts,
    )

    path = tmp_path / "events.parquet"
    micros = [1_700_000_000 * 1_000_000, 1_700_000_007 * 1_000_000]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(micros, pa.int64())}),
        str(path),
    )
    df = normalize_event_ts(spark.read.parquet(str(path)))
    with pytest.raises(Exception, match="epoch-nanos"):
        df.collect()


def test_long_ts_in_nanos_range_converts_exactly(spark, tmp_path):
    """Genuine nanos pass the guard and floor-convert without float
    corruption (the low microsecond digits must survive)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_implementation_spark.sources.catalog import (
        normalize_event_ts,
    )

    path = tmp_path / "events.parquet"
    nanos = 1_700_000_000_123_456_789  # odd low digits on purpose
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([nanos], pa.int64())}),
        str(path),
    )
    out = normalize_event_ts(spark.read.parquet(str(path))).select(
        F.unix_micros("ts").alias("us")
    ).collect()
    assert out[0].us == nanos // 1000


def test_compact_partitioned_dataset_merges_small_files(spark, tmp_path):
    """Compaction: batch-partitioned sink with many tiny files per
    leaf → one file per leaf, byte-identical rows, untouched
    partitions left alone, and a second run is a no-op."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.sinks import (
        compact_partitioned_dataset,
    )

    path = str(tmp_path / "sink")
    df = spark.range(1_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("batch_id"),
        (F.col("id") * 7).alias("payload"),
    )
    # 8 files per batch partition
    df.repartition(8).write.partitionBy("batch_id").parquet(path)
    before = spark.read.parquet(path)
    want = {(r.doc_id, r.batch_id, r.payload) for r in before.collect()}
    files0 = len(before.inputFiles())
    assert files0 >= 3 * 8

    stats = compact_partitioned_dataset(spark, path, ["batch_id"])
    assert stats["partitions_compacted"] == 3
    assert stats["files_after"] == 3  # one per leaf
    after = spark.read.parquet(path)
    assert {
        (r.doc_id, r.batch_id, r.payload) for r in after.collect()
    } == want

    again = compact_partitioned_dataset(spark, path, ["batch_id"])
    assert again["partitions_compacted"] == 0
    assert again["files_after"] == 3


def test_compact_split_large_partitions(spark, tmp_path):
    """files_per_partition > 1 spreads each leaf across N salted
    files (big-leaf control) while preserving rows."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.sinks import (
        compact_partitioned_dataset,
    )

    path = str(tmp_path / "sink2")
    df = spark.range(900).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("batch_id")
    )
    df.repartition(6).write.partitionBy("batch_id").parquet(path)
    want = {(r.doc_id, r.batch_id) for r in spark.read.parquet(path).collect()}
    stats = compact_partitioned_dataset(
        spark, path, ["batch_id"],
        files_per_partition=2, split_col="doc_id",
    )
    assert stats["partitions_compacted"] == 2
    assert 2 <= stats["files_after"] <= 4
    assert {
        (r.doc_id, r.batch_id) for r in spark.read.parquet(path).collect()
    } == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="split_col"):
        compact_partitioned_dataset(
            spark, path, ["batch_id"], files_per_partition=3
        )


def test_compact_two_level_partition_layout(spark, tmp_path):
    """Compaction over the IVF index's (centroid_id, batch_id) layout:
    only oversplit leaves are rewritten, rows survive byte-identical,
    and partition pruning still works afterwards."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.sinks import (
        compact_partitioned_dataset,
    )

    path = str(tmp_path / "idx")
    df = spark.range(600).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).alias("centroid_id"),
        (F.col("id") % 2).alias("batch_id"),
    )
    df.repartition(5).write.partitionBy("centroid_id", "batch_id").parquet(
        path
    )
    want = {
        (r.vec_id, r.centroid_id, r.batch_id)
        for r in spark.read.parquet(path).collect()
    }
    stats = compact_partitioned_dataset(
        spark, path, ["centroid_id", "batch_id"]
    )
    assert stats["partitions_compacted"] == 6
    assert stats["files_after"] == 6
    after = spark.read.parquet(path)
    assert {
        (r.vec_id, r.centroid_id, r.batch_id) for r in after.collect()
    } == want
    plan = (
        after.where(F.col("centroid_id") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_leaf_count_forms_agree_and_skip_staging(spark, tmp_path):
    """The three listing forms must agree on data-file counts, and the
    walk-based forms must ignore a concurrent writer's staging
    directories (_temporary/.spark-staging) AND hidden files — the
    round-12 ADVICE fix (a staging dir's files previously counted as
    data and could trigger spurious compaction)."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.sinks import (
        distributed_leaf_counts,
        paged_leaf_counts,
    )

    path = str(tmp_path / "ds")
    (
        spark.range(60)
        .select(
            (F.col("id") % 3).alias("batch_id"), F.col("id").alias("v")
        )
        .repartition(2, "batch_id")
        .write.partitionBy("batch_id")
        .parquet(path)
    )
    # a concurrent writer's staging junk + hidden files
    staging = os.path.join(path, "batch_id=0", ".spark-staging-xyz")
    os.makedirs(staging)
    open(os.path.join(staging, "part-junk.parquet"), "wb").close()
    os.makedirs(os.path.join(path, "_temporary", "0"), exist_ok=True)
    open(os.path.join(path, "_temporary", "0", "task.parquet"), "wb").close()
    open(os.path.join(path, "batch_id=1", "_hidden.crc"), "wb").close()

    paged = paged_leaf_counts(spark, path, ["batch_id"])
    dist = distributed_leaf_counts(spark, path, ["batch_id"])
    assert paged == dist
    assert set(paged) == {("0",), ("1",), ("2",)}
    # real data files only: parquet part files written above
    real = {
        k: len(
            [
                f
                for f in os.listdir(os.path.join(path, f"batch_id={k[0]}"))
                if not f.startswith(("_", ".")) and os.path.isfile(
                    os.path.join(path, f"batch_id={k[0]}", f)
                )
            ]
        )
        for k in paged
    }
    assert paged == real


def test_compact_falls_back_to_paged_listing(spark, tmp_path, monkeypatch):
    """ADVICE r12: a store pyarrow.fs cannot resolve must not fail the
    maintenance job — compact falls back to the paged JVM walk."""
    import warnings

    from mapreduce_implementation_spark.sources import sinks

    path = str(tmp_path / "fallback_ds")
    (
        spark.range(0, 40)
        .selectExpr("id", "cast(id % 2 as string) batch_id")
        .repartition(4)
        .write.partitionBy("batch_id")
        .parquet(path)
    )

    def boom(*a, **k):
        raise ValueError("scheme not supported by pyarrow")

    monkeypatch.setattr(sinks, "distributed_leaf_counts", boom)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = sinks.compact_partitioned_dataset(
            spark, path, ["batch_id"], max_files_per_partition=1
        )
    assert any("paged JVM walk" in str(x.message) for x in w)
    assert out["files_after"] == 2
    assert (
        sinks.paged_leaf_counts(spark, path, ["batch_id"])
        == {("0",): 1, ("1",): 1}
    )


def test_distributed_listing_driver_holds_prefixes_not_leaves(
    spark, tmp_path
):
    """Round-13: the driver walk stops at the first level with enough
    fan-out and NEVER expands the leaf level — verified by parity on a
    two-level layout where leaves (8×6) outnumber prefixes (8), plus a
    zero-partition-col root count."""
    from mapreduce_implementation_spark.sources.sinks import (
        distributed_leaf_counts,
        paged_leaf_counts,
    )

    path = str(tmp_path / "two_level_ds")
    (
        spark.range(0, 480)
        .selectExpr(
            "id",
            "cast(id % 8 as string) a",
            "cast(id % 6 as string) b",
        )
        .repartition(2)
        .write.partitionBy("a", "b")
        .parquet(path)
    )
    paged = paged_leaf_counts(spark, path, ["a", "b"])
    dist = distributed_leaf_counts(spark, path, ["a", "b"])
    # (id%8, id%6) yields lcm(8,6)=24 populated leaves
    assert paged == dist and len(dist) == 24

    # no partition cols: counts of the root's own data files
    flat = str(tmp_path / "flat_ds")
    spark.range(0, 10).repartition(3).write.parquet(flat)
    assert distributed_leaf_counts(spark, flat, []) == paged_leaf_counts(
        spark, flat, []
    )


def test_ensure_table_write_sizing_expanding(spark, tmp_path):
    """r17 verdict item 6 / ADVICE r16: a generator (explode) build can
    emit many times its scan bytes, so the byte-derived file-count
    estimate must NOT apply — the frame takes the rebalance-hint
    fallback (AQE sizes the files from the real post-explosion shuffle
    stats) while a same-source non-expanding build keeps the byte
    estimate."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.materialize import (
        _plan_has_generator,
        _sized_for_write,
        ensure_table,
    )

    src = str(tmp_path / "xsrc")
    spark.range(0, 200).selectExpr("id", "id * 2 AS v").write.parquet(src)
    base = spark.read.parquet(src)
    exploding = base.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(49))).alias("pos")
    )
    assert _plan_has_generator(exploding)
    assert not _plan_has_generator(base.selectExpr("id", "v + 1 AS w"))
    sized = _sized_for_write(exploding)
    # rebalance fallback, not a byte-derived repartition(1)
    assert "rebalance" in sized._jdf.queryExecution().logical().toString().lower()
    out = str(tmp_path / "x_artifact")
    got = ensure_table(spark, out, lambda: exploding)
    assert got.count() == 200 * 50


def test_ensure_table_write_sizing_generator_in_subquery(spark, tmp_path):
    """A Generate that sits only inside a scalar subquery is not a plan
    child (the optimized plan keeps the subquery as an expression); the
    generator probe must still see it, so the write takes the
    runtime-sizing (rebalance) path."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.sources.materialize import (
        _plan_has_generator,
        _sized_for_write,
    )

    src = str(tmp_path / "subq_src")
    spark.range(0, 200).selectExpr("id", "id * 2 AS v").write.parquet(src)
    base = spark.read.parquet(src)
    cap = (
        base.select(
            F.explode(F.sequence(F.lit(0), F.col("id").cast("int"))).alias("p")
        )
        .agg(F.max("p"))
        .scalar()
    )
    df = base.where(F.col("v") <= cap)
    assert _plan_has_generator(df)
    sized = _sized_for_write(df)
    assert "rebalance" in sized._jdf.queryExecution().logical().toString().lower()
    assert df.count() == 100


def test_ensure_table_write_sizing(spark, tmp_path):
    """r16: unpartitioned ensure_table writes right-size their file
    count from the build frame's scan bytes (guide §6) — a spread()
    build frame no longer commits one near-empty file per task — while
    the committed ROWS are unchanged; driver-local frames take the
    rebalance fallback and also commit small file counts."""
    from mapreduce_implementation_spark.operators.dedup import spread
    from mapreduce_implementation_spark.sources.materialize import (
        _sized_for_write,
        ensure_table,
    )

    src = str(tmp_path / "src")
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").write.parquet(src)
    base = spark.read.parquet(src)

    out = str(tmp_path / "artifact")
    got = ensure_table(
        spark, out, lambda: spread(base).selectExpr("id", "v + 1 AS w")
    )
    files = [
        f
        for f in __import__("os").listdir(out)
        if f.endswith(".parquet")
    ]
    # tiny local input → ceil(bytes / 128 MB) = 1 data file, not one
    # per spread() task
    assert len(files) == 1
    assert got.count() == 1000
    assert got.agg({"w": "sum"}).first()[0] == sum(2 * i + 1 for i in range(1000))

    # est >= core count → the frame is left alone (no extra exchange)
    import mapreduce_implementation_spark.sources.materialize as mat

    old = mat.TARGET_FILE_BYTES
    try:
        mat.TARGET_FILE_BYTES = 1  # force est = n_files ≥ parallelism
        wide = _sized_for_write(base)
        assert wide is base
    finally:
        mat.TARGET_FILE_BYTES = old

    # no-file (driver-local) source → rebalance fallback, still writes
    local = spark.createDataFrame([(i,) for i in range(10)], "id int")
    out2 = str(tmp_path / "artifact_local")
    got2 = ensure_table(spark, out2, lambda: local)
    assert got2.count() == 10
