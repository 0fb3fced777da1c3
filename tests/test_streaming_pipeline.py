"""Streaming chunk→pack: batch-parity of streamed chunking, per-batch
packing invariants, and global (batch_id, pack_id) identity."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.chunking import chunk_documents
from mapreduce_implementation_spark.sources.catalog import load_table
from mapreduce_implementation_spark.streaming.pipeline import (
    start_pack_stream,
    streaming_chunks,
)
from mapreduce_implementation_spark.streaming.queries import run_available_now

SF = "/root/testdata/sf0.001"
BUDGET = 256
CHUNK_TOKENS, OVERLAP = 100, 10


def _stage_two_batches(spark, stream_dir):
    """Split the real corpus into two disjoint parquet files so
    maxFilesPerTrigger=1 yields two micro-batches with no doc overlap."""
    docs = load_table(spark, SF, "documents")
    for i, part in enumerate(
        (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1))
    ):
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{stream_dir}/b{i}"
        )
    # flatten: the file source lists files recursively only with a glob
    import glob as g
    import shutil

    for i in range(2):
        src = g.glob(f"{stream_dir}/b{i}/part-*.parquet")[0]
        shutil.move(src, f"{stream_dir}/batch_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/b{i}")
    return docs


def _docs_stream(spark, stream_dir):
    schema = spark.read.parquet(f"{stream_dir}/batch_0.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "batch_*.parquet")
        .parquet(stream_dir)
    )


def test_streamed_chunks_match_batch_chunking(spark, tmp_path):
    """chunk_documents is stateless Column work, so streaming it must
    yield EXACTLY the batch result on the same rows."""
    docs = _stage_two_batches(spark, str(tmp_path))
    stream = streaming_chunks(
        _docs_stream(spark, str(tmp_path)),
        chunk_tokens=CHUNK_TOKENS,
        overlap=OVERLAP,
    )
    q = run_available_now(stream, "chunks_stream", output_mode="append")
    got = {
        (r.chunk_key, r.n_tokens, r.chunk_text)
        for r in spark.table("chunks_stream").collect()
    }
    q.stop()
    want = {
        (r.doc_id * (1 << 32) + r.chunk_idx, r.n_tokens, r.chunk_text)
        for r in chunk_documents(
            docs, chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP
        ).collect()
    }
    assert got == want and len(got) > 0


def test_pack_stream_invariants_across_batches(spark, tmp_path):
    """Per-micro-batch packing: every chunk packed exactly once across
    the whole stream, no (batch, pack) over budget, pack identity is
    the (batch_id, pack_id) pair, and both batches reached the sink."""
    docs = _stage_two_batches(spark, str(tmp_path / "in"))
    out_dir = str(tmp_path / "packed")
    ckpt = str(tmp_path / "ckpt")
    chunks = streaming_chunks(
        _docs_stream(spark, str(tmp_path / "in")),
        chunk_tokens=CHUNK_TOKENS,
        overlap=OVERLAP,
    )
    q = start_pack_stream(
        chunks, out_dir, ckpt, budget=BUDGET, n_buckets=4
    )
    q.awaitTermination()

    packed = spark.read.parquet(out_dir)
    n_chunks = chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP
    ).count()
    assert packed.count() == n_chunks > 0
    assert packed.select("chunk_key").distinct().count() == n_chunks
    assert packed.select("batch_id").distinct().count() == 2
    over = (
        packed.groupBy("batch_id", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.count("*").alias("n"))
        .where((F.col("tok") > BUDGET) & (F.col("n") > 1))
    )
    assert over.count() == 0


def test_streaming_quality_gate_matches_batch_gate(spark, tmp_path):
    """The streamed quality gate must keep EXACTLY the docs the batch
    gate keeps (it is the same function), and the gate must actually
    drop something on this fixture."""
    from mapreduce_implementation_spark.functions.textstats import (
        _lower_tokens,
        quality_gate,
        quality_score,
        top_token_count,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        streaming_quality_gate,
    )

    docs = _stage_two_batches(spark, str(tmp_path))
    # derive thresholds from the corpus distribution (medians) so the
    # "gate bites" assertion survives testdata regeneration — same
    # policy as test_corpus_api's quality-floor test
    toks = _lower_tokens("text")
    frac = top_token_count(toks).cast("double") / F.greatest(
        F.size(toks).cast("long"), F.lit(1)
    )
    floor, cap = (
        docs.select(
            quality_score("text").alias("q"), frac.alias("f")
        )
        .agg(
            F.expr("percentile(q, 0.5)").alias("mq"),
            F.expr("percentile(f, 0.5)").alias("mf"),
        )
        .collect()[0]
    )
    gated = streaming_quality_gate(
        _docs_stream(spark, str(tmp_path)),
        min_quality=floor,
        max_top_token_frac=cap,
    ).select("doc_id")
    q = run_available_now(gated, "gated_docs", output_mode="append")
    got = {r.doc_id for r in spark.table("gated_docs").collect()}
    q.stop()
    want = {
        r.doc_id
        for r in quality_gate(
            docs, min_quality=floor, max_top_token_frac=cap
        ).select("doc_id").collect()
    }
    assert got == want
    assert 0 < len(got) < docs.count()


def test_ingest_dedup_stream_flags_against_reference(spark, tmp_path):
    """Dedup-at-ingest: stream the odd-doc half against a committed
    reference signature table of the even half; the flags must equal
    the batch cross operator's answer on the same rows, across both
    micro-batches, with batch identity preserved."""
    from mapreduce_implementation_spark.operators import dedup as dd
    from mapreduce_implementation_spark.streaming.pipeline import (
        start_ingest_dedup_stream,
    )

    docs = load_table(spark, SF, "documents")
    ref_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)

    ref_path = str(tmp_path / "ref_sigs")
    dd.minhash_signatures(ref_docs, "doc_id", "text", shingle_n=3, k=16).write.parquet(ref_path)

    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    for i, part in enumerate(
        (new_docs.where(F.col("doc_id") % 4 == 1), new_docs.where(F.col("doc_id") % 4 == 3))
    ):
        part.coalesce(1).write.parquet(f"{stream_dir}/b{i}")
    import glob as g
    import shutil

    for i in range(2):
        src = g.glob(f"{stream_dir}/b{i}/part-*.parquet")[0]
        shutil.move(src, f"{stream_dir}/batch_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/b{i}")

    schema = spark.read.parquet(f"{stream_dir}/batch_0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "batch_*.parquet")
        .parquet(stream_dir)
    )
    out_dir = str(tmp_path / "flags")
    q = start_ingest_dedup_stream(
        stream, ref_path, out_dir, str(tmp_path / "ckpt"),
        shingle_n=3, k=16, bands=4, rows=4, threshold=0.5,
    )
    q.awaitTermination()

    flags = spark.read.parquet(out_dir)
    got = {(r.new_id, r.ref_id) for r in flags.collect()}
    want = {
        (r.new_id, r.ref_id)
        for r in dd.minhash_cross_near_dup(
            dd.minhash_signatures(new_docs, "doc_id", "text", shingle_n=3, k=16),
            spark.read.parquet(ref_path),
            k=16, bands=4, rows=4, threshold=0.5,
        ).collect()
    }
    assert got == want and len(got) > 0
    assert flags.select("batch_id").distinct().count() == 2


def test_ingest_embed_stream_matches_batch(spark, tmp_path):
    """Embed-at-ingest parity: streaming the corpus through
    start_ingest_embed_stream yields EXACTLY the batch
    embed_documents vectors (the stub encoder is deterministic), both
    micro-batches reach the sink, and a full replay with a fresh
    checkpoint overwrites its own partitions idempotently."""
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        start_ingest_embed_stream,
    )

    docs = _stage_two_batches(spark, str(tmp_path / "in"))
    out = str(tmp_path / "vecs")
    q = start_ingest_embed_stream(
        _docs_stream(spark, str(tmp_path / "in")),
        out,
        str(tmp_path / "ckpt"),
        dim=8,
    )
    q.awaitTermination()

    # default-on ingest telemetry: the corpus-health metrics ride each
    # micro-batch's progress (zero extra scans) and sum to the corpus
    per_batch = [
        p["observedMetrics"]["ingest_quality"]
        for p in q.recentProgress
        if "ingest_quality" in p.get("observedMetrics", {})
    ]
    assert per_batch and sum(m["rows"] for m in per_batch) == docs.count()

    streamed = spark.read.parquet(out)
    assert streamed.select("batch_id").distinct().count() == 2
    got = {r.doc_id: tuple(r.embedding) for r in streamed.collect()}
    want = {
        r.doc_id: tuple(r.embedding)
        for r in embed_documents(docs, dim=8).collect()
    }
    assert got == want and len(got) > 0

    # at-least-once replay: a fresh checkpoint re-delivers every batch;
    # dynamic partition overwrite + deterministic vectors -> same table
    q2 = start_ingest_embed_stream(
        _docs_stream(spark, str(tmp_path / "in")),
        out,
        str(tmp_path / "ckpt2"),
        dim=8,
    )
    q2.awaitTermination()
    replayed = {
        r.doc_id: tuple(r.embedding) for r in spark.read.parquet(out).collect()
    }
    assert replayed == got


def test_semantic_dedup_at_ingest_flags_planted_twins(spark, tmp_path):
    """start_ingest_semantic_dedup_stream == embed-at-ingest composed
    with the embedding cross-set miner: micro-batch docs whose TEXT
    duplicates a committed doc embed to the identical stub vector
    (cos 1.0) and must be flagged against it; novel texts must not.
    Streamed flags equal the batch composition on the same rows."""
    import random

    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.operators.semantic import (
        srp_cross_near_dup,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        start_ingest_semantic_dedup_stream,
    )

    ref_texts = [f"reference corpus document number {i} alpha beta" for i in range(10)]
    ref_docs = spark.createDataFrame(
        list(enumerate(ref_texts)), "doc_id long, text string"
    )
    ref_path = str(tmp_path / "ref_vecs")
    embed_documents(ref_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    ).write.parquet(ref_path)

    rnd = random.Random(7)
    planes_path = str(tmp_path / "planes")
    spark.createDataFrame(
        [(p, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for p in range(2)],
        "plane_id int, plane_emb array<double>",
    ).write.parquet(planes_path)

    # batch 0: two exact-text twins of ref docs 0 and 3 + one novel;
    # batch 1: one twin of ref doc 7 + two novel
    batches = [
        [(100, ref_texts[0]), (101, ref_texts[3]), (102, "novel text one zzz")],
        [(200, ref_texts[7]), (201, "novel text two qqq"), (202, "novel three")],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        import glob as g
        import shutil

        src = g.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        shutil.move(src, str(in_dir / f"batch_{i}.parquet"))

    q = start_ingest_semantic_dedup_stream(
        _docs_stream(spark, str(in_dir)),
        ref_path,
        planes_path,
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
        dim=8,
        threshold=0.99,
    )
    q.awaitTermination()

    flags = spark.read.parquet(str(tmp_path / "flags")).toPandas()
    twins = {(int(a), int(b)) for a, b in flags[["new_id", "ref_id"]].values}
    assert {(100, 0), (101, 3), (200, 7)} <= twins
    novel = {102, 201, 202}
    assert not (set(flags["new_id"]) & novel)

    # streamed flags == the batch composition over the same rows
    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    batch_flags = srp_cross_near_dup(
        embed_documents(all_docs, dim=8).withColumnRenamed("doc_id", "vec_id"),
        spark.read.parquet(ref_path),
        spark.read.parquet(planes_path),
        threshold=0.99,
    ).toPandas()
    assert twins == {
        (int(a), int(b)) for a, b in batch_flags[["new_id", "ref_id"]].values
    }


# ------------------------------------------------- bucketed committed side


def test_minhash_cross_bucketed_reference_parity_and_no_ref_exchange(
    spark, tmp_path
):
    """The committed banded reference as a bucketed catalog table
    (commit_minhash_reference): (a) identical flags to the path form;
    (b) the committed side contributes ZERO exchanges — the band join
    AND the max_bucket detection groupBy both ride the table's
    (band_id, band_hash) bucketing, so the only band-key exchange in
    the plan is the new batch's."""
    from mapreduce_implementation_spark.operators import dedup as dd
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_minhash_reference,
    )

    docs = load_table(spark, SF, "documents")
    ref_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    ref_sigs = dd.minhash_signatures(ref_docs, "doc_id", "text", shingle_n=3, k=16)
    new_sigs = dd.minhash_signatures(new_docs, "doc_id", "text", shingle_n=3, k=16)

    commit_minhash_reference(
        ref_sigs, "t_ref_bands", str(tmp_path / "bands"),
        bands=4, rows=4, k=16, n_buckets=8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed = dd.minhash_cross_near_dup(
                new_sigs,
                ref_banded=spark.table("t_ref_bands"),
                k=16, bands=4, rows=4, threshold=0.5, max_bucket=1000,
            )
            plan = bucketed._jdf.queryExecution().executedPlan().toString()
            got = {(r.new_id, r.ref_id) for r in bucketed.collect()}
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # exactly one band-key exchange: the NEW side. The committed
        # side (join + cap detection) reads its buckets in place.
        assert plan.count("Exchange hashpartitioning(band_id") == 1, plan

        want = {
            (r.new_id, r.ref_id)
            for r in dd.minhash_cross_near_dup(
                new_sigs, ref_sigs,
                k=16, bands=4, rows=4, threshold=0.5, max_bucket=1000,
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ref_bands")


def test_srp_cross_bucketed_reference_parity_and_no_ref_exchange(
    spark, tmp_path
):
    """Same contract for the embedding miner: commit_srp_reference's
    bucketed table joins with zero committed-side exchanges and flags
    identically to the recompute-per-batch path."""
    import random

    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.operators.semantic import (
        srp_cross_near_dup,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_srp_reference,
    )

    texts = [f"reference corpus document number {i} alpha beta" for i in range(40)]
    ref_docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ref_vecs = embed_documents(ref_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    new_docs = spark.createDataFrame(
        [(100, texts[0]), (101, texts[7]), (102, "novel text zzz")],
        "doc_id long, text string",
    )
    new_vecs = embed_documents(new_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    rnd = random.Random(7)
    planes = spark.createDataFrame(
        [(p, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for p in range(2)],
        "plane_id int, plane_emb array<double>",
    )

    commit_srp_reference(
        ref_vecs, planes, "t_ref_srp", str(tmp_path / "srp"), n_buckets=4
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed = srp_cross_near_dup(
                new_vecs, planes=planes,
                ref_bucketed=spark.table("t_ref_srp"),
                threshold=0.99, max_bucket=1000,
            )
            plan = bucketed._jdf.queryExecution().executedPlan().toString()
            got = {(r.new_id, r.ref_id) for r in bucketed.collect()}
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert plan.count("Exchange hashpartitioning(bucket") == 1, plan

        want = {
            (r.new_id, r.ref_id)
            for r in srp_cross_near_dup(
                new_vecs, ref_vecs, planes,
                threshold=0.99, max_bucket=1000,
            ).collect()
        }
        assert got == want
        assert {(100, 0), (101, 7)} <= got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ref_srp")


def test_ingest_dedup_stream_with_bucketed_reference_table(spark, tmp_path):
    """start_ingest_dedup_stream(ref_table=...) flags identically to
    the path form across micro-batches — the recurring-join wiring."""
    from mapreduce_implementation_spark.operators import dedup as dd
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_minhash_reference,
        start_ingest_dedup_stream,
    )

    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    docs = _stage_two_batches(spark, stream_dir)
    ref_docs = docs  # whole corpus as the committed reference
    ref_sigs = dd.minhash_signatures(ref_docs, "doc_id", "text", shingle_n=3, k=16)
    commit_minhash_reference(
        ref_sigs, "t_ingest_bands", str(tmp_path / "bands"),
        bands=4, rows=4, k=16, n_buckets=8,
    )
    try:
        out_dir = str(tmp_path / "flags")
        q = start_ingest_dedup_stream(
            _docs_stream(spark, stream_dir),
            out_dir=out_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            shingle_n=3, k=16, bands=4, rows=4, threshold=0.5,
            ref_table="t_ingest_bands",
        )
        q.awaitTermination()
        got = {
            (r.new_id, r.ref_id)
            for r in spark.read.parquet(out_dir).collect()
        }
        want = {
            (r.new_id, r.ref_id)
            for r in dd.minhash_cross_near_dup(
                dd.minhash_signatures(docs, "doc_id", "text", shingle_n=3, k=16),
                ref_sigs,
                k=16, bands=4, rows=4, threshold=0.5,
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ingest_bands")


def test_ingest_index_stream_probe_matches_batch_index(spark, tmp_path):
    """Index-at-ingest: streaming the corpus through
    start_ingest_index_stream (embed → assign → append per
    micro-batch) yields an IVF index whose probe results EXACTLY match
    appending the batch-embedded corpus against the same frozen
    centroids."""
    from mapreduce_implementation_spark.operators import similarity as sim
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        start_ingest_index_stream,
    )

    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    docs = _stage_two_batches(spark, stream_dir)
    all_vecs = embed_documents(docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    cents = sim.train_centroids(all_vecs, k=4, iters=2)
    cents_path = str(tmp_path / "cents")
    cents.write.parquet(cents_path)

    index_dir = str(tmp_path / "index")
    q = start_ingest_index_stream(
        _docs_stream(spark, stream_dir),
        cents_path,
        index_dir,
        str(tmp_path / "ckpt"),
        dim=8,
    )
    q.awaitTermination()

    queries = all_vecs.limit(3)
    got = sorted(
        map(
            tuple,
            sim.ivf_topk_from_index(
                spark, index_dir, queries, cents, k=5, nprobe=2
            ).collect(),
        )
    )
    ref_dir = str(tmp_path / "ref_index")
    sim.append_to_ivf_index(all_vecs, cents, ref_dir, batch_id=0)
    want = sorted(
        map(
            tuple,
            sim.ivf_topk_from_index(
                spark, ref_dir, queries, cents, k=5, nprobe=2
            ).collect(),
        )
    )
    assert got == want and got
    # two batches landed
    assert (
        spark.read.parquet(index_dir)
        .select("batch_id")
        .distinct()
        .count()
        == 2
    )

    # SQ8-at-ingest (round 13): the quantized stream lands codes, and
    # its probe matches the quantized batch append bit-for-bit
    q_dir = str(tmp_path / "index_q")
    qq = start_ingest_index_stream(
        _docs_stream(spark, stream_dir),
        cents_path,
        q_dir,
        str(tmp_path / "ckpt_q"),
        dim=8,
        quantize="int8",
    )
    qq.awaitTermination()
    assert sim.SQ8_CODE_COL in spark.read.parquet(q_dir).columns
    got_q = sorted(
        map(
            tuple,
            sim.ivf_topk_from_index(
                spark, q_dir, queries, cents, k=5, nprobe=2
            ).collect(),
        )
    )
    ref_q = str(tmp_path / "ref_index_q")
    sim.append_to_ivf_index(
        all_vecs, cents, ref_q, batch_id=0, quantize="int8"
    )
    want_q = sorted(
        map(
            tuple,
            sim.ivf_topk_from_index(
                spark, ref_q, queries, cents, k=5, nprobe=2
            ).collect(),
        )
    )
    assert got_q == want_q and got_q


def test_pack_stream_auto_compaction(spark, tmp_path):
    """compact_every folds each batch partition to one file between
    micro-batches with rows unchanged (serialized micro-batches make
    the maintenance job race-free by construction)."""
    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    _stage_two_batches(spark, stream_dir)

    def run(out_name, **kw):
        out = str(tmp_path / out_name)
        q = start_pack_stream(
            streaming_chunks(
                _docs_stream(spark, stream_dir),
                chunk_tokens=CHUNK_TOKENS,
                overlap=OVERLAP,
            ),
            out,
            str(tmp_path / f"ckpt_{out_name}"),
            BUDGET,
            **kw,
        )
        q.awaitTermination()
        return out

    plain = run("plain")
    compacted = run("compacted", compact_every=1)
    want = {
        (r.chunk_key, r.batch_id)
        for r in spark.read.parquet(plain).collect()
    }
    got_df = spark.read.parquet(compacted)
    assert {
        (r.chunk_key, r.batch_id) for r in got_df.collect()
    } == want and want
    # one file per batch partition after compaction
    from collections import Counter

    per_batch = Counter(
        seg
        for f in got_df.inputFiles()
        for seg in f.split("/")
        if seg.startswith("batch_id=")
    )
    assert all(n == 1 for n in per_batch.values()), per_batch


def test_ingest_semantic_stream_with_bucketed_reference_table(
    spark, tmp_path
):
    """start_ingest_semantic_dedup_stream(ref_table=...) flags
    identically to the path form — the SRP face of the recurring-join
    wiring."""
    import random

    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_srp_reference,
        start_ingest_semantic_dedup_stream,
    )

    ref_texts = [
        f"reference corpus document number {i} alpha beta" for i in range(10)
    ]
    ref_docs = spark.createDataFrame(
        list(enumerate(ref_texts)), "doc_id long, text string"
    )
    ref_vecs = embed_documents(ref_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    rnd = random.Random(7)
    planes = spark.createDataFrame(
        [(p, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for p in range(2)],
        "plane_id int, plane_emb array<double>",
    )
    planes_path = str(tmp_path / "planes")
    planes.write.parquet(planes_path)
    commit_srp_reference(
        ref_vecs, planes, "t_sem_ref", str(tmp_path / "srp"), n_buckets=4
    )
    try:
        batches = [
            [(100, ref_texts[0]), (102, "novel text one zzz")],
            [(200, ref_texts[7]), (201, "novel text two qqq")],
        ]
        in_dir = tmp_path / "in"
        in_dir.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"stage{i}")
            )
            import glob as g
            import shutil

            src = g.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
            shutil.move(src, str(in_dir / f"batch_{i}.parquet"))

        q = start_ingest_semantic_dedup_stream(
            _docs_stream(spark, str(in_dir)),
            planes_path=planes_path,
            out_dir=str(tmp_path / "flags"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            dim=8,
            threshold=0.99,
            ref_table="t_sem_ref",
        )
        q.awaitTermination()
        flags = spark.read.parquet(str(tmp_path / "flags")).toPandas()
        twins = {
            (int(a), int(b)) for a, b in flags[["new_id", "ref_id"]].values
        }
        assert {(100, 0), (200, 7)} <= twins
        assert not any(a in (102, 201) for a, _ in twins)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sem_ref")


def test_ingest_reference_contract_mismatch_fails_fast(spark, tmp_path):
    """A probe whose bands/rows/k (or SRP planes) differ from the
    committed table's build parameters would silently flag nothing —
    the starters must refuse at start(), not per batch."""
    import random

    import pytest as _pytest

    from mapreduce_implementation_spark.operators import dedup as dd
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_minhash_reference,
        commit_srp_reference,
        start_ingest_dedup_stream,
        start_ingest_semantic_dedup_stream,
    )

    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    docs = _stage_two_batches(spark, stream_dir)
    sigs = dd.minhash_signatures(docs, "doc_id", "text", shingle_n=3, k=16)
    commit_minhash_reference(
        sigs, "t_contract_bands", str(tmp_path / "bands"),
        bands=4, rows=4, k=16, n_buckets=4,
    )
    try:
        with _pytest.raises(ValueError, match="committed with"):
            start_ingest_dedup_stream(
                _docs_stream(spark, stream_dir),
                out_dir=str(tmp_path / "f1"),
                checkpoint_dir=str(tmp_path / "c1"),
                k=16, bands=8, rows=2,
                ref_table="t_contract_bands",
            )
        # r15: the signature FAMILY is part of the contract too — a
        # tokhash probe against an md5-string table band-matches
        # nothing, so it must refuse up front like the shape knobs
        with _pytest.raises(ValueError, match="shingle_impl"):
            start_ingest_dedup_stream(
                _docs_stream(spark, stream_dir),
                out_dir=str(tmp_path / "f1b"),
                checkpoint_dir=str(tmp_path / "c1b"),
                k=16, bands=4, rows=4,
                shingle_impl="tokhash",
                ref_table="t_contract_bands",
            )
        # a legacy table committed under the retired xxhash64 string
        # family: every probe hashes with md5, so it must refuse too
        spark.sql(
            "ALTER TABLE t_contract_bands SET TBLPROPERTIES "
            "('mris.sig_hash'='xxhash64')"
        )
        with _pytest.raises(ValueError, match="mris.sig_hash=xxhash64"):
            start_ingest_dedup_stream(
                _docs_stream(spark, stream_dir),
                out_dir=str(tmp_path / "f1c"),
                checkpoint_dir=str(tmp_path / "c1c"),
                k=16, bands=4, rows=4,
                ref_table="t_contract_bands",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_contract_bands")

    rnd = random.Random(3)

    def mk_planes(seed):
        r = random.Random(seed)
        return spark.createDataFrame(
            [(p, [r.uniform(-1, 1) for _ in range(8)]) for p in range(2)],
            "plane_id int, plane_emb array<double>",
        )

    vecs = embed_documents(docs.limit(20), dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    commit_srp_reference(
        vecs, mk_planes(1), "t_contract_srp", str(tmp_path / "srp"),
        n_buckets=2,
    )
    other_planes_path = str(tmp_path / "planes2")
    mk_planes(2).write.parquet(other_planes_path)
    try:
        with _pytest.raises(ValueError, match="different SRP planes"):
            start_ingest_semantic_dedup_stream(
                _docs_stream(spark, stream_dir),
                planes_path=other_planes_path,
                out_dir=str(tmp_path / "f2"),
                checkpoint_dir=str(tmp_path / "c2"),
                dim=8,
                ref_table="t_contract_srp",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_contract_srp")

    # missing required args fail eagerly too
    with _pytest.raises(ValueError, match="required"):
        start_ingest_dedup_stream(
            _docs_stream(spark, stream_dir), ref_table="x"
        )


def test_srp_sq8_reference_parity_plan_and_layout_guard(spark, tmp_path):
    """round-14 verdict item 4: the SQ8 trade extended to the
    committed SRP reference table. (a) blocking is computed from the
    floats, so the SQ8 table's buckets are byte-identical to the float
    layout; (b) the probe sniffs the code column and flags the SAME
    pairs as the float table on planted near-twins (quantization
    noise << the threshold margin); (c) the committed side still
    contributes zero exchanges; (d) re-committing an existing table
    under the other layout refuses loudly."""
    import random

    import pytest as _pytest

    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.operators.semantic import (
        srp_cross_near_dup,
    )
    from mapreduce_implementation_spark.operators.similarity import (
        SQ8_CODE_COL,
        SQ8_SCALE_COL,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        commit_srp_reference,
    )

    texts = [
        f"reference corpus document number {i} alpha beta" for i in range(40)
    ]
    ref_docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ref_vecs = embed_documents(ref_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    new_docs = spark.createDataFrame(
        [(100, texts[0]), (101, texts[7]), (102, "novel text zzz")],
        "doc_id long, text string",
    )
    new_vecs = embed_documents(new_docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    rnd = random.Random(7)
    planes = spark.createDataFrame(
        [(p, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for p in range(2)],
        "plane_id int, plane_emb array<double>",
    )

    commit_srp_reference(
        ref_vecs, planes, "t_ref_srp_f", str(tmp_path / "srp_f"),
        n_buckets=4,
    )
    commit_srp_reference(
        ref_vecs, planes, "t_ref_srp_q", str(tmp_path / "srp_q"),
        n_buckets=4, quantize="int8",
    )
    try:
        qt = spark.table("t_ref_srp_q")
        assert SQ8_CODE_COL in qt.columns and SQ8_SCALE_COL in qt.columns
        assert "embedding" not in qt.columns
        # (a) blocking parity: identical (vec_id -> bucket) maps
        fb = {
            r.vec_id: r.bucket
            for r in spark.table("t_ref_srp_f").select(
                "vec_id", "bucket"
            ).collect()
        }
        qb = {
            r.vec_id: r.bucket
            for r in qt.select("vec_id", "bucket").collect()
        }
        assert fb == qb

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = srp_cross_near_dup(
                new_vecs, planes=planes,
                ref_bucketed=spark.table("t_ref_srp_q"),
                threshold=0.99, max_bucket=1000,
            )
            plan = probe._jdf.queryExecution().executedPlan().toString()
            got = {(r.new_id, r.ref_id) for r in probe.collect()}
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # (c) zero committed-side exchanges (the one bucket exchange
        # is the NEW side)
        assert plan.count("Exchange hashpartitioning(bucket") == 1, plan
        # (b) flag parity vs the float table
        want = {
            (r.new_id, r.ref_id)
            for r in srp_cross_near_dup(
                new_vecs, planes=planes,
                ref_bucketed=spark.table("t_ref_srp_f"),
                threshold=0.99, max_bucket=1000,
            ).collect()
        }
        assert got == want
        assert {(100, 0), (101, 7)} <= got

        # layout stamped + (d) the flip refused
        props = {
            r.key: r.value
            for r in spark.sql(
                "SHOW TBLPROPERTIES t_ref_srp_q"
            ).collect()
        }
        assert props.get("mris.srp_layout") == "sq8"
        with _pytest.raises(ValueError, match="layout"):
            commit_srp_reference(
                ref_vecs, planes, "t_ref_srp_q", str(tmp_path / "srp_q"),
                n_buckets=4,  # float commit onto the sq8 table
            )
        with _pytest.raises(ValueError, match="layout"):
            commit_srp_reference(
                ref_vecs, planes, "t_ref_srp_f", str(tmp_path / "srp_f"),
                n_buckets=4, quantize="int8",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ref_srp_f")
        spark.sql("DROP TABLE IF EXISTS t_ref_srp_q")


def test_ingest_index_stream_calibration_contract(spark, tmp_path):
    """round-16 verdict item 4: the ANN ingest starters validate the
    calibrate_ann contract at start() — NOT at batch 0 inside
    foreachBatch — refuse nlist/dim/layout mismatches, adopt
    quantize='auto' from the report, and stamp the knobs into the
    index directory for readback (the commit_minhash_reference
    pattern from r10, applied to the ANN path)."""
    import os

    import pytest

    from mapreduce_implementation_spark.operators import similarity as sim
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.streaming.pipeline import (
        start_ingest_index_stream,
        start_ingest_semantic_dedup_stream,
    )

    stream_dir = str(tmp_path / "cal_in")
    os.makedirs(stream_dir)
    docs = _stage_two_batches(spark, stream_dir)
    all_vecs = embed_documents(docs, dim=8).withColumnRenamed(
        "doc_id", "vec_id"
    )
    cents = sim.train_centroids(all_vecs, k=4, iters=2)
    cents_path = str(tmp_path / "cal_cents")
    cents.write.parquet(cents_path)
    index_dir = str(tmp_path / "cal_index")
    ckpt = str(tmp_path / "cal_ckpt")

    good_cal = {
        "ann": {
            "nlist": 4, "nprobe": 2, "dim": 8, "quantize": "int8",
            "recall": 0.95, "target_recall": 0.9,
        }
    }

    # nlist mismatch refuses BEFORE the checkpoint exists
    with pytest.raises(ValueError, match="nlist=5"):
        start_ingest_index_stream(
            _docs_stream(spark, stream_dir), cents_path, index_dir, ckpt,
            dim=8, calibration={"ann": {**good_cal["ann"], "nlist": 5}},
        )
    # dim mismatch likewise
    with pytest.raises(ValueError, match="dim=8"):
        start_ingest_index_stream(
            _docs_stream(spark, stream_dir), cents_path, index_dir, ckpt,
            dim=16, calibration=good_cal,
        )
    assert not os.path.exists(ckpt), "refusals must precede the checkpoint"
    # quantize='auto' needs a report to read from
    with pytest.raises(ValueError, match="auto"):
        start_ingest_index_stream(
            _docs_stream(spark, stream_dir), cents_path, index_dir, ckpt,
            dim=8, quantize="auto",
        )

    # the calibrated stream runs: auto resolves to SQ8, knobs stamped
    q = start_ingest_index_stream(
        _docs_stream(spark, stream_dir), cents_path, index_dir, ckpt,
        dim=8, quantize="auto", calibration=good_cal,
    )
    q.awaitTermination()
    assert sim.SQ8_CODE_COL in spark.read.parquet(index_dir).columns
    stamp = sim.read_index_calibration(index_dir)
    assert stamp == good_cal["ann"]
    # the stamp is invisible to partition discovery (probe still runs)
    queries = all_vecs.limit(2)
    assert (
        sim.ivf_topk_from_index(
            spark, index_dir, queries, cents, k=3, nprobe=None,
            calibration=stamp,
        ).count()
        > 0
    )

    # a later stream contradicting the committed layout refuses at
    # start() (float append onto the SQ8 index)
    with pytest.raises(ValueError, match="int8-encoded"):
        start_ingest_index_stream(
            _docs_stream(spark, stream_dir), cents_path, index_dir,
            str(tmp_path / "cal_ckpt2"), dim=8,
            calibration={"ann": {**good_cal["ann"], "quantize": None}},
        )

    # semantic starter: the dim contract check rides the same report
    with pytest.raises(ValueError, match="dim=8"):
        start_ingest_semantic_dedup_stream(
            _docs_stream(spark, stream_dir),
            ref_vectors_path=str(tmp_path / "nowhere"),
            planes_path=str(tmp_path / "nowhere2"),
            out_dir=str(tmp_path / "sem_out"),
            checkpoint_dir=str(tmp_path / "sem_ckpt"),
            dim=16,
            calibration=good_cal,
        )
