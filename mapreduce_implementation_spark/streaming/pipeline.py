"""Streaming LLM-pipeline prep: chunk an unbounded document stream and
pack each micro-batch into dense training sequences.

Chunking is the SAME operator as batch (operators/chunking.
chunk_documents — pure Column expressions, so it applies to a streaming
DataFrame unchanged: tokenize → sequence → slice → explode are all
stateless generators). Packing, by contrast, is a batch barrier by
nature (an assignment over a finite row set), so its streaming shape is
per-micro-batch packing via ``foreachBatch``:

* each micro-batch is packed independently with the batch operator
  (operators/packing.pack_greedy) — bounded state (one batch), no
  cross-batch coordination;
* global pack identity is the (batch_id, pack_id) pair; output is
  parquet partitioned by ``batch_id`` with DYNAMIC partition overwrite,
  so a replayed batch (failure/restart re-delivery) overwrites its own
  partition idempotently instead of duplicating rows — exactly-once at
  the sink without a transactional store;
* cross-batch waste is bounded exactly like cross-bucket waste: at
  most one partially-filled pack per (batch, bucket), i.e.
  ``batches × n_buckets × budget`` tokens — the price of streaming
  incrementality, amortized to noise by sizing micro-batches large
  (maxFilesPerTrigger) the same way batch packing sizes buckets.

The reference is strictly batch (SURVEY.md §2c); this is the streaming
face of the LLM-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.functions.textstats import quality_gate
from mapreduce_implementation_spark.operators.dedup import DEFAULT_MAX_BUCKET
from mapreduce_implementation_spark.operators.chunking import (
    chunk_documents,
    keyed_chunks,
)
from mapreduce_implementation_spark.operators.packing import pack_greedy
from mapreduce_implementation_spark.operators.pipeline import (
    require_integral_id,
)


def streaming_chunks(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 0,
    key_stride: int = 1 << 32,
) -> DataFrame:
    """Token-budget chunks of an unbounded document stream, keyed for
    packing. Identical semantics to the batch operator (it IS the batch
    operator — stateless Column expressions stream as-is); adds the
    collision-free ``chunk_key = doc_id * key_stride + chunk_idx``."""
    require_integral_id(docs_stream, id_col)
    return keyed_chunks(
        chunk_documents(
            docs_stream,
            id_col=id_col,
            text_col=text_col,
            chunk_tokens=chunk_tokens,
            overlap=overlap,
        ),
        id_col=id_col,
        key_stride=key_stride,
    )


def start_pack_stream(
    chunks_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    budget: int,
    key_col: str = "chunk_key",
    tokens_col: str = "n_tokens",
    n_buckets: int = 8,
    salt: str = "",
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Start the per-micro-batch packing sink; returns the
    StreamingQuery (caller awaits/stops it).

    ``compact_every=N`` runs the small-file compactor over the sink
    after every Nth batch (see _maybe_compact) — long-running streams
    otherwise accumulate one file per task per batch.

    Each batch: pack with the batch operator, stamp ``batch_id``, write
    parquet partitioned by batch_id with dynamic overwrite (idempotent
    under foreachBatch's at-least-once replay). ``trigger`` is passed
    to ``writeStream.trigger(**trigger)``; the default
    ``{"availableNow": True}`` drains bounded fixtures and stops — pass
    e.g. ``{"processingTime": "1 minute"}`` for continuous ingestion."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        packed = pack_greedy(
            batch_df.select(key_col, tokens_col),
            key_col,
            tokens_col,
            budget,
            n_buckets=n_buckets,
            salt=salt,
        )
        (
            packed.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        _maybe_compact(
            batch_df.sparkSession, out_dir, batch_id, compact_every,
            ["batch_id"],
        )

    return (
        chunks_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


# Quality-gate an unbounded document stream: literally the batch gate
# (functions/textstats.quality_gate — NULL drop, quality_score floor,
# Gopher-style repetition cap), which is stateless scan-stage Column
# work (no watermark, no state store, no shuffle) and therefore applies
# to a streaming DataFrame unchanged. An ALIAS, not a wrapper, so a new
# gate knob can never silently fail to forward. Place BEFORE
# streaming_chunks so rejected documents never fan out into chunks.
streaming_quality_gate = quality_gate


def _table_properties(spark, name: str) -> dict:
    """``SHOW TBLPROPERTIES`` as a dict (empty for tables without
    any — e.g. externally-committed references, which skip the
    contract check rather than fail it)."""
    return {
        r[0]: r[1]
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }


def _maybe_compact(
    spark,
    path: str,
    batch_id: int,
    compact_every: int | None,
    partition_cols: list[str],
) -> None:
    """Periodic small-file maintenance for the foreachBatch sinks:
    every ``compact_every`` batches, fold each oversplit partition
    back to one file (sinks.compact_partitioned_dataset — prune-read,
    dynamic overwrite). Safe here by construction: micro-batches
    execute serially, so no writer races the maintenance job, and a
    replayed batch overwrites its whole partition either way."""
    if not compact_every or (int(batch_id) + 1) % compact_every:
        return
    from mapreduce_implementation_spark.sources.sinks import (
        compact_partitioned_dataset,
    )

    compact_partitioned_dataset(spark, path, partition_cols)


def commit_minhash_reference(
    sigs: DataFrame,
    name: str,
    path: str,
    *,
    bands: int = 4,
    rows: int = 4,
    k: int = 16,
    n_buckets: int = 32,
    shingle_impl: str = "string",
) -> None:
    """Commit the corpus signature set as the BUCKETED banded reference
    table the ingest dedup stream probes shuffle-free — the designed
    payoff of sources/bucketed: the committed side's band join, cap
    detection, and verify all read the table's buckets in place, every
    micro-batch, forever (see operators/dedup.minhash_banded_frame).
    Rebuild + restart the stream at the corpus-absorption cadence."""
    from mapreduce_implementation_spark.operators.dedup import (
        minhash_banded_frame,
    )
    from mapreduce_implementation_spark.sources.bucketed import (
        write_bucketed_table,
    )

    write_bucketed_table(
        minhash_banded_frame(sigs, bands, rows, k),
        name,
        path,
        bucket_cols=("band_id", "band_hash"),
        n_buckets=n_buckets,
    )
    # stamp the build parameters on the table: a probe with different
    # bands/rows/k computes band hashes over different signature
    # slices and silently matches NOTHING — the ingest starter reads
    # these properties and refuses a mismatched probe up front
    # shingle_impl is the caller's DECLARATION of the signature family
    # the sigs frame was built under (r15: families are mutually
    # incompatible — a probe built under another family band-matches
    # nothing); the ingest starter refuses a mismatch.
    sigs.sparkSession.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES "
        f"('mris.bands'='{bands}', 'mris.rows'='{rows}', 'mris.k'='{k}', "
        f"'mris.shingle_impl'='{shingle_impl}')"
    )


def commit_srp_reference(
    vectors: DataFrame,
    planes: DataFrame,
    name: str,
    path: str,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_buckets: int = 32,
    quantize: str | None = None,
) -> None:
    """Commit the corpus vector set as the BUCKETED SRP reference table
    (bucket bits + norms precomputed; see
    operators/semantic.srp_bucketed_frame) for shuffle-free semantic
    ingest probes. Store ``planes`` alongside — they are the index
    contract.

    ``quantize="int8"`` (round-14 verdict item 4 — the SQ8 trade
    extended from the IVF index to the committed table every
    micro-batch probe scans): bucket bits and the blocking are
    computed from the FLOAT vectors (byte-identical blocking to the
    float layout — quantization noise never flips a committed bucket
    bit), then SQ8 codes + per-vector scale are stored INSTEAD of the
    floats (similarity.quantize_sq8) and ``_vn`` becomes the CODE
    norm, so the probe's cosine — scale-invariant — scores the codes
    directly with no dequantization column. ~4× fewer list bytes per
    probe batch at a recall cost bounded by the quantization noise
    (straddling-pairs parity pinned in tests/test_streaming_pipeline).

    The LAYOUT is part of the table contract (same rule as the SQ8
    IVF index): the committed layout is stamped in
    ``mris.srp_layout``, and re-committing an existing table under a
    DIFFERENT layout refuses loudly — a silent flip would strand any
    direct parquet reader of ``path`` expecting the other schema.
    Drop the table (or use a fresh name) to change layouts."""
    if quantize not in (None, "int8"):
        raise ValueError(f"quantize must be None or 'int8', got {quantize!r}")
    from mapreduce_implementation_spark.operators.semantic import (
        planes_fingerprint,
        srp_bucketed_frame,
    )
    from mapreduce_implementation_spark.sources.bucketed import (
        write_bucketed_table,
    )

    spark = vectors.sparkSession
    layout = "sq8" if quantize == "int8" else "float"
    if spark.catalog.tableExists(name):
        have = _table_properties(spark, name).get("mris.srp_layout")
        if have is not None and have != layout:
            raise ValueError(
                f"reference table {name} is committed with layout "
                f"{have!r} but this commit is {layout!r}; the layout "
                "is part of the table contract — drop the table or "
                "commit under a fresh name to change it"
            )
    frame = srp_bucketed_frame(vectors, planes, id_col, emb_col)
    if quantize == "int8":
        from mapreduce_implementation_spark.functions.vectors import norm
        from mapreduce_implementation_spark.operators.similarity import (
            SQ8_CODE_COL,
            quantize_sq8,
        )

        frame = (
            quantize_sq8(frame, emb_col)
            .drop(emb_col)
            .withColumn("_vn", norm(F.col(SQ8_CODE_COL)))
        )
    write_bucketed_table(
        frame,
        name,
        path,
        bucket_cols=("bucket",),
        n_buckets=n_buckets,
    )
    # stamp the plane fingerprint: probing with different planes
    # buckets into a disjoint code space and silently matches nothing
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES "
        f"('mris.planes_md5'='{planes_fingerprint(planes)}', "
        f"'mris.srp_layout'='{layout}')"
    )


def start_ingest_dedup_stream(
    docs_stream: DataFrame,
    ref_sigs_path: str | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    trigger: dict | None = None,
    observe_name: str | None = "ingest_quality",
    ref_table: str | None = None,
    shingle_impl: str = "string",
):
    """Dedup-at-ingest: flag each incoming document that near-duplicates
    the EXISTING corpus; returns the StreamingQuery. ``trigger``
    defaults to ``{"availableNow": True}`` (bounded drain) — pass e.g.
    ``{"processingTime": "1 minute"}`` for continuous ingestion.

    Per micro-batch (foreachBatch — the same per-batch batch-operator
    pattern as start_pack_stream): compute the batch's MinHash
    signatures with the batch operator, cross-join their LSH bands
    against the committed reference signature table at ``ref_sigs_path``
    (sources/materialize layout — built once per corpus, probed by every
    batch), and write DataFrame[new_id, ref_id, est_jaccard, batch_id]
    partitioned by batch_id with dynamic overwrite — idempotent under
    at-least-once replay. Docs absent from the output are novel vs the
    reference. The reference is FIXED for the stream's lifetime
    (no read-write races); rebuild it and restart the stream to absorb
    ingested docs into the reference — the standard bulk-ingest cadence.

    ``observe_name`` (all three ingest starters): attach the
    operators/observability corpus-health metrics to the incoming
    stream — they ride each micro-batch (zero extra scans) and land in
    ``progress.observedMetrics[observe_name]``, the feed a production
    ingest monitor alarms on. ``None`` disables.

    ``ref_table`` (instead of ``ref_sigs_path``): the name of a
    BUCKETED banded reference table committed by
    :func:`commit_minhash_reference` — the recurring-join
    configuration: the committed side stops re-shuffling on every
    micro-batch (zero exchanges; plan-gated in
    tests/test_streaming_pipeline.py). The path form re-bands and
    re-shuffles the reference per batch and remains for ad-hoc runs.
    """
    from mapreduce_implementation_spark.operators.dedup import (
        minhash_cross_near_dup,
        minhash_signatures,
    )

    if (ref_sigs_path is None) == (ref_table is None):
        raise ValueError("pass exactly one of ref_sigs_path / ref_table")
    if out_dir is None or checkpoint_dir is None:
        raise ValueError("out_dir and checkpoint_dir are required")
    if ref_table is not None:
        # index-contract check (fail NOW, not silently per batch): a
        # probe whose bands/rows/k differ from the table's build
        # parameters computes band hashes over different signature
        # slices and matches nothing
        props = _table_properties(docs_stream.sparkSession, ref_table)
        want = {
            "mris.bands": bands, "mris.rows": rows, "mris.k": k,
            # r15: the signature FAMILY is part of the index contract
            # too — a probe under another family matches nothing. Every
            # probe hashes shingle strings with md5, so a legacy table
            # stamped with another sig_hash is refused.
            "mris.sig_hash": "md5", "mris.shingle_impl": shingle_impl,
        }
        for key, val in want.items():
            if key in props and props[key] != str(val):
                raise ValueError(
                    f"reference table {ref_table} was committed with "
                    f"{key}={props[key]}, probe uses {val} — the band "
                    "join would silently match nothing; rebuild the "
                    "reference or match its parameters"
                )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_sigs = minhash_signatures(
            batch_df, id_col, text_col, shingle_n=shingle_n, k=k,
            shingle_impl=shingle_impl,
        )
        if ref_table is not None:
            ref_kwargs = {"ref_banded": spark.table(ref_table)}
        else:
            ref_kwargs = {"ref_sigs": spark.read.parquet(ref_sigs_path)}
        flags = minhash_cross_near_dup(
            new_sigs,
            k=k,
            bands=bands,
            rows=rows,
            threshold=threshold,
            max_bucket=max_bucket,
            **ref_kwargs,
        )
        (
            flags.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return (
        _maybe_observe(docs_stream, observe_name, text_col)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _maybe_observe(
    stream: DataFrame, observe_name: str | None, text_col: str
) -> DataFrame:
    """Attach per-micro-batch corpus-health metrics (CollectMetrics
    rides the existing batch plan — no extra pass, no shuffle)."""
    if not observe_name:
        return stream
    from mapreduce_implementation_spark.operators.observability import (
        observe_stream,
    )

    return observe_stream(stream, name=observe_name, text_col=text_col)


def start_ingest_semantic_dedup_stream(
    docs_stream: DataFrame,
    ref_vectors_path: str | None = None,
    planes_path: str | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    model_loader=None,
    threshold: float = 0.9,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    trigger: dict | None = None,
    observe_name: str | None = "ingest_quality",
    ref_table: str | None = None,
    calibration: dict | None = None,
):
    """Semantic dedup-at-ingest: embed each arriving micro-batch and
    flag documents that are semantic near-twins of the COMMITTED
    vector corpus; returns the StreamingQuery. The composition of the
    two ingest stages above — embed-at-ingest feeding the embedding
    cross-set miner (operators/semantic.srp_cross_near_dup) — catching
    paraphrase-level duplicates the MinHash ingest screen misses.

    ``ref_vectors_path`` is the committed vector table (e.g. the
    output of start_ingest_embed_stream or batch embed_documents);
    ``planes_path`` holds the SRP hyperplanes (DataFrame[plane_id,
    plane_emb]) — both FIXED for the stream's lifetime, stored with
    the corpus snapshot: the planes are the index contract, like IVF
    centroids. Output DataFrame[new_id, ref_id, cos_sim, batch_id]
    partitioned by batch_id with dynamic overwrite — idempotent under
    at-least-once replay because the encoder and the screen are both
    deterministic. Docs absent from the output are semantically novel
    vs the reference.

    ``ref_table`` (instead of ``ref_vectors_path``): the name of a
    BUCKETED SRP reference table committed by
    :func:`commit_srp_reference` — the committed side's bucket bits
    and norms are read in place with zero exchanges per micro-batch
    (plan-gated in tests/test_streaming_pipeline.py). The path form
    re-buckets the reference per batch and remains for ad-hoc runs.

    ``calibration`` (round-16 verdict item 4): the ``calibrate_ann``
    report for the committed vector corpus — validated at ``start()``
    (not batch 0): the calibrated ``dim`` must equal this stream's
    encoder ``dim``, because a dim mismatch between the new vectors
    and the committed side scores garbage cosines SILENTLY (the SRP
    bucket join still matches on plane signs). The SRP planes keep
    their own md5 contract check above."""
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.operators.semantic import (
        srp_cross_near_dup,
    )

    if (ref_vectors_path is None) == (ref_table is None):
        raise ValueError("pass exactly one of ref_vectors_path / ref_table")
    if calibration is not None:
        from mapreduce_implementation_spark.operators.similarity import (
            _ann_calibration_section,
        )

        cal = _ann_calibration_section(calibration)
        if "dim" in cal and cal["dim"] != dim:
            raise ValueError(
                f"calibration was measured on dim={cal['dim']} vectors "
                f"but this stream embeds at dim={dim} — mismatched "
                "dims score garbage cosines silently; match the "
                "encoder or recalibrate"
            )
    if planes_path is None or out_dir is None or checkpoint_dir is None:
        raise ValueError(
            "planes_path, out_dir and checkpoint_dir are required"
        )
    if ref_table is not None:
        # index-contract check: different planes bucket into a
        # disjoint code space — compare fingerprints up front
        from mapreduce_implementation_spark.operators.semantic import (
            planes_fingerprint,
        )

        _spark = docs_stream.sparkSession
        props = _table_properties(_spark, ref_table)
        if "mris.planes_md5" in props:
            got = planes_fingerprint(_spark.read.parquet(planes_path))
            if props["mris.planes_md5"] != got:
                raise ValueError(
                    f"reference table {ref_table} was committed with "
                    "different SRP planes than planes_path — the "
                    "bucket join would silently match nothing; use "
                    "the planes stored with the corpus snapshot"
                )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        planes = spark.read.parquet(planes_path)
        new_vecs = embed_documents(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            dim=dim,
            model_loader=model_loader,
        ).withColumnRenamed(id_col, "vec_id")
        if ref_table is not None:
            ref_kwargs = {"ref_bucketed": spark.table(ref_table)}
        else:
            ref_vecs = spark.read.parquet(ref_vectors_path)
            ref_kwargs = {
                "ref_vectors": ref_vecs.select(
                    F.col(id_col).alias("vec_id"), "embedding"
                )
                if id_col in ref_vecs.columns
                else ref_vecs
            }
        flags = srp_cross_near_dup(
            new_vecs,
            planes=planes,
            threshold=threshold,
            max_bucket=max_bucket,
            **ref_kwargs,
        )
        (
            flags.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return (
        _maybe_observe(docs_stream, observe_name, text_col)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def start_ingest_index_stream(
    docs_stream: DataFrame,
    centroids_path: str,
    index_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    model_loader=None,
    trigger: dict | None = None,
    observe_name: str | None = "ingest_quality",
    compact_every: int | None = None,
    quantize: str | None = None,
    calibration: dict | None = None,
):
    """Index-at-ingest: embed each arriving micro-batch and APPEND it
    to the materialized IVF index (similarity.append_to_ivf_index) —
    the corpus becomes similarity-probeable the moment a batch lands,
    completing the ingest family: dedup-at-ingest flags twins,
    embed-at-ingest commits vectors, index-at-ingest keeps the ANN
    index current without ever re-assigning the committed corpus.

    ``centroids_path`` holds the frozen centroid snapshot
    (DataFrame[centroid_id, centroid_emb]) — the index contract, fixed
    for the stream's lifetime; retraining centroids means rebuilding
    the index and restarting the stream (the same bulk-absorption
    cadence as the reference signature tables). Per micro-batch:
    deterministic embed (mapInPandas, model-per-partition) → map-only
    assignment against the centroid literals → dynamic-overwrite write
    of the batch's ``(centroid_id, batch_id)`` leaves — idempotent
    under at-least-once replay. Probe anytime with
    ``ivf_topk_from_index(spark, index_dir, ...)``. ``quantize="int8"``
    lands SQ8 codes instead of floats (the layout is fixed for the
    stream's lifetime, like the centroid snapshot — see
    append_to_ivf_index); ``quantize="auto"`` takes the layout from
    the ``calibration`` report.

    ``calibration`` (round-16 verdict item 4 — the same start()-time
    contract check ``commit_minhash_reference`` stamps gave the
    minhash ingest path in r10, closing the silent-mismatch class for
    ANN ingest): the ``calibrate_ann`` report for THIS corpus. At
    ``start()`` — NOT at batch 0 inside foreachBatch, where a
    mismatch would only surface as a StreamingQueryException after
    the checkpoint exists — the committed centroid snapshot must
    count exactly the calibrated ``nlist`` (a different count means
    the recall-vs-nprobe curve was measured at a different
    points-per-list and its nprobe does not transfer), the encoder
    ``dim`` must match the calibrated corpus dim (mismatched dims
    score garbage cosines silently), and any EXISTING index layout
    must match the resolved quantize. The calibrated knobs are then
    STAMPED into the index directory
    (``similarity.stamp_index_calibration``) so probes read the
    contract back (``read_index_calibration``) instead of trusting
    the caller to re-supply it."""
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )
    from mapreduce_implementation_spark.operators.similarity import (
        _ann_calibration_section,
        append_to_ivf_index,
        existing_index_layout,
        stamp_index_calibration,
    )

    # fail fast at the call site (review r13b): inside foreachBatch
    # the ValueError would only surface as a StreamingQueryException
    # at batch 0, after the checkpoint is created
    if quantize not in (None, "int8", "auto"):
        raise ValueError(
            f"quantize must be None, 'int8' or 'auto', got {quantize!r}"
        )
    if quantize == "auto" and calibration is None:
        raise ValueError(
            "quantize='auto' reads the layout from a calibrate_ann "
            "report — pass calibration=, or pin the layout explicitly"
        )
    if calibration is not None:
        cal = _ann_calibration_section(calibration)
        spark = docs_stream.sparkSession
        if "nlist" in cal:
            n_cents = spark.read.parquet(centroids_path).count()
            if n_cents != cal["nlist"]:
                raise ValueError(
                    f"calibration recommends nlist={cal['nlist']} but "
                    f"the centroid snapshot at {centroids_path} holds "
                    f"{n_cents} — the measured recall-vs-nprobe curve "
                    "holds at the calibrated points-per-list only; "
                    "retrain or recalibrate"
                )
        if "dim" in cal and cal["dim"] != dim:
            raise ValueError(
                f"calibration was measured on dim={cal['dim']} vectors "
                f"but this stream embeds at dim={dim} — mismatched "
                "dims score garbage cosines silently; match the "
                "encoder or recalibrate"
            )
        if quantize == "auto":
            quantize = cal.get("quantize")
        have = existing_index_layout(spark, index_dir)
        if have is not None and have != (
            "int8" if quantize == "int8" else "float"
        ):
            raise ValueError(
                f"index at {index_dir} is {have}-encoded but this "
                f"stream would append {quantize or 'float'} — the "
                "layout is part of the index contract; match it or "
                "rebuild under a fresh path"
            )
        stamp_index_calibration(index_dir, calibration)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        centroids = spark.read.parquet(centroids_path)
        vecs = embed_documents(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            dim=dim,
            model_loader=model_loader,
        ).withColumnRenamed(id_col, "vec_id")
        append_to_ivf_index(
            vecs, centroids, index_dir, batch_id, quantize=quantize
        )
        _maybe_compact(
            spark, index_dir, batch_id, compact_every,
            ["centroid_id", "batch_id"],
        )

    return (
        _maybe_observe(docs_stream, observe_name, text_col)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def start_ingest_embed_stream(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    model_loader=None,
    trigger: dict | None = None,
    observe_name: str | None = "ingest_quality",
    compact_every: int | None = None,
):
    """Embed-at-ingest: run batch inference over each arriving
    micro-batch and land DataFrame[id_col, embedding, batch_id] as the
    committed vector table; returns the StreamingQuery. This completes
    the ingest family (dedup-at-ingest above, embed-at-ingest here) —
    the stream face of operators/inference.embed_documents, round-8
    verdict item 6.

    Per micro-batch (foreachBatch): ``embed_documents`` is the SAME
    batch operator — mapInPandas, model loaded once per partition,
    Arrow batch size as the memory knob — applied to the bounded batch
    frame; output is parquet partitioned by ``batch_id`` with DYNAMIC
    partition overwrite, so an at-least-once replay overwrites its own
    partition idempotently (the contract is sound because the default
    stub — and any sane ``model_loader`` — is DETERMINISTIC: same text
    → same vector on any executor, so a replayed batch rewrites
    byte-identical rows). The output table feeds similarity search /
    SRP-LSH dedup / IVF indexing directly — same schema as the batch
    path, pytest-pinned equal on a replayed fixture."""
    from mapreduce_implementation_spark.operators.inference import (
        embed_documents,
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        vecs = embed_documents(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            dim=dim,
            model_loader=model_loader,
        )
        (
            vecs.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        _maybe_compact(
            batch_df.sparkSession, out_dir, batch_id, compact_every,
            ["batch_id"],
        )

    return (
        _maybe_observe(docs_stream, observe_name, text_col)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
