"""``corpus_build``: the LLM training-corpus dataflow over a seeded
Zipf near-dup corpus.

One operation is a full ``build_training_corpus(near_dup=True)`` plus
``write_training_shards`` for the train split. The quality gate, exact
dedup, MinHash signatures, pair mining, connected components, the
hash split, chunking and packing all run inside it, so a change to any
of those layers moves this workload. ``N_DOCS`` keeps one run, with
its set-up and a cold warm-up build, well inside the harness deadline
on a 4-core host (~7 s per warm build at local[4]).

The traced run adds the same build with every layer STAGED: each
public layer function is called in the order ``build_training_corpus``
composes them, and its output is persisted and counted at the layer
boundary, so the layer's span covers its real execution. The staged
build must keep exactly the docs the fused build keeps.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import tail_percentile, timed_loop

N_DOCS = 4000
N_SHARDS = 4

CORPUS_SPANS = (
    "textstats.quality_gate",
    "dedup.exact_dedup",
    "dedup.minhash_signatures",
    "dedup.minhash_band_stats",
    "dedup.minhash_near_dup_pairs",
    "dedup.connected_components",
    "sampling.split_by_hash",
    "chunking.keyed_chunks",
    "packing.pack_greedy",
    "pipeline.write_training_shards",
)


def _cfg():
    from mapreduce_implementation_spark.operators.pipeline import CorpusPipelineConfig

    return CorpusPipelineConfig(near_dup=True)


def fused_build(docs, out_dir: str) -> dict:
    from mapreduce_implementation_spark.operators.pipeline import (
        build_training_corpus,
        write_training_shards,
    )

    out = build_training_corpus(docs, _cfg())
    write_training_shards(out["chunks"], out["packed"], out_dir, N_SHARDS)
    return out


def staged_build(h, docs, out_dir: str, scratch: str) -> list:
    """The fused build's layers one by one, each materialized at its
    boundary under its own span. Returns the persisted frames (the
    caller unpersists them) with the kept-doc frames first."""
    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.functions.textstats import quality_gate
    from mapreduce_implementation_spark.operators.chunking import (
        chunk_documents,
        keyed_chunks,
    )
    from mapreduce_implementation_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_band_stats,
        minhash_near_dup_pairs,
        minhash_signatures,
    )
    from mapreduce_implementation_spark.operators.packing import pack_greedy
    from mapreduce_implementation_spark.operators.pipeline import write_training_shards
    from mapreduce_implementation_spark.operators.sampling import split_by_hash
    from mapreduce_implementation_spark.sources.materialize import ensure_table

    cfg = _cfg()
    rec, spark = h.rec, h.spark
    staged = []

    def stage(df):
        df = df.persist()
        df.count()
        staged.append(df)
        return df

    k = cfg.near_dup_bands * cfg.near_dup_rows
    with rec.span("textstats.quality_gate"):
        filtered = stage(quality_gate(docs, "text", min_quality=None, max_top_token_frac=None))
    with rec.span("dedup.exact_dedup"):
        survivors = exact_dedup(filtered, "doc_id", "text").select(
            F.col("survivor_id").alias("doc_id")
        )
        deduped = stage(filtered.join(survivors, "doc_id", "semi"))
    with rec.span("dedup.minhash_signatures"):
        sigs = ensure_table(
            spark,
            os.path.join(scratch, "sigs"),
            lambda: minhash_signatures(
                deduped, "doc_id", "text",
                shingle_n=cfg.near_dup_shingle_n, k=k,
                shingle_impl=cfg.near_dup_shingle_impl,
                with_bands=(cfg.near_dup_bands, cfg.near_dup_rows),
            ),
        )
    with rec.span("dedup.minhash_band_stats"):
        stats = minhash_band_stats(
            spark, sigs, os.path.join(scratch, "sigs_bandstats"),
            bands=cfg.near_dup_bands, rows=cfg.near_dup_rows,
            max_bucket=cfg.near_dup_max_bucket,
        )
    with rec.span("dedup.minhash_near_dup_pairs") as s:
        pairs = stage(
            minhash_near_dup_pairs(
                deduped, "doc_id", "text",
                shingle_n=cfg.near_dup_shingle_n, k=k,
                bands=cfg.near_dup_bands, rows=cfg.near_dup_rows,
                threshold=cfg.near_dup_threshold,
                max_bucket=cfg.near_dup_max_bucket,
                signatures=sigs, shingle_impl=cfg.near_dup_shingle_impl,
                calibration=cfg.calibration, band_stats=stats,
            )
        )
    s.counts["near_dup_pairs"] = pairs.count()
    with rec.span("dedup.connected_components"):
        clusters = stage(connected_components(pairs, "doc_a", "doc_b"))
    with rec.span("pipeline.near_dup_antijoin"):
        near_drops = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        deduped = stage(deduped.join(near_drops, "doc_id", "anti"))
    with rec.span("sampling.split_by_hash"):
        splits = {
            name: stage(df)
            for name, df in split_by_hash(
                deduped, "doc_id", cfg.split_weights,
                salt=cfg.split_salt, method=cfg.hash_method,
            ).items()
        }
    with rec.span("chunking.keyed_chunks") as s:
        chunks = stage(
            keyed_chunks(
                chunk_documents(
                    splits[cfg.train_split], id_col="doc_id", text_col="text",
                    chunk_tokens=cfg.chunk_tokens, overlap=cfg.overlap,
                ),
                id_col="doc_id", key_stride=cfg.key_stride,
            )
        )
    s.counts["chunks"] = chunks.count()
    with rec.span("packing.pack_greedy") as s:
        packed = stage(
            pack_greedy(
                chunks.select("chunk_key", "n_tokens"), "chunk_key", "n_tokens",
                cfg.pack_budget, n_buckets=cfg.n_buckets, rows_hint=cfg.rows_hint,
            )
        )
    s.counts["packs"] = packed.select("pack_id").distinct().count()
    with rec.span("pipeline.write_training_shards"):
        write_training_shards(chunks, packed, out_dir, N_SHARDS)
    return [*splits.values(), *staged]


# --- checks -------------------------------------------------------------


def read_shards(out_dir: str):
    t = pq.read_table(out_dir, columns=["doc_id", "chunk_key", "n_tokens", "pack_id", "pack_slot"])
    return t.to_pandas()


def digest(ids) -> str:
    return hashlib.sha256(np.sort(np.asarray(ids, dtype=np.int64)).tobytes()).hexdigest()[:16]


def check_shards(h, shards, budget: int) -> float:
    """Packing invariants on the written shards; returns the fill ratio."""
    h.check("train_chunk_packed_once", not shards["chunk_key"].duplicated().any())
    sums = shards.groupby("pack_id")["n_tokens"].sum()
    h.check("pack_tokens_within_budget", bool((sums <= budget).all()))
    slots = shards.groupby("pack_id")["pack_slot"].agg(["min", "max", "count"])
    h.check(
        "pack_slots_dense",
        bool(((slots["min"] == 0) & (slots["max"] == slots["count"] - 1)).all()),
    )
    return float(sums.sum()) / (len(sums) * budget)


def check_splits(h, split_ids: dict, shards, cluster: np.ndarray) -> float:
    """Split, singleton and recall checks against the ground truth;
    returns near-dup recall."""
    train, holdout = set(split_ids["train"]), set(split_ids["holdout"])
    h.check("splits_disjoint", not (train & holdout))
    h.check("train_chunks_match_train_split", set(shards["doc_id"].unique()) == train)
    kept = np.zeros(len(cluster), dtype=bool)
    kept[list(train | holdout)] = True
    h.check("no_singleton_dropped", bool(kept[cluster < 0].all()))
    truth = gen.dup_counts(cluster)
    found = 0
    for c, m in truth.items():
        members = cluster == c
        h_kept = int(kept[members].sum())
        found += m - max(h_kept, 1)
    h.check("every_cluster_keeps_a_doc", all(kept[cluster == c].any() for c in truth))
    return found / max(sum(m - 1 for m in truth.values()), 1)


def split_doc_ids(out: dict) -> dict:
    return {
        name[len("split_"):]: [r.doc_id for r in df.select("doc_id").collect()]
        for name, df in out.items()
        if name.startswith("split_")
    }


# --- the workload -------------------------------------------------------


def run_corpus_build(h, work: str) -> dict:
    seed, budget = h.args.seed, _cfg().pack_budget
    truth: dict = {}
    in_path = os.path.join(work, "in", "docs.parquet")
    os.makedirs(os.path.dirname(in_path), exist_ok=True)

    def make_inputs(spark):
        table, cluster = gen.synth_corpus(seed, N_DOCS)
        pq.write_table(table, in_path)
        truth["cluster"] = cluster
        docs = spark.read.parquet(in_path)
        docs.count()
        return docs

    docs = h.setup(make_inputs)
    h.protocol()
    shard_dir = lambda tag: os.path.join(work, "shards", tag)  # noqa: E731

    # warm-up build (untimed), checked in full against the ground truth
    h.report["warmup_s"], out = h.op(fused_build, docs, shard_dir("warmup"))
    shards = read_shards(shard_dir("warmup"))
    fill = check_shards(h, shards, budget)
    recall = check_splits(h, split_doc_ids(out), shards, truth["cluster"])
    kept_digest = digest(shards["doc_id"].unique())

    def timed_build(tag: str) -> float | None:
        dt, _ = h.op(fused_build, docs, shard_dir(tag))
        if dt is not None:
            s = read_shards(shard_dir(tag))
            check_shards(h, s, budget)
            h.check("kept_digest_stable", digest(s["doc_id"].unique()) == kept_digest)
        return dt

    h.report.update(
        n_docs=N_DOCS,
        near_dup_recall=recall,
        pack_fill_ratio=fill,
        kept_digest=kept_digest,
        ground_truth_clusters=len(gen.dup_counts(truth["cluster"])),
    )
    if h.trace:
        return _traced(h, docs, work, shard_dir, timed_build, kept_digest, fill)

    times = []

    def unit() -> bool:
        dt = timed_build(f"b{h.attempted}")
        if dt is not None:
            times.append(dt)
        return dt is not None

    # the first timed build is still a little slower than the second
    timed_loop(h, unit, min_units=2)
    if not times:
        raise RuntimeError("no build completed")
    p50 = statistics.median(times)
    tail, tail_label = tail_percentile(times)
    h.report.update(
        build_s=times,
        build_p50_s=p50,
        build_tail_s=tail,
        build_tail_label=tail_label,
        corpus_docs_per_s=N_DOCS / p50,
    )
    return {
        "setup_s": h.report["setup_s"],
        "work_s": min(times),
        "python_peak_rss_mb": h.rss.python_mib,
        "recall": recall,
    }


def _traced(h, docs, work, shard_dir, timed_build, kept_digest, fill) -> dict:
    from spans import layer_metrics

    untraced = timed_build("untraced")
    with h.rec.span("pipeline.build_training_corpus"):
        traced = timed_build("traced")
    persisted_max = h.rec.persisted_max
    t0 = time.perf_counter()
    frames = staged_build(h, docs, shard_dir("staged"), os.path.join(work, "staged"))
    staged_wall = time.perf_counter() - t0
    split_ids = {
        "train": [r.doc_id for r in frames[0].select("doc_id").collect()],
        "holdout": [r.doc_id for r in frames[1].select("doc_id").collect()],
    }
    for df in frames:
        df.unpersist()
    h.check(
        "staged_keeps_fused_docs",
        digest(split_ids["train"]) == kept_digest,
    )
    top = [s for s in h.rec.spans if s.parent is None and s.name != "pipeline.build_training_corpus"]
    staged_sum = sum(s.wall_s for s in top)
    h.report.update(
        fused_untraced_s=untraced,
        fused_traced_s=traced,
        staged_wall_s=staged_wall,
        staged_layer_sum_s=staged_sum,
        fused_minus_staged_s=(untraced or 0.0) - staged_sum,
    )
    h.rec.dump(os.path.join(h.spans_dir, f"corpus_build-{h.args.seed}.jsonl"))
    values = layer_metrics(h.rec, CORPUS_SPANS)
    values.update(
        {
            "dedup.near_dup_pairs": h.rec.named("dedup.minhash_near_dup_pairs")[0].counts["near_dup_pairs"],
            "chunking.chunks": h.rec.named("chunking.keyed_chunks")[0].counts["chunks"],
            "packing.packs": h.rec.named("packing.pack_greedy")[0].counts["packs"],
            "packing.fill_ratio": fill,
            "pipeline.write_training_shards.output_bytes": h.rec.total(
                h.rec.named("pipeline.write_training_shards")[0], "output_bytes"
            ),
            "pipeline.fused_build_s": untraced or 0.0,
            "pipeline.staged_layers_s": staged_sum,
            "caching.persisted_rdds_max": persisted_max,
            "session.start_s": h.report["session_start_s"],
            "trace.overhead_s": (traced or 0.0) - (untraced or 0.0),
        }
    )
    h.report["spans"] = h.rec.summary()
    return values
