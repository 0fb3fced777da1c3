"""``job_mix``: many short jobs on one session, reads beside writes.

One pass runs, in a seed-shuffled order, a set of registry queries
(each materialized with the noop sink), the paper's seven-stage job
(``map_reduce_wordcount_r9``), a Structured Streaming drain, and the
incremental IVF index's two serving operations: the append of a fresh
vector batch (a write) and an 8-query ``ivf_topk_from_index`` probe (a
read). Every operation is short and bound by per-job overhead —
planning, job and stage scheduling, shuffle set-up, micro-batch
commits, Python-worker round trips — so a driver, scheduling,
streaming or similarity change shows here while a text-kernel win
reads flat. Writes run beside reads, so a change that speeds probes
at the cost of appends (or the reverse) moves the per-operation
percentiles.

Correctness: the first (warm-up) pass collects every registry query
and compares it with its DuckDB oracle over the same generated
tables; every probe's top-10 is scored against the exact numpy top-10
over the index contents at that moment (``recall``).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import tail_percentile, timed_loop

SF = 0.01
QUERIES = (
    "map_reduce_wordcount_r9",
    "wordcount",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "events_tumbling_5min",
    "events_sessionization",
    "events_asof_latest_order",
    "streaming_wordcount",
)
N_BASE = 10_000  # batch 0 of the IVF index
N_APPEND = 2_000  # one fresh batch
N_PROBE = 8
IVF_K = 32
NPROBE = 4
TOPK = 10
RECALL_FLOOR = 0.9
NEAR = 0.5  # a query is scored when its 10th exact neighbour is this close
COS_QUANTUM = 1e-4  # probes rank on cosine rounded to DECIMAL(10,4)

JOB_SPANS = (
    "similarity.train_centroids",
    "similarity.append_to_ivf_index",
    "similarity.ivf_topk_from_index",
)


class Ivf:
    """The served index: its centroids, its path and, on the benchmark
    side, a numpy copy of its contents for the exact top-10."""

    def __init__(self, h, work: str):
        self.h = h
        self.work = work
        self.path = os.path.join(work, "ivf_index")
        self.stream = gen.VectorStream(h.args.seed)
        self.ids: list[np.ndarray] = []
        self.embs: list[np.ndarray] = []
        self.batches = 0
        self.hits = 0
        self.expected = 0
        self.probe_bytes = 0
        self.scan_rows = 0

    def batch_frame(self, b: int, n: int, id_offset: int):
        ids, emb = self.stream.batch(b, n, id_offset)
        path = os.path.join(self.work, "in", f"vectors_{b}.parquet")
        pq.write_table(gen.vectors_table(ids, emb), path)
        return ids, emb, self.h.spark.read.parquet(path)

    def build(self):
        from mapreduce_implementation_spark.operators import similarity as sim

        ids, emb, v0 = self.batch_frame(0, N_BASE, 0)
        with self.h.rec.span("similarity.train_centroids"):
            self.centroids = sim.train_centroids(v0, k=IVF_K, iters=2)
        self._append(v0, ids, emb)

    def _append(self, frame, ids, emb):
        from mapreduce_implementation_spark.operators import similarity as sim

        with self.h.rec.span("similarity.append_to_ivf_index"):
            sim.append_to_ivf_index(frame, self.centroids, self.path, self.batches)
        self.ids.append(ids)
        self.embs.append(emb)
        self.batches += 1

    def prepare_append(self):
        b = self.batches
        return self.batch_frame(b, N_APPEND, b * 10_000_000)

    def append(self, prepared):
        ids, emb, frame = prepared
        self._append(frame, ids, emb)

    def prepare_probe(self):
        tag = 1_000_000 + self.batches
        ids, emb = self.stream.batch(tag, N_PROBE, 10**12 + tag * 100, members=True)
        q = self.h.spark.createDataFrame(
            [(int(i), e.tolist()) for i, e in zip(ids, emb)],
            "vec_id long, embedding array<float>",
        )
        return ids, emb, q

    def probe(self, prepared):
        from mapreduce_implementation_spark.operators import similarity as sim

        _, _, q = prepared
        with self.h.rec.span("similarity.ivf_topk_from_index") as s:
            rows = sim.ivf_topk_from_index(
                self.h.spark, self.path, q, self.centroids, k=TOPK, nprobe=NPROBE
            ).collect()
        if s is not None:
            self.probe_bytes += s.spark["input_bytes"]
            self.scan_rows += s.spark["input_records"]
        return rows

    def score(self, prepared, rows) -> None:
        """Tie-aware recall@10 of near-dup lookups: a returned id is a
        hit when its exact cosine is within one rounding quantum of the
        exact 10th best. Queries are fresh cluster members; one whose
        cluster holds fewer than ten close mates has a noise top-10 no
        index can be asked to find, and is not scored."""
        q_ids, q_emb, _ = prepared
        index_ids = np.concatenate(self.ids)
        top, cos = gen.exact_topk(np.concatenate(self.embs), index_ids, q_emb, TOPK)
        pos = {int(v): i for i, v in enumerate(index_ids)}
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(int(r.query_id), []).append(int(r.vec_id))
        for qi, qid in enumerate(q_ids):
            kth = cos[qi, pos[int(top[qi, -1])]]
            if kth < NEAR:
                continue
            returned = got.get(int(qid), [])[:TOPK]
            self.hits += sum(cos[qi, pos[v]] >= kth - COS_QUANTUM for v in returned)
            self.expected += TOPK

    @property
    def recall(self) -> float:
        return self.hits / max(self.expected, 1)


def run_pass(
    h, ivf, tables: str, order, pass_times: dict, collect: bool = False
) -> tuple[dict, float]:
    """One pass over ``order``; per-op seconds go to ``pass_times``.
    Returns the registry results when ``collect`` (for checking) and the
    pass's summed operation seconds."""
    from measure_protocol import materialize

    from mapreduce_implementation_spark.plans import all_queries

    registry = all_queries()
    results = {}
    op_total = 0.0
    for name in order:
        if name == "ivf_append":
            prepared = ivf.prepare_append()
            dt, _ = h.op(ivf.append, prepared)
        elif name == "ivf_probe":
            prepared = ivf.prepare_probe()
            dt, rows = h.op(ivf.probe, prepared)
            if rows is not None:
                ivf.score(prepared, rows)
        else:
            fn = registry[name].fn

            def query():
                with h.rec.span(f"plans.{name}"):
                    df = fn(h.spark, tables)
                    if collect:
                        return df.toPandas()
                    materialize(df)

            query.__name__ = name
            dt, results[name] = h.op(query)
        if dt is not None:
            pass_times.setdefault(name, []).append(dt)
            op_total += dt
    return results, op_total


def check_oracles(h, tables: str, results: dict) -> None:
    from mapreduce_implementation_spark import oracle
    from mapreduce_implementation_spark.plans import all_queries

    registry = all_queries()
    con = oracle.duckdb_connect(tables)
    try:
        for name, got in results.items():
            sql = registry[name].oracle
            if sql is None or got is None:
                continue
            # sums of doubles differ in the last bits with summation order
            problems = oracle.compare(got, con.execute(sql).df(), float_decimals=6)
            h.check(f"oracle:{name}", not problems)
            if problems:
                h.errors.append(f"{name}: {problems[0]}"[:500])
    finally:
        con.close()


def run_job_mix(h, work: str) -> dict:
    tables = os.path.join(work, "in", "tables")
    os.makedirs(tables, exist_ok=True)
    ivf = Ivf(h, work)

    def make_inputs(spark):
        gen.write_tables(gen.job_tables(h.args.seed, SF), tables)
        for name in ("documents", "events", "lineitem"):
            spark.read.parquet(os.path.join(tables, f"{name}.parquet")).count()

    h.setup(make_inputs)
    h.protocol()
    rnd = random.Random(h.args.seed)
    ops = [*QUERIES, "ivf_append", "ivf_probe"]
    if h.trace:
        from spans import streaming_listener

        listener = streaming_listener(h.spark)

    # warm-up: the index build (traced: its spans are kept), then one
    # checked pass and, traced, one untraced pass as the baseline
    t0 = time.perf_counter()
    h.report["ivf_build_s"] = h.op(ivf.build)[0] or 0.0
    h.rec.enabled = False
    results, _ = run_pass(h, ivf, tables, ops, {}, collect=True)
    check_oracles(h, tables, results)
    h.report["warmup_s"] = time.perf_counter() - t0

    times: dict = {}
    if h.trace:
        # one untraced pass is the overhead baseline
        tp = time.perf_counter()
        run_pass(h, ivf, tables, ops, times)
        return _traced(h, ivf, tables, ops, rnd, time.perf_counter() - tp, listener)

    passes = []

    def one_pass() -> bool:
        order = ops[:]
        rnd.shuffle(order)
        passes.append(run_pass(h, ivf, tables, order, times)[1])
        return True

    # min of two passes per operation, as for the builds
    timed_loop(h, one_pass, min_units=2)
    h.check("ivf_recall_floor", ivf.recall >= RECALL_FLOOR)
    _check_index_rows(h, ivf)
    samples = [t for ts in times.values() for t in ts]
    if len(times) < len(ops):
        raise RuntimeError(f"operations never completed: {sorted(set(ops) - set(times))}")
    # one pass of the mix at each operation's best time in the run
    mix_s = sum(min(ts) for ts in times.values())
    tail, tail_label = tail_percentile(samples)
    h.report.update(
        passes_s=passes,
        op_s=times,
        work_s=mix_s,
        job_p50_s=statistics.median(samples),
        job_tail_s=tail,
        job_tail_label=tail_label,
        ivf_append_s=statistics.median(times["ivf_append"]),
        ivf_probe_p50_s=statistics.median(times["ivf_probe"]),
        ivf_recall_at_10=ivf.recall,
    )
    return {
        "setup_s": h.report["setup_s"],
        "work_s": mix_s,
        "python_peak_rss_mb": h.rss.python_mib,
        "recall": ivf.recall,
    }


def _check_index_rows(h, ivf) -> None:
    want = int(sum(len(i) for i in ivf.ids))
    got = h.spark.read.parquet(ivf.path).count()
    h.check("ivf_index_rows", got == want)


def _traced(h, ivf, tables, ops, rnd, untraced_pass_s, listener) -> dict:
    from spans import covered_s, layer_metrics

    order = ops[:]
    rnd.shuffle(order)
    listener.progress.clear()
    h.rec.enabled = True
    tp = time.perf_counter()
    run_pass(h, ivf, tables, order, {})
    traced_pass_s = time.perf_counter() - tp
    h.check("ivf_recall_floor", ivf.recall >= RECALL_FLOOR)
    _check_index_rows(h, ivf)
    h.spark.streams.removeListener(listener)
    h.rec.dump(os.path.join(h.spans_dir, f"job_mix-{h.args.seed}.jsonl"))

    values = layer_metrics(h.rec, JOB_SPANS)
    plans = [s for s in h.rec.spans if s.name.startswith("plans.")]
    for name in QUERIES:
        values[f"plans.{name}.wall_s"] = sum(s.wall_s for s in h.rec.named(f"plans.{name}"))
    for key in ("jobs", "stages", "task_cpu_s", "shuffle_write_bytes"):
        values[f"plans.{key}"] = sum(h.rec.total(s, key) for s in plans)
    values["plans.driver_s"] = sum(
        s.wall_s - covered_s(s.spark["job_intervals"], s.start, s.end) for s in plans
    )
    probes = len(h.rec.named("similarity.ivf_topk_from_index"))
    values["similarity.probe_input_bytes"] = ivf.probe_bytes / max(probes, 1)
    values["similarity.probe_scan_yield"] = (
        probes * N_PROBE * TOPK / ivf.scan_rows if ivf.scan_rows else 0.0
    )
    prog = listener.progress
    for key in ("addBatch", "getBatch", "walCommit", "commitOffsets"):
        values[f"streaming.{key}_s"] = sum(p["durationMs"].get(key, 0) for p in prog) / 1e3
    values["streaming.batches"] = len(prog)
    last: dict = {}
    for p in prog:
        last[p["id"]] = p["state_rows"]
    values["streaming.state_rows"] = sum(last.values())
    values["caching.persisted_rdds_max"] = h.rec.persisted_max
    values["session.start_s"] = h.report["session_start_s"]
    values["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    h.report.update(
        untraced_pass_s=untraced_pass_s,
        traced_pass_s=traced_pass_s,
        ivf_recall_at_10=ivf.recall,
        spans=h.rec.summary(),
    )
    return values
