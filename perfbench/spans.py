"""Span recorder and Spark counters, read from outside the program.

A span is opened around one call into a layer's public function. Each
span runs its Spark jobs under a job group of its own, so the jobs,
stages, task CPU time and shuffle bytes it caused are read back from
Spark's status tracker and status store (both work with the UI off).
Spans are kept in memory and written out as JSON lines when the run
ends. Nothing here patches or wraps the program: the benchmark calls
the layer, the recorder watches.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run_id: str = ""
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _opt_ms(opt) -> float | None:
    """Scala ``Option[Date]`` -> epoch ms, or None."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def spark_counters(sc, group: str) -> dict:
    """Jobs, stages and task totals of every job that ran in ``group``."""
    # the status store is fed asynchronously by the listener bus: let it
    # catch up with the action that just returned before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "task_cpu_s": 0.0,
        "task_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "input_records": 0,
        "output_bytes": 0,
        "job_intervals": [],
    }
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        try:
            jd = store.job(jid)
        except Exception:  # evicted from the store: no interval to add
            continue
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is not None and end is not None:
            out["job_intervals"].append((start / 1e3, end / 1e3))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages never ran and hold no data
            continue
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
        out["input_records"] += st.inputRecords()
        out["output_bytes"] += st.outputBytes()
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Recorder:
    """In-memory spans for one benchmark run.

    With ``enabled=False`` every ``span`` is a no-op, so the untraced
    run pays nothing for the instrumentation points."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.persisted_max = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            name=name,
            start=time.time(),
            parent=self._stack[-1].id if self._stack else None,
            id=next(self._ids),
            run_id=self.run_id,
        )
        group = f"pb-{self.run_id}-{s.id}"
        saved = {p: self.sc.getLocalProperty(p) for p in JOB_GROUP_PROPS}
        self.sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            for prop, val in saved.items():
                self.sc.setLocalProperty(prop, val)
            s.spark = spark_counters(self.sc, group)
            self.persisted_max = max(
                self.persisted_max, self.sc._jsc.getPersistentRDDs().size()
            )
            self.spans.append(s)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_s(self, s: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(s)]
        return s.wall_s - covered_s(kids, s.start, s.end)

    def total(self, s: Span, key: str) -> float:
        """Spark counter ``key`` over the span and all its descendants."""
        return s.spark.get(key, 0) + sum(self.total(c, key) for c in self.children(s))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def summary(self) -> dict:
        """Per span name: count, wall, self time and the main counters."""
        out: dict = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"n": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "task_cpu_s": 0.0, "shuffle_write_bytes": 0})
            row["n"] += 1
            row["wall_s"] += s.wall_s
            row["self_s"] += self.self_s(s)
            for key in ("jobs", "stages", "task_cpu_s", "shuffle_write_bytes"):
                row[key] += s.spark.get(key, 0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                row = {
                    "run_id": s.run_id,
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "wall_s": s.wall_s,
                    "self_s": self.self_s(s),
                    "counts": s.counts,
                    "spark": {k: v for k, v in s.spark.items() if k != "job_intervals"},
                }
                f.write(json.dumps(row) + "\n")


SPAN_QUANTITIES = ("wall_s", "self_s", "jobs", "task_cpu_s", "shuffle_write_bytes")


def layer_metrics(rec: Recorder, names) -> dict:
    """``<span>.<quantity>`` for each span name, summed over its spans;
    Spark counters include the span's child spans."""
    out = {}
    for name in names:
        spans = rec.named(name)
        out[f"{name}.wall_s"] = sum(s.wall_s for s in spans)
        out[f"{name}.self_s"] = sum(rec.self_s(s) for s in spans)
        for key in ("jobs", "task_cpu_s", "shuffle_write_bytes"):
            out[f"{name}.{key}"] = sum(rec.total(s, key) for s in spans)
    return out


def streaming_listener(spark):
    """Register a StreamingQueryListener that keeps every progress
    event's ``durationMs`` and state-row total; returns its record list
    and the listener (remove it with ``spark.streams.removeListener``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "durationMs": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    lst = _Progress()
    spark.streams.addListener(lst)
    return lst


# --- process memory -------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (the JVM forks its
    Python workers from threads other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:  # the thread ended meanwhile
            pass
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


class PeakRss:
    """Peak resident memory (VmHWM) of the Python driver, the Spark JVM
    and its Python daemon and workers, summed over processes and maxed
    over samples; the Python processes' share is also kept apart.
    Workers come and go with the SparkContext, so the tree is sampled
    after every operation."""

    def __init__(self):
        self.peak_kb = 0
        self.python_peak_kb = 0
        self.by_process: dict[str, int] = {}

    def sample(self) -> None:
        hwm = {p: _status_kb(p, "VmHWM") for p in process_tree(os.getpid())}
        comm = {p: _comm(p) for p in hwm}
        total = sum(hwm.values())
        python = sum(kb for p, kb in hwm.items() if comm[p].startswith("python"))
        self.python_peak_kb = max(self.python_peak_kb, python)
        if total > self.peak_kb:
            self.peak_kb = total
            self.by_process = {f"{comm[p]}-{p}": kb // 1024 for p, kb in hwm.items()}

    @property
    def mib(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def python_mib(self) -> float:
        return self.python_peak_kb / 1024.0
