"""Run harness shared by the workloads: the session and its set-up,
the measurement protocol, timed operations, correctness checks and
shutdown."""

from __future__ import annotations

import os
import statistics
import time

SETUP_REPEATS = 3


def timed_loop(h, unit, min_units: int = 1) -> int:
    """Run ``unit()`` (returns False when it failed) in a closed loop
    for ``--seconds``: never start a unit that the last one says would
    end past the budget, but always run ``min_units``. Returns the
    number of units run."""
    t0 = time.perf_counter()
    last, n = 0.0, 0
    while n < min_units or time.perf_counter() - t0 + last <= h.args.seconds:
        u0 = time.perf_counter()
        if not unit():
            break
        last = time.perf_counter() - u0
        n += 1
    return n


def tail_percentile(values: list[float]) -> tuple[float, str]:
    """Value at the highest percentile that leaves at least ten samples
    beyond it. Below 21 samples that percentile is not above the
    median, so the maximum is reported instead and labelled as such."""
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        return xs[-1], f"max of {n}"
    idx = n - 11  # xs[idx] has exactly ten samples above it
    return xs[idx], f"p{100 * (idx + 1) // n} of {n}"


class Harness:
    """State shared by a workload run: the session, the span recorder,
    peak memory, and the attempted/failed operation counts."""

    def __init__(self, args, work: str, spans_dir: str):
        self.args = args
        self.work = work
        self.spans_dir = spans_dir
        self.trace = bool(args.trace)
        self.spark = None
        self.rec = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.report: dict = {}
        from spans import PeakRss

        self.rss = PeakRss()

    # --- session ---------------------------------------------------------

    def start_session(self):
        from mapreduce_implementation_spark import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, make_inputs):
        """Set up ``SETUP_REPEATS`` times — a fresh SparkContext, the
        seeded inputs generated and written, then loaded — and keep the
        median as ``setup_s``. The first repeat also launches the JVM;
        its session start alone is ``session.start_s``."""
        times = []
        inputs = None
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.start_session()
            if i == 0:
                self.report["session_start_s"] = time.perf_counter() - t0
            inputs = make_inputs(self.spark)
            times.append(time.perf_counter() - t0)
            self.rss.sample()
        self.report["setup_runs_s"] = times
        self.report["setup_s"] = statistics.median(times)
        from spans import Recorder

        self.rec = Recorder(
            self.spark.sparkContext, f"{self.args.workload}-{self.args.seed}", self.trace
        )
        return inputs

    def protocol(self) -> None:
        """HOF canary first, then calibration (measure_protocol order),
        stamped into the report."""
        from measure_protocol import protocol_stamp, session_stamp

        self.report["protocol"] = {
            **protocol_stamp(self.spark, cal_runs=1),
            **session_stamp(self.spark),
        }

    # --- operations --------------------------------------------------------

    def op(self, fn, *args, **kw):
        """Run one timed operation; returns ``(seconds, result)``, or
        ``(None, None)`` when it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception as e:  # one failed operation must not end the run
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {e}"[:500])
            return None, None
        dt = time.perf_counter() - t0
        self.rss.sample()
        return dt, out

    def check(self, name: str, ok: bool) -> None:
        """A correctness check; a failing one counts as a failed operation."""
        self.attempted += 1
        self.checks[name] = bool(ok) and self.checks.get(name, True)
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {name}")

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:  # a JVM that ignores its closed stdin
                    proc.kill()
                    proc.wait(timeout=10)
