#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Workloads: ``corpus_build`` and ``job_mix`` (see perfbench/README.md).

Runs one workload from the root of a source
checkout, in one closed-loop client process holding one SparkSession
at ``local[$(nproc)]``. Inputs are generated from ``--seed`` under
``perfbench/.work/``; nothing is read or written outside the checkout.

Standard output ends with two JSON lines: a report (every measurement,
the protocol stamps, the checks and, with ``--trace 1``, the per-span
breakdown) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the workload with
the span recorder on and reports the per-layer metrics. Metric names and bounds
are in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "mapreduce_implementation_spark"
DEADLINE_S = 170  # the harness must exit within 180 s


def _env(work: str) -> None:
    """Confine every temp and scratch path to the checkout and size
    the session to the host's CPUs before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM (launcher and driver): temp files in the checkout, and no
    # hsperfdata file, which the JVM would put in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _metrics(values: dict, trace: bool) -> dict:
    """Attach units from BENCHMARK.json; every listed metric must be
    present. A per-layer metric whose layer the workload does not run
    reads 0 (the layer is flat there by construction)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        if m["name"] not in values and not trace:
            raise KeyError(f"workload did not report {m['name']}")
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    from corpus_build import run_corpus_build
    from job_mix import run_job_mix

    WORKLOADS = {"corpus_build": run_corpus_build, "job_mix": run_job_mix}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    from harness import Harness

    h = Harness(args, work, os.path.join(WORK, "spans"))
    t_start = time.perf_counter()
    try:
        values = WORKLOADS[args.workload](h, work)
    finally:
        signal.alarm(0)
        try:
            h.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    metrics = _metrics(values, h.trace)
    correct = h.failed == 0 and all(h.checks.values())
    h.report.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        wall_s=time.perf_counter() - t_start,
        checks=h.checks,
        errors=h.errors,
        error_rate=h.failed / max(h.attempted, 1),
        peak_rss_mb=h.rss.mib,
        peak_rss_by_process_mb=h.rss.by_process,
    )
    print(json.dumps({"report": h.report}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(h.attempted, 1),
                "failed": h.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
