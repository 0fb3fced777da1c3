#!/usr/bin/env python
"""Capture .explain("formatted") for registry queries into plans/rN/.

Usage: python tools/capture_plans.py --round N [before|after] [name ...]
With no names: all 50 registry queries. Plans are captured WITHOUT
executing the query action itself (explain only), though queries whose
builders run eager jobs (ensure_table, counts checkpoints) will run
those as part of plan construction — same as the driver does.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_implementation_spark import get_spark
from mapreduce_implementation_spark.plans import all_queries


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    suffix, names = args.suffix, args.names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="mris-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    targets = names or list(qs)
    for name in targets:
        q = qs[name]
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure for the record
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} chars -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
