#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/r<N>/.

Usage:
    python tools/dump_round_plans.py --round N SUFFIX [name ...]

Writes plans/r<N>/<name>_<SUFFIX>.txt for each name (default: every bench
headliner).  SUFFIX is `before` / `after` per the optimization-round
deliverable contract.  Runs at $SPARK_GRAFT_SF_DIR (default sf0.1, the
bench scale) so the dumped plan is the one the bench actually executes.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Dump formatted plans of named queries to plans/r<N>/.")
    ap.add_argument("--round", type=int, required=True, metavar="N")
    ap.add_argument("suffix", help="before | after")
    ap.add_argument("names", nargs="*",
                    help="queries to dump (default: every bench headliner)")
    args = ap.parse_args()

    from busdata_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"dump-r{args.round}-plans")
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    import __spark_entry__ as entry

    qs = entry.queries()
    names = args.names or bench.HEADLINERS
    outdir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(outdir, exist_ok=True)
    jexp = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-dump: {name}")
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(jexp)
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
