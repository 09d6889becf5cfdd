#!/usr/bin/env python3
"""Capture `.explain("formatted")` for registered query keys into
<out>/<key>_<suffix>.txt — the evidence trail for plan claims ("2
Exchange -> 1", "SortMergeJoin -> BroadcastHashJoin"), which a reader
without Spark checks against these files.

Usage:
    python scripts/capture_plans.py --out DIR [--keys k1,k2,...]
                                    [--suffix before]
                                    [--sf SF_DIR] [--normalize]

`--out` is required: the committed plans/ directories are records, and a
capture must never overwrite one by default.

`--keys` defaults to every registered key. `--normalize` rewrites the
parts of a plan that change from run to run (expression ids `#123`,
`plan_id=N`, RDD ids, the scratch root and `pid<N>` directories), so two
captures diff clean exactly when the plans are the same:

    python scripts/capture_plans.py --normalize --sf SF --out A --suffix p
    (same again from the other checkout into B)
    diff -r A B

Notes:
- Keys whose registered form materializes driver-side (e.g.
  graph_triangle_count returns a local relation) are special-cased to
  capture the LAZY analytic plan instead of the trivial LocalTableScan.
- Building some queries runs bounded prelude jobs (seed collects, BPE
  training, k-means fits, streaming drains); this script is an analysis
  tool, not a timing tool.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def normalize(plan: str, scratch_root: str) -> str:
    """Strip the run-to-run noise from a formatted plan."""
    plan = plan.replace(scratch_root.rstrip("/"), "<scratch>")
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"\bpid\d+\b", "pid<N>", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[]", plan)


def _lazy_plan_df(spark, sf_dir: str, key: str):
    """The analytically interesting (lazy) DataFrame for keys whose
    registered form collects/materializes; None -> use the registered
    query's own return value."""
    if key == "graph_triangle_count":
        from fintech_data_lake_as_code_spark.operators.graph import (
            _triangle_plan,
        )

        out, _caches = _triangle_plan(spark, sf_dir)
        return out
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="", help="default: every key")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="directory, under the repo root if relative")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--normalize", action="store_true")
    args = ap.parse_args()

    from fintech_data_lake_as_code_spark.io import SCRATCH_ROOT
    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    keys = [k for k in args.keys.split(",") if k] or list(queries)
    unknown = [k for k in keys if k not in queries]
    if unknown:
        ap.error(f"unknown keys: {unknown}")

    outdir = os.path.join(REPO_ROOT, args.out)
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        try:
            df = _lazy_plan_df(spark, args.sf, key)
            if df is None:
                df = queries[key](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as ex:  # capture the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {type(ex).__name__}: {ex}\n"
        if args.normalize:
            plan = normalize(plan, SCRATCH_ROOT)
        path = os.path.join(outdir, f"{key}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
