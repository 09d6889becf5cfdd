#!/usr/bin/env python3
"""Targeted per-key micro-bench: probe -> timed reps -> probe, with
bench.py's exact session, prelude, probes, and median discipline — for
closing per-key watch items (BASELINE.md band checks) without paying a
full 15-minute run. The reading is comparable to a bench block because
everything that shapes a block's timing is reproduced:

- same session (`session.get_spark`: SPARK_GRAFT_CPUS / MASTER /
  DRIVER_MEM overrides, apply_engine_conf),
- same untimed prelude (JVM/codegen/Arrow warm-up, page-cache warm of
  every headline input, bucketed layouts, shared dedup memos, streaming
  landing seeds),
- same probes (shuffle 20M/64-part repartition-sum, CPU 2e8 two-sum,
  median-of-3 per block) BEFORE and AFTER the reps, so "clean on both
  axes" is recorded, not inferred,
- same timing (median of 3 noop-sink writes, leak guard between reps).

Usage:
    python scripts/micro_bench.py --keys sim_maxsim_ann[,key2,...]
                                  [--sf /root/testdata/sf0.1] [--reps 3]

Prints one line per key plus a compact JSON tail. Exit 0 always —
adjudication against the BASELINE.md bands is the reader's job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import (  # noqa: E402
    _CAL_REF_SEC,
    _SHUF_REF_SEC,
    _probe_cpu,
    _probe_median,
    _probe_shuffle,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]

    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-microbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [k for k in keys if k not in queries]
    if unknown:
        ap.error(f"unknown keys: {unknown}")

    # ---- bench.py's untimed prelude, verbatim in spirit ----
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{args.sf}/lineitem.parquet").limit(1).collect()
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4).repartition(cores).select(
        _warm("id").alias("v")
    ).agg({"v": "sum"}).collect()
    from fintech_data_lake_as_code_spark.io import load

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, args.sf, t).selectExpr("sum(hash(*))").collect()
    from fintech_data_lake_as_code_spark.operators.scale import _bucketed_table

    _bucketed_table(spark, args.sf, "lineitem", "l_orderkey")
    _bucketed_table(spark, args.sf, "orders", "o_orderkey")
    from fintech_data_lake_as_code_spark.operators.dedup import (
        warm_session_memos,
    )

    warm_session_memos(spark, args.sf)
    from fintech_data_lake_as_code_spark.streaming.queries import (
        _docs_json_dir,
        _events_json_dir,
    )

    _events_json_dir(spark, args.sf)
    _docs_json_dir(spark, args.sf)

    # ---- leak guard (bench.py's, minus the checkpoint split) ----
    def _persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    sanctioned = _persistent_ids()
    cache_leaks: dict[str, int] = {}

    def _leak_guard(key: str) -> None:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in sanctioned:
                continue
            jrdd = jmap.get(k)
            checkpointed = jrdd.rdd().isLocallyCheckpointed()
            jrdd.unpersist(False)
            if not checkpointed:
                cache_leaks[key] = cache_leaks.get(key, 0) + 1

    # ---- probes (bench.py's per-block pair, median-of-3) ----
    def _probe_pair() -> tuple[float, float]:
        s = _probe_median(_probe_shuffle, spark, 3)
        c = _probe_median(_probe_cpu, spark, 3)
        return (
            round(c / _CAL_REF_SEC, 3),
            round(s / _SHUF_REF_SEC, 3),
        )

    pre_cpu, pre_shuf = _probe_pair()
    out: dict[str, dict] = {}
    for key in keys:
        runs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            queries[key](spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
            _leak_guard(key)
        med = sorted(runs)[len(runs) // 2]
        out[key] = {"median": med, "runs": runs}
        sys.stdout.write(
            f"\nMICRO {key}: median {med:.3f}s of "
            + "/".join(f"{r:.3f}" for r in runs)
            + "\n"
        )
        sys.stdout.flush()
    post_cpu, post_shuf = _probe_pair()
    summary = {
        "keys": out,
        "sf_dir": args.sf,
        "pre": {"cpu_ratio": pre_cpu, "shuffle_ratio": pre_shuf},
        "post": {"cpu_ratio": post_cpu, "shuffle_ratio": post_shuf},
        "cache_leaks": cache_leaks,
        "clean_both_axes": bool(
            max(pre_cpu, post_cpu) <= 0.75
            and max(pre_shuf, post_shuf) <= 1.15
        ),
    }
    sys.stdout.write("\nMICROBENCH " + json.dumps(summary) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
