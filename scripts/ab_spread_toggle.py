#!/usr/bin/env python3
"""Interleaved A/B of any registry key's io.cpu_spread (or
io.width_preserving_spread) call sites in ONE session: "old" patches the
helper to identity in every loaded engine module that holds it, "new"
leaves it active. The arms alternate which runs first in each pair; the
A/B refuses to time when the two arms' normalized plans are identical
(the patch did not reach the key's spread). Noop-sink timed, bench.py's
CPU probe before and after, reported as its ratio to bench's reference.

Usage: python scripts/ab_spread_toggle.py --key profile_columns [--pairs 5]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import _CAL_REF_SEC, _probe_cpu, _probe_median  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--key", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--which",
        default="cpu_spread",
        choices=["cpu_spread", "width_preserving_spread"],
        help="which io helper the 'old' variant neutralizes",
    )
    args = ap.parse_args()

    from capture_plans import normalize
    from fintech_data_lake_as_code_spark import io as io_mod
    from fintech_data_lake_as_code_spark.io import SCRATCH_ROOT
    from fintech_data_lake_as_code_spark.plans.explain import formatted_plan
    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("ab-spread-toggle")
    spark.sparkContext.setLogLevel("ERROR")
    fn = all_queries()[args.key]

    real_spread = getattr(io_mod, args.which)

    # every engine module that imported the helper by name needs the
    # patch applied to ITS namespace too (operators, functions, streaming)
    pkg = io_mod.__name__.split(".")[0]
    holders = [
        m for name, m in list(sys.modules.items())
        if name.split(".")[0] == pkg
        and getattr(m, args.which, None) is real_spread
    ]

    def set_spread(active: bool):
        f = real_spread if active else (
            lambda df, *k, keep_exchange=False: df
        )
        for m in holders:
            setattr(m, args.which, f)

    def plan(variant: str) -> str:
        set_spread(variant == "new")
        try:
            return normalize(formatted_plan(fn(spark, args.sf)), SCRATCH_ROOT)
        finally:
            set_spread(True)

    if plan("old") == plan("new"):
        print(f"{args.key}: both arms plan identically, so {args.which} "
              "is not on this key's path; not timing", file=sys.stderr)
        return 1

    def run(variant: str) -> float:
        set_spread(variant == "new")
        try:
            q = fn(spark, args.sf)
            spark.sparkContext.setJobDescription(f"ab {args.key} {variant}")
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            set_spread(True)

    run("old"); run("new")  # warm-up
    pre = _probe_median(_probe_cpu, spark, 3)
    pairs = []
    for i in range(args.pairs):
        if i % 2:
            b = run("new")
            a = run("old")
        else:
            a = run("old")
            b = run("new")
        pairs.append((a, b))
        print(f"pair {i}: old {a:.3f}  new {b:.3f}  ratio {b/a:.2f}",
              flush=True)
    post = _probe_median(_probe_cpu, spark, 3)
    olds = sorted(p[0] for p in pairs)
    news = sorted(p[1] for p in pairs)
    rats = sorted(p[1] / p[0] for p in pairs)
    print(f"medians: old {olds[len(olds)//2]:.3f} "
          f"new {news[len(news)//2]:.3f}  "
          f"median-of-ratios {rats[len(rats)//2]:.2f}  "
          f"cpu probe pre {pre:.3f}s ratio={pre / _CAL_REF_SEC:.2f} "
          f"post {post:.3f}s ratio={post / _CAL_REF_SEC:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
