#!/usr/bin/env python3
"""Fast self-test of the benchmark, on a sf0.001 lake.

    python3 perfbench/selftest.py [--workload NAME]

For each workload it makes one untraced run (a cold pass and one warm
pass) and one traced run, and checks that:

- the untraced result prints every end-to-end metric of BENCHMARK.json
  with its unit, and no query or oracle check failed;
- the traced result prints exactly the per-layer metrics of
  BENCHMARK.json, with their units, and no RDD leaked;
- the trace has a span at each layer boundary, and every span's parent
  exists and encloses it.

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SF = "0.001"
# clock tolerance between Python's and the JVM's millisecond timestamps
SLACK_S = 0.05
BOUNDARIES = {
    "run", "setup", "session.start", "io.warm", "pass", "query",
    "registry.build", "operators.plan", "operators.execute", "stage",
    "plans.verify",
}


def _run(workload: str, trace: int, warm_passes: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace),
           "--sf", SF, "--warm-passes", str(warm_passes)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=False)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-4000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def _check_metrics(result: dict, spec: list[dict], where: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{where}: metrics {got} != BENCHMARK.json {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{where}: {k} is not a number: {v}")
    if not result["correct"] or result["failed"]:
        raise AssertionError(f"{where}: {result['failed']} of "
                             f"{result['attempted']} attempts failed")


def _check_trace(path: str, wl) -> None:
    with open(os.path.join(ROOT, path)) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    need = set(BOUNDARIES)
    if wl.layouts:
        need.add("operators.scale.layout")
    if wl.landings:
        need |= {"io.landing", "streaming.batch"}
    if wl.memos:
        need.add("operators.dedup.memo_warm")
    if need - names:
        raise AssertionError(f"{wl.name}: no span for {sorted(need - names)}")
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            raise AssertionError(f"{wl.name}: span not closed: {s}")
        if s["name"] == "run":
            if s["parent"] is not None:
                raise AssertionError(f"{wl.name}: run span has a parent")
            continue
        p = spans[s["parent"]]
        if not (p["start"] - SLACK_S <= s["start"] and s["end"] <= p["end"] + SLACK_S):
            raise AssertionError(f"{wl.name}: {s} lies outside its parent {p}")
        if p["name"] == "query" and s["qid"] != p["qid"]:
            raise AssertionError(f"{wl.name}: {s} carries another query id")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if {w["name"] for w in spec["workloads"]} != set(WORKLOADS):
        raise AssertionError("BENCHMARK.json workloads differ from workloads.py")
    for name in [args.workload] if args.workload else sorted(WORKLOADS):
        _, plain = _run(name, 0, 1)
        _check_metrics(plain, spec["end_to_end"], f"{name} untraced")
        detail, traced = _run(name, 1, 2)
        _check_metrics(traced, spec["per_layer"], f"{name} traced")
        if traced["metrics"]["registry.leaked_rdds"]["value"]:
            raise AssertionError(f"{name}: RDDs leaked")
        _check_trace(detail["trace_file"], WORKLOADS[name])
        print(f"selftest {name}: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
