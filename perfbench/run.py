#!/usr/bin/env python3
"""Benchmark of the fin-lake-spark engine, end to end and layer by layer.

    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One run:

1. makes the benchmark's lake (perfbench/datagen.py) and the DuckDB oracle
   answers of every workload key, once per checkout, under `.perfbench/`;
2. sets up a fresh session in an empty per-run scratch root (session
   start, page-cache warm-up, and the workload's layouts, landings and
   memos) and times that as `setup_s`;
3. runs passes over the workload's keys, in an order shuffled by the seed,
   as one closed-loop client: a cold pass, then three warm passes (fewer,
   but at least two, only if the passes overrun `--seconds`). Each query is
   `fn(spark, lake)` followed by a `noop` write of its result. On the
   cold pass every result is also checked against its oracle, outside the
   timed region;
4. prints a detail line and, as the last line of stdout, the result:
   `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
the warm passes alternate untraced and traced, the metrics are the
per-layer ones read from the traced passes, and the span tree is written
to `.perfbench/traces/`. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)

import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

LAKE_SF = 0.01
LAKE_SEED = 20240101
WARM_PASSES = 3
MB = 1024 * 1024
END_TO_END = {"setup_s": "s", "cold_pass_cpu_s": "s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="fin-lake-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=LAKE_SF,
                    help="lake scale factor (the self-test uses 0.001)")
    ap.add_argument("--warm-passes", type=int, default=WARM_PASSES)
    args = ap.parse_args(argv)
    if args.trace:  # one traced and one untraced warm pass at least
        args.warm_passes = max(args.warm_passes, 2)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _sweep_dead_runs()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    # set before the engine is imported: io.py reads its scratch root then
    os.environ.update(
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the JVM's temp files go to the run's tmp; no hsperfdata in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
        "-XX:-UsePerfData",
    )
    try:
        return _run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    try:
        import fintech_data_lake_as_code_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    t = time.perf_counter()
    lake = ensure_lake(args.sf)
    all_keys = sorted({k for w in WORKLOADS.values() for k in w.keys})
    oracle_dir = os.path.join(lake, "_oracle")
    oracle.ensure_cache(oracle_dir, lake, all_keys)
    prep_s = time.perf_counter() - t

    os.chdir(run_dir)  # spark-warehouse/, derby.log and metastore_db land here
    bench = Bench(WORKLOADS[args.workload], args, lake, oracle_dir,
                  int(os.environ["SPARK_GRAFT_CPUS"]), prep_s)
    try:
        result = bench.run()
    finally:
        bench.stop()
    print(json.dumps({"detail": bench.detail}))
    print(json.dumps(result), flush=True)
    return 0


def _sweep_dead_runs() -> None:
    """Remove the scratch roots of runs whose process no longer exists."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        if not (name.startswith("run-") and pid.isdigit()):
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except PermissionError:  # alive, owned by someone else
            pass


def ensure_lake(sf: float) -> str:
    """The benchmark's lake for `sf`, generated once per checkout."""
    from datagen import write_lake

    lake = os.path.join(WORK, f"lake-sf{sf:g}-seed{LAKE_SEED}")
    if not os.path.isdir(lake):
        tmp = f"{lake}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_lake(tmp, sf, LAKE_SEED)
        try:
            os.rename(tmp, lake)
        except OSError:  # a concurrent run landed it first
            shutil.rmtree(tmp, ignore_errors=True)
    return lake


class Bench:
    def __init__(self, wl, args, lake, oracle_dir, nproc, prep_s):
        from tracing import Tracer

        self.wl, self.args, self.lake = wl, args, lake
        self.oracle_dir, self.nproc, self.prep_s = oracle_dir, nproc, prep_s
        self.spark = None
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.leaked = self.resident_checkpoints = 0
        self.verify_s = 0.0
        self.setup: dict[str, float] = {}
        self.detail: dict = {}

    # -- set-up ----------------------------------------------------------

    def _step(self, name, parent, fn):
        t = time.perf_counter()
        sid = self.tracer.open(name, parent)
        out = fn()
        self.tracer.close(sid)
        self.setup[name] = time.perf_counter() - t
        return out

    def set_up(self, run_span) -> None:
        from fintech_data_lake_as_code_spark.io import load
        from fintech_data_lake_as_code_spark.registry import all_queries

        sp = self.tracer.open("setup", run_span)
        self.queries = all_queries()
        self.spark = self._step("session.start", sp, self._start_session)
        spark, lake = self.spark, self.lake

        def warm_io():
            for t in self.wl.warm_tables:
                load(spark, lake, t).selectExpr("sum(hash(*))").collect()

        self._step("io.warm", sp, warm_io)
        if self.wl.layouts:
            # building the co-located join registers (and on first use
            # writes) the bucketed layouts it reads
            self._step("operators.scale.layout", sp,
                       lambda: self.queries["join_bucketed_colocated"](spark, lake))
        if self.wl.landings:
            from fintech_data_lake_as_code_spark.streaming.queries import (
                _events_json_dir,
            )

            self._step("io.landing", sp, lambda: _events_json_dir(spark, lake))
        if self.wl.memos:
            from fintech_data_lake_as_code_spark.operators.dedup import (
                warm_session_memos,
            )

            self._step("operators.dedup.memo_warm", sp,
                       lambda: warm_session_memos(spark, lake))
        self.tracer.close(sp)

    def _start_session(self):
        from fintech_data_lake_as_code_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        return spark

    def _persistent(self) -> dict:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k): jmap.get(k) for k in jmap.keySet().toArray()}

    def _leak_guard(self) -> None:
        """Drop persistent RDDs a query left behind beyond the set that
        existed when set-up ended, so no later query rides its cache."""
        for rid, jrdd in self._persistent().items():
            if rid in self.sanctioned:
                continue
            # the locally checkpointed last round of an iterative result is
            # the result's own storage, counted apart from cache leaks
            if jrdd.rdd().isLocallyCheckpointed():
                self.resident_checkpoints += 1
            else:
                self.leaked += 1
            jrdd.unpersist(False)

    def _probe(self) -> dict:
        """CPU and shuffle probes: context for reading a run, never used to
        rescale a metric."""
        spark = self.spark
        t = time.perf_counter()
        spark.range(5_000_000).selectExpr("sum(id % 7)", "sum(id * 3 + 1)").collect()
        cpu = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(200_000).repartition(8, "id").selectExpr("sum(id)").collect()
        return {"cpu_s": round(cpu, 4), "shuffle_s": round(time.perf_counter() - t, 4)}

    # -- passes ----------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        run_span = self.tracer.add("run", time.time() - (time.perf_counter() - T0), None)
        self.set_up(run_span)
        setup_s = time.perf_counter() - T0 - self.prep_s
        self.sanctioned = set(self._persistent())
        probe_pre = self._probe()

        layer = None
        if args.trace:
            from tracing import StatusReader

            layer = Layers(self.spark, StatusReader(self.spark), self.tracer)
        rng = random.Random(args.seed)
        passes: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        # a fixed number of warm passes, so that a slow machine does not
        # also get fewer passes; --seconds only stops a run that overruns
        # it badly, and never before two warm passes
        while len(passes) <= args.warm_passes:
            p = len(passes)
            if p > 2 and time.perf_counter() > deadline:
                break
            keys = list(self.wl.keys)
            rng.shuffle(keys)
            # trace runs: the cold pass and every second warm pass are traced
            traced = bool(layer) and p % 2 == 0
            passes.append(self._pass(p, keys, run_span, layer if traced else None))
        probe_post = self._probe()
        resident_mb = self._resident_mb()
        self.tracer.close(run_span)

        # Warm passes still get faster and cheaper while the JIT compiles in
        # the background, and load from other tenants only ever adds time,
        # so the steady state is the fastest (cheapest) warm pass, and a
        # key's latency its fastest warm run.
        warm = passes[1:]
        best = [
            min(q["wall_s"] for p in warm for q in p["queries"] if q["key"] == key)
            for key in self.wl.keys
        ]
        metrics = {"setup_s": setup_s, "cold_pass_cpu_s": passes[0]["cpu_s"]}
        self.detail = self._context(probe_pre, probe_post, passes)
        self.detail["end_to_end"] = metrics
        # reported, not gated: on a shared machine these spread more than
        # the benchmark's bound between runs (see perfbench/README.md)
        self.detail["steady_state"] = {
            "cold_pass_s": passes[0]["wall_s"],
            "warm_pass_s": min(p["wall_s"] for p in warm),
            "warm_pass_cpu_s": min(p["cpu_s"] for p in warm),
            "query_p50_s": statistics.median(best),
        }
        if layer:
            per_layer = layer.metrics(self, passes, resident_mb)
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(
                trace_dir, f"{self.wl.name}-seed{args.seed}-{os.getpid()}.json"
            )
            self.tracer.write(path)
            self.detail["trace_file"] = os.path.relpath(path, ROOT)
            out = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        else:
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": out,
        }

    def _pass(self, p, keys, run_span, layer) -> dict:
        from tracing import tree_cpu_s

        sid = self.tracer.open("pass", run_span, pass_no=p, traced=bool(layer))
        cpu = 0.0
        if layer:
            layer.begin_pass()
        records = []
        for key in keys:
            qid = f"p{p}:{key}"
            qspan = self.tracer.open("query", sid, qid, key=key)
            cpu0 = tree_cpu_s()
            w0, c0 = time.time(), time.perf_counter()
            w1 = c1 = df = None
            ok = True
            try:
                df = self.queries[key](self.spark, self.lake)
                w1, c1 = time.time(), time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
            except Exception:  # a failing query is counted, the run goes on
                ok, df = False, None
                self._fail(f"{qid} raised:\n{traceback.format_exc()}")
            c2, w2 = time.perf_counter(), time.time()
            cpu += tree_cpu_s() - cpu0
            self.tracer.close(qspan)
            self.attempted += 1
            rec = {
                "key": key,
                "ok": ok,
                "wall_s": c2 - c0,
                "build_s": (c1 or c2) - c0,
                "t": (w0, w1 or w2, w2),
            }
            if layer:
                layer.after_query(rec, qspan, qid)
            if p == 0:
                # every key is checked once, on the cold pass, after its
                # timed write: the check re-reads the result, not the build
                # (streaming keys drain their stream in the build), and it
                # runs every plan a second time before the warm passes
                self._verify(key, df, sid)
                if layer:
                    layer.reader.new_work()  # the check's jobs are not the query's
            self._leak_guard()
            records.append(rec)
        if layer:
            layer.end_pass()
        self.tracer.close(sid)
        return {"pass": p, "wall_s": sum(r["wall_s"] for r in records),
                "cpu_s": cpu, "queries": records, "traced": bool(layer)}

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg.splitlines()[0])
        print(f"perfbench: {msg}", file=sys.stderr)

    def _resident_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def _verify(self, key, df, parent) -> None:
        t = time.perf_counter()
        sid = self.tracer.open("plans.verify", parent, key=key)
        self.attempted += 1
        try:
            issues = ["the query raised"] if df is None else oracle.check(
                self.oracle_dir, key, df)
        except Exception:  # counted as a failed check, the run goes on
            issues = [traceback.format_exc()]
        if issues:
            self._fail(f"oracle mismatch on {key}: " + "; ".join(issues))
        self.tracer.close(sid)
        self.verify_s += time.perf_counter() - t

    def _context(self, probe_pre, probe_post, passes) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "workload": self.wl.name,
            "keys": list(self.wl.keys),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": self.nproc,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
            "engine_sha256": _engine_digest(),
            "lake": {"sf": self.args.sf, "seed": LAKE_SEED},
            "prep_s": self.prep_s,
            "setup_steps_s": self.setup,
            "probe_pre": probe_pre,
            "probe_post": probe_post,
            "passes_s": [p["wall_s"] for p in passes],
            "passes_cpu_s": [p["cpu_s"] for p in passes],
            "query_s": {
                k: [q["wall_s"] for p in passes for q in p["queries"] if q["key"] == k]
                for k in self.wl.keys
            },
            "leaked_rdds": self.leaked,
            "resident_checkpoints": self.resident_checkpoints,
            "failures": self.failures,
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        proc = getattr(SparkContext, "_gateway", None)
        proc = getattr(proc, "proc", None) if proc else None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Layers:
    """Per-layer numbers of the traced passes."""

    def __init__(self, spark, reader, tracer) -> None:
        from tracing import PhaseListener, ProgressListener
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark, self.reader, self.tracer = spark, reader, tracer
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = PhaseListener()
        self.progress = ProgressListener()
        self.pass_stats: list[dict] = []

    def begin_pass(self) -> None:
        self.reader.new_work()  # skip what untraced work recorded
        self.spark._jsparkSession.listenerManager().register(self.phases)
        self.spark.streams.addListener(self.progress)
        self.phases.records.clear()
        self.progress.batches.clear()
        self.cur = []

    def end_pass(self) -> None:
        self.reader.drain()
        self.spark._jsparkSession.listenerManager().unregister(self.phases)
        self.spark.streams.removeListener(self.progress)
        self.pass_stats.append(self.cur)

    def after_query(self, rec, qspan, qid) -> None:
        from tracing import union_seconds

        t_b0, t_b1, t_end = rec["t"]
        work = self.reader.new_work()
        tr = self.tracer
        plan_s = sum(d for s, d in self.phases.records if t_b1 - 0.001 <= s <= t_end)
        build = tr.add("registry.build", t_b0, t_b1, qspan, qid)
        tr.add("operators.plan", t_b1, t_b1 + plan_s, qspan, qid)
        ex = tr.add("operators.execute", t_b1 + plan_s, t_end, qspan, qid)
        ran = [s for s in work["stages"] if not s["skipped"]]
        spans = []
        for s in ran:
            if s["start"] is None or s["end"] is None:
                continue
            parent = build if s["start"] < t_b1 else ex
            tr.add("stage", s["start"], s["end"], parent, qid, stage=s["id"])
            if parent == ex:
                spans.append((s["start"], s["end"]))
        batches = [b for b in self.progress.batches if t_b0 <= b["start"] <= t_end]
        for b in batches:
            tr.add("streaming.batch", b["start"], b["start"] + b["trigger_s"],
                   build, qid, batch=b["batch"], rows=b["rows"])
        exec_wall = t_end - t_b1
        self.cur.append(
            {
                "wall_s": rec["wall_s"],
                "build_s": rec["build_s"],
                "plan_s": plan_s,
                "residue_s": max(0.0, exec_wall - plan_s
                                 - union_seconds(spans, t_b1, t_end)),
                "jobs": len(work["jobs"]),
                "stages": len(ran),
                "stages_skipped": len(work["stages"]) - len(ran),
                "stage_rows": ran,
                "python": work["python"],
                "batches": batches,
            }
        )

    def metrics(self, bench, passes, resident_mb) -> dict:
        from tracing import tree_peak_rss_mb

        traced_warm = [
            s for p, s in zip((q for q in passes if q["traced"]), self.pass_stats)
            if p["pass"] > 0
        ]
        untraced = [p["wall_s"] for p in passes[1:] if not p["traced"]]
        traced = [p["wall_s"] for p in passes[1:] if p["traced"]]
        cores = bench.nproc

        def per_pass(f):
            return statistics.median(f(qs) for qs in traced_warm)

        def stage_sum(field, scale=1.0):
            return per_pass(
                lambda qs: sum(s[field] for q in qs for s in q["stage_rows"]) / scale
            )

        def q_sum(field):
            return per_pass(lambda qs: sum(q[field] for q in qs))

        def nonempty(qs):
            return [b for q in qs for b in q["batches"] if b["rows"] > 0]

        def batch_sum(field, scale=1.0):
            return per_pass(lambda qs: sum(b[field] for b in nonempty(qs)) / scale)

        def last_state(qs, field):
            # state size is a level, not a flow: the last batch of each stream
            last = {}
            for b in (b for q in qs for b in q["batches"]):
                last[b["query"]] = b[field]
            return sum(last.values())

        def rows_per_s(qs):
            t = sum(b["trigger_s"] for b in nonempty(qs))
            return sum(b["rows"] for b in nonempty(qs)) / t if t else 0.0

        def batch_p50(qs):
            ts = [b["trigger_s"] for b in nonempty(qs)]
            return statistics.median(ts) if ts else 0.0

        task_cpu = stage_sum("cpu_s")
        wall = q_sum("wall_s")
        s = bench.setup
        m = {
            "session.start_s": (s.get("session.start", 0.0), "s"),
            "session.peak_rss_mb": (tree_peak_rss_mb(), "MB"),
            "io.warm_s": (s.get("io.warm", 0.0), "s"),
            "io.landing_s": (s.get("io.landing", 0.0), "s"),
            "io.scan_rows": (stage_sum("in_rows"), "rows"),
            "io.scan_mb": (stage_sum("in_bytes", MB), "MB"),
            "io.write_rows": (stage_sum("out_rows"), "rows"),
            "io.write_mb": (stage_sum("out_bytes", MB), "MB"),
            "registry.build_s": (q_sum("build_s"), "s"),
            "registry.leaked_rdds": (bench.leaked, "count"),
            "registry.resident_checkpoints": (bench.resident_checkpoints, "count"),
            "registry.cache_resident_mb": (resident_mb, "MB"),
            "operators.plan_s": (q_sum("plan_s"), "s"),
            "operators.jobs": (q_sum("jobs"), "count"),
            "operators.stages": (q_sum("stages"), "count"),
            "operators.stages_skipped": (q_sum("stages_skipped"), "count"),
            "operators.tasks": (stage_sum("tasks"), "count"),
            "operators.residue_s": (q_sum("residue_s"), "s"),
            "operators.task_run_s": (stage_sum("run_s"), "s"),
            "operators.task_cpu_s": (task_cpu, "s"),
            "operators.cpu_util": (task_cpu / (wall * cores) if wall else 0.0, "fraction"),
            "operators.shuffle_read_mb": (stage_sum("shuffle_read", MB), "MB"),
            "operators.shuffle_write_mb": (stage_sum("shuffle_write", MB), "MB"),
            "operators.spill_mb": (stage_sum("spill", MB), "MB"),
            "operators.dedup.memo_warm_s": (s.get("operators.dedup.memo_warm", 0.0), "s"),
            "operators.scale.layout_s": (s.get("operators.scale.layout", 0.0), "s"),
            "functions.py_rows": (per_pass(lambda qs: sum(q["python"]["rows"] for q in qs)), "rows"),
            "functions.py_sent_mb": (per_pass(lambda qs: sum(q["python"]["sent"] for q in qs)) / MB, "MB"),
            "functions.py_recv_mb": (per_pass(lambda qs: sum(q["python"]["recv"] for q in qs)) / MB, "MB"),
            "streaming.batches": (per_pass(lambda qs: len(nonempty(qs))), "count"),
            "streaming.input_rows": (batch_sum("rows"), "rows"),
            "streaming.trigger_s": (batch_sum("trigger_s"), "s"),
            "streaming.add_batch_s": (batch_sum("add_batch_s"), "s"),
            "streaming.commit_s": (batch_sum("commit_s"), "s"),
            "streaming.state_rows": (per_pass(lambda qs: last_state(qs, "state_rows")), "rows"),
            "streaming.state_mb": (per_pass(lambda qs: last_state(qs, "state_bytes")) / MB, "MB"),
            "streaming.ingest_rows_per_s": (per_pass(rows_per_s), "rows/s"),
            "streaming.microbatch_p50_s": (per_pass(batch_p50), "s"),
            "plans.verify_s": (bench.verify_s, "s"),
            "plans.trace_overhead_s": (
                statistics.median(traced) - statistics.median(untraced), "s"),
        }
        return m


def _git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def _engine_digest() -> str:
    """Digest of the engine's source files: identifies the program in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "fintech_data_lake_as_code_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    sys.exit(main())
