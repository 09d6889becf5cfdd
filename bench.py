#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a bulky
per-key detail JSON line followed by the compact driver-contract summary
as the LAST line (tail-capture-safe):
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes fully (noop sink — no driver-side collect) so the
measured time is scan+shuffle+compute, which is what scales to the cluster.

`python bench.py --keys k1,k2` times exactly those keys as one block,
through the same prelude, probes, leak guard and median of 3; the
summary's `metric` names the subset. Every timed key gets a profile in
the detail line's `profiles`, read from the status store (UI off) after
its reps, outside the timed region: see `profile`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Median of `_probe_cpu` on an idle local[32] sandbox. If the hardware
# profile changes, re-measure and update.
_CAL_REF_SEC = 0.18

# Median of `_probe_shuffle` on the same sandbox. The CPU probe is pure
# codegen and blind to degraded shuffle/disk service; the ratio pair
# separates the cases: CPU flat + shuffle high => environment; both flat
# + one key moved => real regression.
_SHUF_REF_SEC = 0.79

MB = 1024 * 1024


def _probe_cpu(spark) -> float:
    """Seconds for one IO-free, pure-codegen job (range(2e8) two-sum): its
    time depends only on the CPU the box has free, never on engine code."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(id % 7)", "sum(id * 3 + 1)"
    ).collect()
    return time.perf_counter() - t0


def _probe_shuffle(spark) -> float:
    """Seconds for one full shuffle write+fetch cycle (64 map x 64 reduce
    over 20M longs): the shuffle-file service the CPU probe can't see."""
    t0 = time.perf_counter()
    spark.range(20_000_000).repartition(64, "id").selectExpr(
        "sum(id)"
    ).collect()
    return time.perf_counter() - t0


def _probe_median(probe, spark, reps: int) -> float:
    """Median of `reps` runs of `probe`, in seconds rounded to the ms."""
    return round(sorted(probe(spark) for _ in range(reps))[reps // 2], 3)


# Headline set: one representative per heavy operator family; extended as
# families land. Order: cheap scan first (warms the JVM/code paths).
HEADLINE = [
    "scan_parquet",
    "agg_groupby",
    "agg_rollup_cube_gsets",
    "agg_maxby_latest",
    "join_multiway",
    "join_bucketed_colocated",
    "join_skew_salted",
    "join_asof_backward",
    "join_range_banded",
    "cdc_incremental_agg",
    "topk_per_group",
    "win_running_frame",
    "win_range_interval",
    "rule_b1_city_hop",
    "rule_b3_overdraft_freeze",
    "udf_vectorized_agg",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_incremental",
    "dedup_cluster_cc",
    "sim_topk_cosine",
    "text_stats",
]

# Frozen extras blocks: operators added after the headline set froze,
# timed the same way, each summed into its OWN tracked total
# (`extras_total`, `extras_v3_total`, ...) so a regression there moves a
# recorded aggregate while the 22-key headline total stays comparable
# across runs. Do not append to a frozen block: new keys go in FRESH_KEYS
# until the next freeze.
EXTRAS = [
    "text_decontaminate",
    "dedup_containment",
    "agg_retention_cohort",
    "profile_columns",
    "sample_weighted_priority",
    "dedup_paragraph",
    "subquery_family",
    "sim_topk_ivf_kmeans",
    "sample_temperature_mix",
    "win_anomaly_zscore",
    "text_repetition_gopher",
    "graph_triangle_count",
    "win_ewma",
    "dedup_semantic_cluster",
]
EXTRAS_V3 = [
    "stream_observe_metrics",
    "stream_python_datasource",
    "text_bpe_tokenize",
]
# Contract-verification-dominated: the registered query runs the ANN path
# PLUS the exact all-pairs form to grade recall — large but stable.
EXTRAS_V4 = [
    "sim_maxsim_ann",
]
# Micro-batch-dominated: four real foreachBatch probe+admit cycles per
# run — large but stable.
EXTRAS_V5 = [
    "stream_dedup_incremental",
]
# Scan-dominated: the pyavro seed read back through the Python DataSource.
EXTRAS_V6 = [
    "scan_avro",
]
# Rolling pool for newly added keys: timed and reported, not yet part of
# any frozen total (they graduate at the next freeze).
FRESH_KEYS: list[str] = []

# Timed blocks in run order: (probe tag, keys).
BLOCKS = (
    ("headline", HEADLINE), ("extra", EXTRAS), ("extra-v3", EXTRAS_V3),
    ("extra-v4", EXTRAS_V4), ("extra-v5", EXTRAS_V5),
    ("extra-v6", EXTRAS_V6), ("fresh", FRESH_KEYS),
)

# Per-query MEDIAN of N_RUNS runs: single-shot timings on this box swing
# +/-30% with background load; medians are what regressions are graded
# against. Total = sum of medians.
N_RUNS = 3


def prelude(spark, sf_dir: str, queries) -> None:
    """Untimed warm-up, so the first timed query isn't charged session
    start-up and no one-time cost lands inside a timed rep."""
    # JVM / codegen / file-index paths
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    # Pre-spawn the Arrow Python workers (one per core, reused afterwards via
    # spark.python.worker.reuse): otherwise the first Pandas-UDF query is
    # charged ~1-2 s of interpreter fork+import instead of its own work.
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    cores = spark.sparkContext.defaultParallelism
    # sum() over the UDF output forces evaluation — a bare count() would
    # let the optimizer prune the UDF and spawn no workers at all
    spark.range(cores * 4).repartition(cores).select(
        _warm("id").alias("v")
    ).agg({"v": "sum"}).collect()
    # Warm the page cache of every headline input once — steady-state scans
    # are what a resident lake serves. hash(*) touches every column so the
    # scan decompresses real data pages (count() alone answers from footer
    # metadata and warms nothing). io.load, not raw spark.read:
    # events.parquet is TIMESTAMP(NANOS) and needs the loader's handling.
    from fintech_data_lake_as_code_spark.io import load

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, sf_dir, t).selectExpr("sum(hash(*))").collect()
    # The bucketed lake layout is a WRITE-ONCE cost amortized over every
    # future co-located join (that is the whole point of bucketing); build
    # it outside the timing loop so the bench measures the recurring query
    # cost, not the one-time layout migration.
    from fintech_data_lake_as_code_spark.operators.scale import _bucketed_table

    _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    # The shared shingle index and its sibling memos are one-time
    # derived artifacts (dedup.py::_SESSION_MEMOS: materialize once, fan
    # every dedup strategy out from them). Warm ALL of them before the
    # leak guard snapshots the sanctioned persistent-RDD set: a memo that
    # populated inside a timed rep would be unpersisted after rep 1 and
    # silently recomputed every later rep. The registry lives next to the
    # memo dicts, so a new memo is warmed here without this file changing.
    from fintech_data_lake_as_code_spark.operators.dedup import (
        warm_session_memos,
    )

    warm_session_memos(spark, sf_dir)
    # Seed the streaming landing zones untimed: a fingerprint-forced
    # reseed (io/dedup derivation change since the last seed) is a
    # one-time landing write that would otherwise land inside the first
    # timed run of whichever streaming key touches it first.
    # Marker-guarded, so when the seeds are current these cost one marker
    # read each.
    from fintech_data_lake_as_code_spark.streaming.queries import (
        _docs_json_dir,
        _events_json_dir,
    )

    _events_json_dir(spark, sf_dir)
    _docs_json_dir(spark, sf_dir)
    # One untimed pass of the iterative CC query: its first invocation
    # pays whole-stage-codegen compilation for the per-round loop plans
    # and the localCheckpoint machinery (observed 2x the steady-state
    # median); the timed reps then measure the recurring cost.
    queries["dedup_cluster_cc"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()


class LeakGuard:
    """A timed median must never ride CacheManager reuse of blocks a
    previous rep leaked. Everything persisted when the guard is made (the
    prelude's shared memos, bucketed-layout machinery) is SANCTIONED
    session-lifetime reuse; any persistent RDD a timed rep leaves behind
    beyond that set is dropped before the next rep starts and the key is
    named in the summary's `cache_leaks`."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        self.sanctioned = {int(k) for k in jmap.keySet().toArray()}
        self.cache_leaks: dict[str, int] = {}
        self.resident_checkpoints: dict[str, int] = {}

    def __call__(self, key: str) -> None:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in self.sanctioned:
                continue
            jrdd = jmap.get(k)
            # localCheckpoint blocks backing a RETURNED result (the CC/
            # PageRank loops' final round) are the result's own storage,
            # not a cache leak — dropped all the same (bounded storage,
            # and the next rep must not find them) but reported apart so
            # cache_leaks stays the pure alarm signal
            bucket = (
                self.resident_checkpoints
                if jrdd.rdd().isLocallyCheckpointed()
                else self.cache_leaks
            )
            jrdd.unpersist(False)
            bucket[key] = bucket.get(key, 0) + 1


def time_key(spark, sf_dir: str, key: str, fn, guard, reader):
    """N_RUNS timed noop-sink runs of one key -> (run seconds, profile).
    `reader` is a perfbench.tracing.StatusReader positioned at this key's
    first job; it is read once, after the reps."""
    runs, builds, windows = [], [], []
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        runs.append(t2 - t0)
        builds.append(t1 - t0)
        windows.append((t0, t1, t2))
        guard(key)
    return runs, profile(reader.new_work(), runs, builds, windows)


def profile(work: dict, runs, builds, windows) -> dict:
    """Where one key's time went, from the status store's record of its
    reps (`StatusReader.new_work()`). Counters are per-rep means; `build_s`
    is the median time of `fn(spark, sf_dir)` (eager jobs such as fits and
    memo reads run there); `residue_s` is the write's wall time minus the
    union of its stage spans: planning, scheduling, AQE re-plans and
    driver round-trips. `top_stages` are the median rep's three heaviest
    stages by executor run time."""
    from perfbench.tracing import union_seconds

    n = len(runs)
    ran = [s for s in work["stages"] if not s["skipped"]]
    spans = [(s["start"], s["end"]) for s in ran if s["start"] and s["end"]]
    to_epoch = time.time() - time.perf_counter()
    residue = sum(
        t2 - t1 - union_seconds(spans, t1 + to_epoch, t2 + to_epoch)
        for _, t1, t2 in windows
    )
    t0, _, t2 = windows[sorted(range(n), key=runs.__getitem__)[n // 2]]
    median_rep = [  # stage submission times are whole milliseconds
        s for s in ran
        if s["start"] and t0 + to_epoch - 0.001 <= s["start"] <= t2 + to_epoch
    ]

    def mean(total: float, digits: int = 3) -> float:
        return round(total / n, digits)

    def stage_sum(field: str, scale: float = 1.0) -> float:
        return sum(s[field] for s in ran) / scale

    return {
        "build_s": round(sorted(builds)[n // 2], 3),
        "jobs": mean(len(work["jobs"]), 1),
        "stages": mean(len(ran), 1),
        "stages_skipped": mean(len(work["stages"]) - len(ran), 1),
        "tasks": mean(stage_sum("tasks"), 1),
        "task_run_s": mean(stage_sum("run_s")),
        "task_cpu_s": mean(stage_sum("cpu_s")),
        "shuffle_read_mb": mean(stage_sum("shuffle_read", MB)),
        "shuffle_write_mb": mean(stage_sum("shuffle_write", MB)),
        "spill_mb": mean(stage_sum("spill", MB)),
        "residue_s": mean(max(0.0, residue)),
        "top_stages": [
            {"stage": s["id"], "tasks": s["tasks"],
             "run_s": round(s["run_s"], 3), "cpu_s": round(s["cpu_s"], 3),
             "shuffle_read_mb": round(s["shuffle_read"] / MB, 3),
             "shuffle_write_mb": round(s["shuffle_write"] / MB, 3)}
            for s in sorted(median_rep, key=lambda s: -s["run_s"])[:3]
        ],
    }


def _parse_keys(argv) -> list[str]:
    """`--keys k1,k2` -> the keys, checked against the registry before any
    session starts; no flag -> [] (the full frozen-block run)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--keys", default="", help="time only these keys")
    keys = [k for k in ap.parse_args(argv).keys.split(",") if k]
    if keys:
        from fintech_data_lake_as_code_spark.registry import all_queries

        unknown = [k for k in keys if k not in all_queries()]
        if unknown:
            ap.error(f"unknown keys: {','.join(unknown)}")
    return keys


def main(argv=None) -> None:
    keys = _parse_keys(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark
    from perfbench.tracing import StatusReader

    spark = get_spark("fintech-data-lake-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    prelude(spark, sf_dir, queries)

    # Noise calibration, timed before the timed blocks: the probe's ratio
    # to _CAL_REF_SEC separates sandbox load (uniform inflation of
    # everything, calibration included) from real regressions (one query
    # moves, calibration doesn't). `calibration_ratio` ~1.0 means
    # comparable conditions, and `queries_normalized` rescales each median
    # by the ratio.
    cal_sec = _probe_median(_probe_cpu, spark, 5)
    cal_ratio = round(cal_sec / _CAL_REF_SEC, 3)
    shuf_sec = _probe_median(_probe_shuffle, spark, 5)
    shuf_ratio = round(shuf_sec / _SHUF_REF_SEC, 3)
    print(
        f"# calibration: median {cal_sec:.3f}s (ref {_CAL_REF_SEC}s, "
        f"ratio {cal_ratio:.2f}); shuffle {shuf_sec:.3f}s "
        f"(ref {_SHUF_REF_SEC}s, ratio {shuf_ratio:.2f})",
        file=sys.stderr,
    )

    guard = LeakGuard(spark)
    reader = StatusReader(spark)
    # One cheap probe pair per block: the late blocks are where mid-run
    # CPU squeezes and shuffle-service degradation land, and a run-wide
    # pre/post pair can't localize WHICH block ran degraded. Median of 3
    # quick reps (a single shot reads one GC pause as degradation), not
    # the run-wide median-of-5 — it contextualizes the block while the
    # run-wide pair stays the signal.
    block_shuffle: dict[str, float] = {}
    block_cpu: dict[str, float] = {}
    profiles: dict[str, dict] = {}

    def _time_block(block: list[str], tag: str) -> dict[str, float]:
        out: dict[str, float] = {}
        if block:
            shuf = _probe_median(_probe_shuffle, spark, 3)
            block_shuffle[tag] = round(shuf / _SHUF_REF_SEC, 3)
            cpu = _probe_median(_probe_cpu, spark, 3)
            block_cpu[tag] = round(cpu / _CAL_REF_SEC, 3)
            reader.new_work()  # the probes' jobs are no key's
        for key in block:
            fn = queries.get(key)
            if fn is None:
                continue
            runs, profiles[key] = time_key(spark, sf_dir, key, fn, guard, reader)
            out[key] = round(sorted(runs)[len(runs) // 2], 3)
            print(
                f"# {tag} {key}: median {out[key]:.3f}s of "
                + "/".join(f"{r:.3f}" for r in runs),
                file=sys.stderr,
            )
        return out

    # A --keys subset runs as the one block, under its own tag; the
    # frozen blocks then read empty.
    timed = {tag: {} for tag, _ in BLOCKS}
    for tag, block in (("keys", keys),) if keys else BLOCKS:
        timed[tag] = _time_block(block, tag)
    tot = {tag: round(sum(vals.values()), 3) for tag, vals in timed.items()}
    timings = timed["keys" if keys else "headline"]

    # Re-probe AFTER the timed loops: background load arriving mid-run
    # inflates late queries while the start-of-run probe shows an idle
    # box. A post-ratio far above the pre-ratio marks the run as
    # load-contaminated; normalization stays on the PRE ratio so runs
    # stay comparable.
    cal_post_sec = _probe_median(_probe_cpu, spark, 5)
    cal_post_ratio = round(cal_post_sec / _CAL_REF_SEC, 3)
    shuf_post_sec = _probe_median(_probe_shuffle, spark, 5)
    shuf_post_ratio = round(shuf_post_sec / _SHUF_REF_SEC, 3)
    print(
        f"# calibration (post): median {cal_post_sec:.3f}s "
        f"(ratio {cal_post_ratio:.2f}); shuffle {shuf_post_sec:.3f}s "
        f"(ratio {shuf_post_ratio:.2f})",
        file=sys.stderr,
    )

    sf_name = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf = float(sf_name)
    except ValueError:
        sf = sf_name
    detail = {
        "detail": {
            "calibration": {
                # the ratios read against the core count they ran on
                "cores": spark.sparkContext.defaultParallelism,
                "probe": "range(2e8) two-sum codegen, median of 5",
                "sec": cal_sec,
                "ref_sec": _CAL_REF_SEC,
                "ratio": cal_ratio,
                "post_sec": cal_post_sec,
                "post_ratio": cal_post_ratio,
                "shuffle_probe": "range(2e7) 64-part repartition sum,"
                " median of 5",
                "shuffle_sec": shuf_sec,
                "shuffle_ref_sec": _SHUF_REF_SEC,
                "shuffle_ratio": shuf_ratio,
                "shuffle_post_sec": shuf_post_sec,
                "shuffle_post_ratio": shuf_post_ratio,
            },
            "queries_normalized": {
                k: round(v / cal_ratio, 3) for k, v in timings.items()
            },
            "extras": timed["extra"],
            "extras_total_normalized": round(tot["extra"] / cal_ratio, 3),
            "extras_v3": timed["extra-v3"],
            "extras_v4": timed["extra-v4"],
            "extras_v5": timed["extra-v5"],
            "extras_v6": timed["extra-v6"],
            "fresh": timed["fresh"],
            # per-key normalized extras: the same CPU-ratio normalization
            # as queries_normalized (shuffle degradation stays visible
            # via the shuffle ratios — normalize by those judiciously,
            # they are I/O-specific)
            "extras_normalized": {
                blk: {k: round(v / cal_ratio, 3) for k, v in vals.items()}
                for blk, vals in (
                    ("v2", timed["extra"]),
                    ("v3", timed["extra-v3"]),
                    ("v4", timed["extra-v4"]),
                    ("v5", timed["extra-v5"]),
                    ("v6", timed["extra-v6"]),
                    ("fresh", timed["fresh"]),
                )
            },
            "block_shuffle_ratios": block_shuffle,
            "block_cpu_ratios": block_cpu,
            "cache_leaks": guard.cache_leaks,
            "resident_checkpoints_dropped": guard.resident_checkpoints,
            "profiles": profiles,
        }
    }
    summary = build_summary(
        sf, timings, round(sum(timings.values()), 3), cal_ratio, tot["extra"],
        tot["extra-v3"], tot["extra-v4"], tot["extra-v5"], timed["fresh"],
        cal_post_ratio, shuf_ratio, shuf_post_ratio, tot["extra-v6"],
        cache_leaks=guard.cache_leaks,
        metric=f"keys_wall_clock:{','.join(keys)}" if keys else None,
    )
    # The driver keeps only the TAIL of stdout, so a single giant JSON
    # line would lose its head. Emit the bulky per-key detail FIRST (its
    # loss is tolerable), then the compact driver-contract summary as the
    # LAST, short line: a tail capture always keeps line ends, so the
    # summary survives intact and stays parseable.
    print(json.dumps(detail))
    print(json.dumps(summary))
    spark.stop()


# Conservative bound on the driver's tail capture; the real window is
# larger, but the summary has no business growing anywhere near it —
# tests/test_fixtures_contract.py pins this with the full headline set.
SUMMARY_LINE_BUDGET = 4096


def build_summary(
    sf,
    timings: dict[str, float],
    total: float,
    cal_ratio: float,
    extras_total: float,
    extras_v3_total: float,
    extras_v4_total: float,
    extras_v5_total: float,
    fresh: dict[str, float],
    cal_post_ratio: float | None = None,
    shuffle_ratio: float | None = None,
    shuffle_post_ratio: float | None = None,
    extras_v6_total: float | None = None,
    cache_leaks: dict[str, int] | None = None,
    metric: str | None = None,
) -> dict:
    """The compact driver-contract result: everything the BENCH
    artifact must retain, and nothing bulky. Must stay within
    SUMMARY_LINE_BUDGET when JSON-encoded (test-pinned) so the driver's
    tail capture can never truncate the headline value.

    `calibration_post_ratio` is the end-of-run load probe: when it sits
    far above `calibration_ratio`, background load arrived mid-run and
    the LATE blocks (extras_v3/v4, fresh) are inflated while the early
    headline stays flat. It must live in the summary, not the detail
    line, because the detail's head is what the driver's tail capture
    truncates.

    `metric` names a `--keys` subset run, so its total is never read as
    the headline total."""
    out = {
        "metric": metric or "headline_queries_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "value_normalized": round(total / cal_ratio, 3),
        "calibration_ratio": cal_ratio,
        "extras_total": extras_total,
        "extras_v3_total": extras_v3_total,
        "extras_v4_total": extras_v4_total,
        "extras_v5_total": extras_v5_total,
        "fresh_total": round(sum(fresh.values()), 3),
    }
    if extras_v6_total is not None:
        out["extras_v6_total"] = extras_v6_total
    if cal_post_ratio is not None:
        out["calibration_post_ratio"] = cal_post_ratio
    # shuffle-service ratios (pre/post): the CPU ratios above are blind
    # to degraded shuffle/disk I/O — these ride the tail-safe summary so
    # a "uniform shuffle-key inflation, flat CPU probe" run is
    # adjudicable from the artifact alone (environment, not regression)
    if shuffle_ratio is not None:
        out["calibration_shuffle_ratio"] = shuffle_ratio
    if shuffle_post_ratio is not None:
        out["calibration_shuffle_post_ratio"] = shuffle_post_ratio
    # cache_leaks: keys whose timed reps left persistent
    # RDDs behind (count of dropped RDDs per key) — nonempty means those
    # medians were guarded against CacheManager reuse but the operator
    # has a release bug to fix. MUST be {} on a healthy run.
    if cache_leaks is not None:
        out["cache_leaks"] = cache_leaks
    return out


if __name__ == "__main__":
    main()
