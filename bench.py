#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a bulky
per-key detail JSON line followed by the compact driver-contract summary
as the LAST line (tail-capture-safe):
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes fully (noop sink — no driver-side collect) so the
measured time is scan+shuffle+compute, which is what scales to the cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Median of `_probe_cpu` on an idle local[32] sandbox (measured round 6).
# If the hardware profile changes, re-measure and update.
_CAL_REF_SEC = 0.18

# Median of `_probe_shuffle` (measured round 12). The CPU probe is pure
# codegen and blind to degraded shuffle/disk service; the ratio pair
# separates the cases: CPU flat + shuffle high => environment; both flat
# + one key moved => real regression.
_SHUF_REF_SEC = 0.79


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

# Headline-v2 (FROZEN round 8 — VERDICT r7 ask #7): the 14 operators
# added after the original headline set froze, timed the same way and
# summed into their OWN tracked total (`extras_total`) so a regression
# here moves a recorded aggregate, while the 22-query total stays
# comparable to BASELINE.md. Do not append here — new keys go in
# FRESH_KEYS below until the next freeze.
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
# Headline-v3 (FROZEN round 9 — VERDICT r8 ask #4): the round-8
# additions graduate out of FRESH into their own tracked total
# (`extras_v3_total`) so r10 regressions here move a recorded
# aggregate. Do not append — new keys go in FRESH_KEYS until the next
# freeze.
EXTRAS_V3 = [
    "stream_observe_metrics",
    "stream_python_datasource",
    "text_bpe_tokenize",
]
# Headline-v4 (FROZEN round 10 — VERDICT r9 ask #4): round 9's one
# sanctioned key graduates out of FRESH into its own tracked total
# (`extras_v4_total`). Its number is contract-verification-dominated
# (the registered query runs the ANN path PLUS the exact all-pairs form
# to grade recall) — expect it large but stable. Do not append — new
# keys go in FRESH_KEYS until the next freeze.
EXTRAS_V4 = [
    "sim_maxsim_ann",
]
# Headline-v5 (FROZEN round 12): round 10's one sanctioned key
# graduates out of FRESH into its own tracked total
# (`extras_v5_total`). Its number is micro-batch-dominated — four real
# foreachBatch probe+admit cycles per run — expect it large but stable.
# Do not append — new keys go in FRESH_KEYS until the next freeze.
EXTRAS_V5 = [
    "stream_dedup_incremental",
]
# Headline-v6 (FROZEN round 13): round 12's one sanctioned key
# graduates out of FRESH into its own tracked total
# (`extras_v6_total`). Scan-dominated (pyavro seed read back through
# the Python DataSource) — expect it small and stable. Do not append —
# new keys go in FRESH_KEYS until the next freeze.
EXTRAS_V6 = [
    "scan_avro",
]
# Rolling pool for keys added THIS round: timed and reported, not yet
# part of any frozen total (they graduate at the next freeze).
FRESH_KEYS: list[str] = []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warm the JVM / codegen / file-index paths so the first timed query
    # isn't charged session startup (we measure queries, not boot).
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
    # every dedup strategy out from them); warm ALL of them here so no
    # memo populates lazily inside a timed rep — the leak guard below
    # snapshots the sanctioned persistent-RDD set ONCE, so a mid-rep
    # memo would be unpersisted after rep 1 and silently recomputed
    # every later rep (ADVICE r14; r4's dedup_near_minhash 0.73->1.26 s
    # swing was the un-warmed variant of the same mistake). The registry
    # lives next to the memo dicts, so a new memo is warmed here without
    # this file changing.
    from fintech_data_lake_as_code_spark.operators.dedup import (
        warm_session_memos,
    )

    warm_session_memos(spark, sf_dir)
    # Seed the streaming landing zones untimed: a fingerprint-forced
    # reseed (io/dedup derivation change since the last seed) is a
    # one-time landing write that would otherwise land inside the first
    # timed run of whichever streaming key touches it first — the
    # r10 extras_v3 contamination suspect. Marker-guarded, so when the
    # seeds are current these cost one marker read each.
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

    # Noise calibration, timed before the headline loop: round-over-round
    # the probe's ratio to _CAL_REF_SEC separates sandbox load (uniform
    # inflation of everything, calibration included) from real
    # regressions (one query moves, calibration doesn't).
    # `calibration_ratio` ~1.0 means comparable conditions, and
    # `queries_normalized` rescales each median by the ratio.
    cal_sec = _probe_median(_probe_cpu, spark, 5)
    cal_ratio = round(cal_sec / _CAL_REF_SEC, 3)
    # Degraded-box retry (VERDICT r13 #5): two consecutive rounds were
    # recorded on shuffle-degraded boxes (pre-ratios 1.26, 1.39) and
    # every cross-round per-key comparison needed manual normalization.
    # When the pre-run shuffle probe exceeds the threshold, wait and
    # re-probe (transient co-tenant load often drains); the run proceeds
    # on the LAST probe either way, with the full attempt trail recorded
    # so a still-degraded run is self-describing in the artifact.
    SHUF_DEGRADED = 1.15
    shuf_sec = _probe_median(_probe_shuffle, spark, 5)
    shuf_ratio = round(shuf_sec / _SHUF_REF_SEC, 3)
    shuffle_attempts = [shuf_ratio]
    while shuf_ratio > SHUF_DEGRADED and len(shuffle_attempts) < 4:
        print(
            f"# shuffle probe degraded (ratio {shuf_ratio:.2f} > "
            f"{SHUF_DEGRADED}); waiting 20s and re-probing",
            file=sys.stderr,
        )
        time.sleep(20)
        shuf_sec = _probe_median(_probe_shuffle, spark, 5)
        shuf_ratio = round(shuf_sec / _SHUF_REF_SEC, 3)
        shuffle_attempts.append(shuf_ratio)
    print(
        f"# calibration: median {cal_sec:.3f}s (ref {_CAL_REF_SEC}s, "
        f"ratio {cal_ratio:.2f}); shuffle {shuf_sec:.3f}s "
        f"(ref {_SHUF_REF_SEC}s, ratio {shuf_ratio:.2f}, "
        f"attempts {shuffle_attempts})",
        file=sys.stderr,
    )

    # Cache-leak guard (VERDICT r13 #2): a timed median must never ride
    # CacheManager reuse of blocks a previous rep leaked — that is
    # exactly how r11 recorded 1.72 s for graph_triangle_count whose
    # honest cold cost is ~3.4 s, burning two rounds of adjudication.
    # Everything persisted by the untimed prelude above (the shared
    # shingle artifacts, bucketed-layout machinery) is SANCTIONED
    # session-lifetime reuse; any persistent RDD a timed rep leaves
    # behind beyond that set is dropped before the next rep starts and
    # the key is named in the summary's `cache_leaks`.
    def _persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    sanctioned = _persistent_ids()
    cache_leaks: dict[str, int] = {}
    resident_checkpoints: dict[str, int] = {}

    def _leak_guard(key: str) -> None:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in sanctioned:
                continue
            jrdd = jmap.get(k)
            # localCheckpoint blocks backing a RETURNED result (the CC/
            # PageRank loops' final round) are the result's own storage,
            # not a cache leak — dropped all the same (bounded storage,
            # and the next rep must not find them) but reported apart so
            # cache_leaks stays the pure alarm signal
            bucket = (
                resident_checkpoints
                if jrdd.rdd().isLocallyCheckpointed()
                else cache_leaks
            )
            jrdd.unpersist(False)
            bucket[key] = bucket.get(key, 0) + 1

    # Per-query MEDIAN of N_RUNS runs: single-shot timings on this box swing
    # +/-30% with background load; medians are what regressions are graded
    # against. Total = sum of medians.
    N_RUNS = 3

    # One cheap shuffle probe per block (VERDICT r14 #6): the late
    # blocks are where mid-run service degradation lands (the r14
    # v5/v4 numbers were exactly this), and a run-wide pre/post pair
    # can't localize WHICH block ran degraded. Median of 3 quick reps,
    # not the run-wide median-of-5 — it contextualizes the block while
    # the run-wide pair stays the signal. (r15/r16 ran this single-shot
    # and the `extra` block read ~1.9 on two otherwise-clean days while
    # idle single shots spread 0.89–1.2 s — a one-GC-pause artifact the
    # median suppresses; ~2 s extra untimed cost per block.)
    block_shuffle: dict[str, float] = {}
    # Per-block CPU ratios (round 18): adjudication rules key off blocks
    # "clean on BOTH probe axes" (the triangle reopen rule), but until
    # now only SHUFFLE was probed per-block — CPU had just the run-wide
    # pre/post pair, so a mid-run CPU squeeze (r18 run 3: pre 0.683,
    # post 1.294) could not be pinned to the block it actually hit.
    # Same median-of-3 discipline; ~0.5 s untimed cost per block.
    block_cpu: dict[str, float] = {}

    def _time_block(keys: list[str], tag: str) -> dict[str, float]:
        out: dict[str, float] = {}
        if keys:
            shuf = _probe_median(_probe_shuffle, spark, 3)
            block_shuffle[tag] = round(shuf / _SHUF_REF_SEC, 3)
            cpu = _probe_median(_probe_cpu, spark, 3)
            block_cpu[tag] = round(cpu / _CAL_REF_SEC, 3)
        for key in keys:
            fn = queries.get(key)
            if fn is None:
                continue
            runs = []
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                runs.append(time.perf_counter() - t0)
                _leak_guard(key)
            out[key] = round(sorted(runs)[len(runs) // 2], 3)
            print(
                f"# {tag} {key}: median {out[key]:.3f}s of "
                + "/".join(f"{r:.3f}" for r in runs),
                file=sys.stderr,
            )
        return out

    # The headline block rides the SAME per-block probe path as the
    # extras (ADVICE r18): until r19 the headline keys were timed by a
    # separate loop that block_shuffle_ratios/block_cpu_ratios never
    # covered, so BASELINE.md's per-block adjudication of headline
    # readings had to be inferred from the run-wide pre-cal alone.
    timings = _time_block(HEADLINE, "headline")
    total = round(sum(timings.values()), 3)

    extras = _time_block(EXTRAS, "extra")
    extras_total = round(sum(extras.values()), 3)
    extras_v3 = _time_block(EXTRAS_V3, "extra-v3")
    extras_v3_total = round(sum(extras_v3.values()), 3)
    extras_v4 = _time_block(EXTRAS_V4, "extra-v4")
    extras_v4_total = round(sum(extras_v4.values()), 3)
    extras_v5 = _time_block(EXTRAS_V5, "extra-v5")
    extras_v5_total = round(sum(extras_v5.values()), 3)
    extras_v6 = _time_block(EXTRAS_V6, "extra-v6")
    extras_v6_total = round(sum(extras_v6.values()), 3)
    fresh = _time_block(FRESH_KEYS, "fresh")

    # Re-probe AFTER the timed loops: background load arriving mid-run
    # inflates late queries while the start-of-run probe shows an idle
    # box (observed in round 8: last headline keys +2x while early keys
    # were flat). A post-ratio far above the pre-ratio marks the run as
    # load-contaminated; normalization stays on the PRE ratio for
    # cross-round comparability.
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
            "extras": extras,
            "extras_total_normalized": round(extras_total / cal_ratio, 3),
            "extras_v3": extras_v3,
            "extras_v4": extras_v4,
            "extras_v5": extras_v5,
            "extras_v6": extras_v6,
            "fresh": fresh,
            # per-key normalized extras (VERDICT r13 #5): cross-round
            # per-key comparison on a loaded box previously required
            # hand-dividing each raw value; same CPU-ratio normalization
            # as queries_normalized (shuffle-degradation remains visible
            # via the shuffle ratios — normalize by those judiciously,
            # they are I/O-specific)
            "extras_normalized": {
                blk: {k: round(v / cal_ratio, 3) for k, v in vals.items()}
                for blk, vals in (
                    ("v2", extras),
                    ("v3", extras_v3),
                    ("v4", extras_v4),
                    ("v5", extras_v5),
                    ("v6", extras_v6),
                    ("fresh", fresh),
                )
            },
            "shuffle_probe_attempts": shuffle_attempts,
            "block_shuffle_ratios": block_shuffle,
            "block_cpu_ratios": block_cpu,
            "cache_leaks": cache_leaks,
            "resident_checkpoints_dropped": resident_checkpoints,
        }
    }
    summary = build_summary(
        sf,
        timings,
        total,
        cal_ratio,
        extras_total,
        extras_v3_total,
        extras_v4_total,
        extras_v5_total,
        fresh,
        cal_post_ratio,
        shuf_ratio,
        shuf_post_ratio,
        extras_v6_total,
        cache_leaks=cache_leaks,
        shuffle_probe_retries=len(shuffle_attempts) - 1,
    )
    # The driver keeps only the TAIL of stdout, so a single giant JSON
    # line loses its head — exactly what nulled BENCH_r08's "value"
    # (VERDICT r8 #3). Emit the bulky per-key detail FIRST (its loss is
    # tolerable), then the compact driver-contract summary as the LAST,
    # short line: a tail capture always keeps line ends, so the summary
    # survives intact and stays parseable.
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
    shuffle_probe_retries: int | None = None,
) -> dict:
    """The compact driver-contract result: everything the per-round
    BENCH artifact must retain, and nothing bulky. Must stay within
    SUMMARY_LINE_BUDGET when JSON-encoded (test-pinned) so the driver's
    tail capture can never truncate the headline value again.

    `calibration_post_ratio` is the end-of-run load probe: when it sits
    far above `calibration_ratio`, background load arrived mid-run and
    the LATE blocks (extras_v3/v4, fresh) are inflated while the early
    headline stays flat — the exact r10 signature. It must live in the
    summary, not the detail line, because the detail's head is what the
    driver's tail capture truncates (r10's post-ratio was lost that
    way, which is why the r10 extras regression took a round to
    adjudicate)."""
    out = {
        "metric": "headline_queries_wall_clock",
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
    # a "uniform shuffle-key inflation, flat CPU probe" round is
    # adjudicable from the artifact alone (environment, not regression)
    if shuffle_ratio is not None:
        out["calibration_shuffle_ratio"] = shuffle_ratio
    if shuffle_post_ratio is not None:
        out["calibration_shuffle_post_ratio"] = shuffle_post_ratio
    # cache_leaks (VERDICT r13 #2): keys whose timed reps left persistent
    # RDDs behind (count of dropped RDDs per key) — nonempty means those
    # medians were guarded against CacheManager reuse but the operator
    # has a release bug to fix. MUST be {} on a healthy run.
    if cache_leaks is not None:
        out["cache_leaks"] = cache_leaks
    # >0 means the pre-run shuffle probe was degraded and the run waited
    # and re-probed (VERDICT r13 #5); the final ratio above is what the
    # run proceeded on.
    if shuffle_probe_retries:
        out["shuffle_probe_retries"] = shuffle_probe_retries
    return out


if __name__ == "__main__":
    main()
