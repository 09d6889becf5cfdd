"""SparkSession bootstrap.

The reference's "session" is its CDK stack synthesis (reference
lib/fin-transactions-stack.ts:17-219): declarative resource setup resolved
before any data moves. The Spark analog is the session builder: configs,
timezone, adaptive execution — declared once, used by every query.

Scale notes (100 TB / 1000-executor design stance):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast demotion/promotion replace hand-tuned physical plans.
- UTC session timezone: the reference lake's layout is UTC-hour-prefixed
  (Firehose default, reference lib/fin-transactions-stack.ts:196-199); all
  event-time semantics here are UTC so date_trunc/window results are stable
  across driver environments (and match the DuckDB oracle, which is TZ-naive).
- shuffle partitions default to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.
- Local sessions (`get_spark`) delay C2, HotSpot's optimizing JIT, to cut
  the compile cost of short-lived processes; cluster and driver sessions
  keep the JVM defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Generated classes kept compiled per JVM. Spark's default (100) is below
# what one pass over the benchmark keys generates, so warm passes evicted
# and recompiled classes they had already compiled. One full bench.py run
# compiles 923 distinct classes (sf0.1, local[4]); 2000 keeps them all.
CODEGEN_CACHE_ENTRIES = 2000


# HotSpot tier-4 (C2) compile thresholds at 5x JDK 17's defaults (5000 /
# 600 / 15000 / 40000), for the local driver JVM only. Most of a short
# local process's CPU is the JIT, not queries: in one perfbench
# lake_queries cold pass (sf0.01, 4 cores) the driver JVM used 26.3 CPU-s,
# of which the C2 threads took 12.9, executor tasks 3.8, C1 2.4 and GC
# 2.6, and warm passes still spent 4.2-5.7 CPU-s each in C2. C1 still
# compiles everything early, and C2 still reaches the hot executor loops;
# it stops spending a cold pass on lukewarm Catalyst, scheduler and
# Janino code. C1 only (-XX:TieredStopAtLevel=1) was rejected: it halved
# cold-pass CPU but raised warm-pass executor CPU 2.5x on sf0.1 curation
# keys. 10x cut more cold-pass CPU but raised executor CPU on sf0.1
# bench keys by up to 1.9x; 5x kept every key within 1.25x (1.12x in
# median over six paired runs). Long-lived cluster JVMs need C2 early, so
# `apply_engine_conf` leaves this out.
LOCAL_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_engine_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Engine configs, applicable to any builder (local test or cluster)."""
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Floor scan parallelism at the core budget. The lake's inputs
        # are byte-small but several consumers are CPU-bound
        # (stack/profile expressions, multi-way join probes), and 128 MB
        # splits hand a whole table to 1-3 tasks locally: measured
        # 0.84-0.92x on profile_columns / join_multiway / agg_groupby
        # with this floor. It uses the same core budget as
        # shuffle.partitions (SPARK_GRAFT_CPUS locally, executor cores on
        # a cluster); at 100 TB every real scan already exceeds the
        # floor, so it only aids small local files.
        .config("spark.sql.files.minPartitionNum", str(default_parallelism()))
        .config("spark.sql.shuffle.partitions", str(default_parallelism()))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    )


def get_spark(app_name: str = "fintech-data-lake-spark") -> SparkSession:
    """Local session for tests/bench; the driver passes its own session to
    `__spark_entry__` functions, which therefore never call this."""
    # Discover an on-disk protobuf runtime BEFORE the JVM starts: PYTHONPATH
    # set here is merged into every Python worker's environment, which is
    # what lets transformWithStateInPandas run its real state-server path
    # (see compat.py; sessions built elsewhere degrade gracefully).
    from .compat import ensure_protobuf

    ensure_protobuf()
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", LOCAL_DRIVER_JIT_OPTIONS)
    )
    return apply_engine_conf(builder).getOrCreate()
