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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Generated classes kept compiled per JVM. Spark's default (100) is below
# what one pass over the benchmark keys generates, so warm passes evicted
# and recompiled classes they had already compiled. One full bench.py run
# compiles 923 distinct classes (sf0.1, local[4]); 2000 keeps them all.
CODEGEN_CACHE_ENTRIES = 2000


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
        # r21 (guide §6): floor scan parallelism at the core budget. The
        # lake's inputs are byte-small but several consumers are
        # CPU-bound (stack/profile expressions, multi-way join probes),
        # and 128 MB splits hand a whole table to 1-3 tasks locally —
        # measured 0.84-0.92x on profile_columns / join_multiway /
        # agg_groupby with this floor. Parameterized by the same core
        # budget as shuffle.partitions (SPARK_GRAFT_CPUS locally,
        # executor cores on a cluster); at 100 TB every real scan
        # already exceeds the floor, so it is a local-small-file aid,
        # not a tuned constant.
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
    )
    return apply_engine_conf(builder).getOrCreate()
