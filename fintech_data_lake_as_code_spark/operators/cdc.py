"""CDC changelog operators (SURVEY.md §2.A A2/A4/A11).

The reference's core dataflow is change-data-capture: Aurora binlog ROW
events -> DMS JSON envelopes ({data, metadata{operation, transaction-id,
timestamp, ...}}, per messageFormat JSON at lib/fin-transactions-stack.ts:135)
-> Kinesis -> Firehose -> S3. The OLTP table keeps <=1 row per user
(PRIMARY KEY user_id, setupTables.py:58) while `ts ... ON UPDATE
CURRENT_TIMESTAMP` (setupTables.py:57) rewrites event time on update — so
latest-state = max-ts row per key, and the lake is the append-only history.

Batch forms live here (envelope encode/decode, latest-state
materialization honoring deletes, at-least-once dedupe); the streaming
forms are in streaming/queries.py; the full synthetic
changelog round-trip is exercised in tests/test_cdc.py.

Scale notes: latest-state uses max_by (one shuffle, no sort); dedupe is a
hash aggregate on the transaction id — both partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load
from ..registry import query

# DMS->Kinesis JSON envelope schema (public AWS DMS format; FIXTURES.md §3).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                    T.StructField("ts_epoch", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("operation", T.StringType()),
                    T.StructField("schema-name", T.StringType()),
                    T.StructField("table-name", T.StringType()),
                    T.StructField("transaction-id", T.LongType()),
                ]
            ),
        ),
    ]
)


def _operation(k: Column) -> Column:
    """Deterministic op mix from props.k: ~10% delete, ~30% update,
    ~60% insert (FIXTURES.md §3 interleaving)."""
    m = k % 10
    return (
        F.when(m == 0, "delete").when(m <= 3, "update").otherwise("insert")
    )


_OPERATION_SQL = """
    CASE WHEN CAST(props->>'$.k' AS INT) % 10 = 0 THEN 'delete'
         WHEN CAST(props->>'$.k' AS INT) % 10 <= 3 THEN 'update'
         ELSE 'insert' END
"""


def _latest_state(df: DataFrame, *fields: Column) -> DataFrame:
    """Latest row per user — the one reduce every CDC consumer builds on.

    max_by over (ts, event_id) keyed on user_id (one shuffle, no sort;
    partial-aggregated map-side), projected to the given PRE-ALIASED
    columns plus user_id. Shared by cdc_merge_upsert, incremental_agg
    and cdc_snapshot_diff, which differ only in which attributes of the
    winning row they carry."""
    picked = F.max_by(F.struct(*fields), F.struct("ts", "event_id"))
    return df.groupBy("user_id").agg(picked.alias("s")).select("user_id", "s.*")


@query(
    "cdc_envelope_roundtrip",
    oracle=f"""
    SELECT event_id,
           user_id,
           event_type,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch,
           {_OPERATION_SQL} AS operation,
           'workshopDb' AS schema_name,
           'customeractivity' AS table_name,
           event_id AS transaction_id
    FROM events
    WHERE event_id % 3 = 0
    """,
)
def cdc_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4: encode rows into DMS JSON envelopes (to_json) then parse them
    back (from_json) and flatten. The oracle is the identity projection —
    so the comparison IS the round-trip proof."""
    ev = load(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    k = F.get_json_object("props", "$.k").cast("int")
    envelope = F.to_json(
        F.named_struct(
            F.lit("data"),
            F.named_struct(
                F.lit("user_id"), F.col("user_id"),
                F.lit("event_type"), F.col("event_type"),
                F.lit("value"), F.col("value"),
                F.lit("ts_epoch"), F.unix_timestamp("ts"),
            ),
            F.lit("metadata"),
            F.named_struct(
                F.lit("operation"), _operation(k),
                F.lit("schema-name"), F.lit("workshopDb"),
                F.lit("table-name"), F.lit("customeractivity"),
                F.lit("transaction-id"), F.col("event_id"),
            ),
        )
    )
    parsed = ev.select(
        "event_id", F.from_json(envelope, ENVELOPE_SCHEMA).alias("env")
    )
    return parsed.select(
        "event_id",
        F.col("env.data.user_id").alias("user_id"),
        F.col("env.data.event_type").alias("event_type"),
        F.col("env.data.ts_epoch").alias("ts_epoch"),
        F.col("env.metadata.operation").alias("operation"),
        F.col("env.metadata.schema-name").alias("schema_name"),
        F.col("env.metadata.table-name").alias("table_name"),
        F.col("env.metadata.transaction-id").alias("transaction_id"),
    )


@query(
    "cdc_latest_state",
    oracle=f"""
    WITH changelog AS (
      SELECT user_id, event_type, value, ts, event_id,
             {_OPERATION_SQL} AS operation
      FROM events
    ), ranked AS (
      SELECT user_id, event_type, value, ts, operation,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM changelog
    )
    SELECT user_id,
           event_type AS last_type,
           round(value, 2) AS last_value,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS last_ts_epoch
    FROM ranked WHERE rn = 1 AND operation <> 'delete'
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: changelog -> current-state materialization. The OLTP table the
    lake was fed from holds exactly the max-ts row per user
    (setupTables.py:57-58); a trailing delete removes the key. max_by over
    (ts, event_id) — one shuffle, no per-partition sort."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    changelog = ev.withColumn("operation", _operation(k))
    # payload projections commute with max_by (the comparator is the
    # separate (ts, event_id) struct), so the per-row round/epoch can
    # ride inside the shared reduce
    return (
        _latest_state(
            changelog,
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            F.unix_timestamp("ts").alias("last_ts_epoch"),
            F.col("operation").alias("operation"),
        )
        .where(F.col("operation") != "delete")
        .select("user_id", "last_type", "last_value", "last_ts_epoch")
    )


@query(
    "cdc_dedupe_batch",
    oracle="""
    WITH with_dupes AS (
      SELECT event_id, user_id, value FROM events
      UNION ALL
      SELECT event_id, user_id, value FROM events WHERE event_id % 7 = 0
    )
    SELECT COUNT(*) AS n_delivered,
           COUNT(DISTINCT event_id) AS n_unique,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS delivered_value_sum
    FROM with_dupes
    """,
)
def cdc_dedupe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 at-least-once semantics: the stream can redeliver (same
    transaction-id); downstream must count uniques. Injects ~14% duplicates,
    then measures delivered vs unique (the streaming dedupe is
    stream_dedupe)."""
    from ..functions.exact import exact_sum

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dupes = ev.where(F.col("event_id") % 7 == 0)
    delivered = ev.unionByName(dupes)
    return delivered.agg(
        F.count("*").alias("n_delivered"),
        F.countDistinct("event_id").alias("n_unique"),
        exact_sum(F.col("value")).alias("delivered_value_sum"),
    )


@query(
    "cdc_scd2_intervals",
    oracle="""
    WITH versions AS (
      SELECT user_id,
             event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
             CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_epoch,
             LEAD(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to_epoch
      FROM events
    )
    SELECT user_id, event_type, value_cents, valid_from_epoch,
           COALESCE(valid_to_epoch, 9223372036854775807) AS valid_to_epoch,
           CASE WHEN valid_to_epoch IS NULL THEN 1 ELSE 0 END AS is_current
    FROM versions
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 materialization of the changelog: every change event
    becomes a versioned row with a [valid_from, valid_to) interval and an
    is_current flag — the dimension-history view a CDC lake serves
    alongside latest-state (ref A11: the OLTP table holds only the current
    row, setupTables.py:57-58; the lake holds every version). One shuffle
    on the entity key; lead() closes each interval with the next version's
    start. Open intervals carry max-int64 so range predicates
    (valid_from <= t < valid_to) need no null handling."""
    from pyspark.sql.window import Window

    from ..functions.exact import cents as _cents

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    open_end = F.lit(9223372036854775807)
    nxt = F.lead(F.unix_timestamp("ts")).over(w)
    return ev.select(
        "user_id",
        "event_type",
        _cents(F.col("value")).alias("value_cents"),
        F.unix_timestamp("ts").alias("valid_from_epoch"),
        F.coalesce(nxt, open_end).alias("valid_to_epoch"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@query(
    "cdc_merge_upsert",
    oracle=f"""
    WITH snap AS (
      SELECT user_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch
      FROM (
        SELECT user_id, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ), batch AS (
      SELECT user_id, op,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch
      FROM (
        SELECT user_id, value, ts, {_OPERATION_SQL} AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.user_id, s.user_id) AS user_id,
           CASE WHEN b.user_id IS NOT NULL THEN b.value_cents
                ELSE s.value_cents END AS value_cents,
           CASE WHEN b.user_id IS NOT NULL THEN b.ts_epoch
                ELSE s.ts_epoch END AS ts_epoch,
           CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS from_batch
    FROM snap s FULL OUTER JOIN batch b ON s.user_id = b.user_id
    WHERE b.op IS NULL OR b.op <> 'delete'
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on a plain-parquet lake: apply an incoming
    changelog batch to the current snapshot — matched+update rows take the
    batch values, matched+delete rows disappear, unmatched batch rows
    insert, untouched snapshot rows survive. This is the incremental form
    of cdc_latest_state: the reference's lake accumulates batches
    (Firehose objects, lib/fin-transactions-stack.ts:196-199) and the
    serving table must absorb each batch without recomputing history.

    The physical plan is exactly what table formats compile MERGE to: a
    full outer join of target and source on the key, then per-row action
    resolution — one shuffle each side (and the target side's shuffle
    disappears entirely when the snapshot is bucketed by key, see
    join_bucketed_colocated). The batch is pre-reduced to its latest
    action per key (max_by on ts,event_id) so at-least-once redelivery
    collapses before the join."""
    from ..functions.exact import cents as _cents

    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    picked = (
        _cents(F.col("value")).alias("value_cents"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )
    snap = _latest_state(ev.where(F.col("event_id") % 2 == 0), *picked).select(
        "user_id",
        F.col("value_cents").alias("s_cents"),
        F.col("ts_epoch").alias("s_epoch"),
    )
    batch = _latest_state(
        ev.where(F.col("event_id") % 2 == 1).withColumn("op", _operation(k)),
        *picked,
        F.col("op").alias("op"),
    ).select(
        "user_id",
        F.col("value_cents").alias("b_cents"),
        F.col("ts_epoch").alias("b_epoch"),
        "op",
    )
    hit = F.col("op").isNotNull()
    return (
        snap.join(batch, "user_id", "full")
        .where(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            "user_id",
            F.when(hit, F.col("b_cents")).otherwise(F.col("s_cents")).alias(
                "value_cents"
            ),
            F.when(hit, F.col("b_epoch")).otherwise(F.col("s_epoch")).alias(
                "ts_epoch"
            ),
            F.when(hit, F.lit(1)).otherwise(F.lit(0)).alias("from_batch"),
        )
    )


@query(
    "cdc_incremental_agg",
    oracle=f"""
    WITH snap AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ), batch AS (
      SELECT user_id, event_type, op,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM (
        SELECT user_id, event_type, value, {_OPERATION_SQL} AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1
      ) WHERE rn = 1
    ), merged AS (
      SELECT CASE WHEN b.user_id IS NOT NULL THEN b.event_type
                  ELSE s.event_type END AS event_type,
             CASE WHEN b.user_id IS NOT NULL THEN b.cents
                  ELSE s.cents END AS cents
      FROM snap s FULL OUTER JOIN batch b ON s.user_id = b.user_id
      WHERE b.op IS NULL OR b.op <> 'delete'
    )
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM merged GROUP BY event_type
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance with retractions: a
    per-event_type aggregate over the CURRENT state (latest row per user)
    is kept up to date from a changelog batch WITHOUT re-aggregating
    history. Each batch action becomes signed delta rows (Z-set / retract
    stream style): replacing a user's row retracts the old contribution
    (-1, -cents) and inserts the new one (+1, +cents); a delete only
    retracts. The stored aggregate then absorbs the summed deltas with a
    tiny merge on the group key. This is the aggregate analog of
    cdc_merge_upsert (the reference's lake accumulates Firehose batches,
    lib/fin-transactions-stack.ts:196-199; serving aggregates must absorb
    each batch incrementally — at 100 TB the history is never rescanned,
    only the batch and the MV state move). The oracle recomputes the
    aggregate from the fully-merged state, so the comparison proves the
    incremental path exact."""
    # r22 measured-and-REVERTED (guide §1.2 discipline): a gated
    # CPU-budget repartition of events on user_id (to satisfy both
    # _latest_state groupBys and the snapshot⋈batch join) was a
    # consistent 1.25–3.0x interleaved-A/B REGRESSION (6/6 pairs slower,
    # median ratio 1.87) and read 1.1–1.4 s vs the 0.74 s baseline in
    # the full bench. The spread shuffles RAW events — including the
    # JSON props column — to replace what are tiny partial-aggregated
    # exchanges; the map side already reduces per-user before any
    # exchange, so the extra full-width exchange of raw rows costs more
    # than the single-task reduce it parallelizes.
    return incremental_agg(load(spark, sf_dir, "events"))


def incremental_agg(ev: DataFrame) -> DataFrame:
    """Z-set incremental aggregate over any events changelog — see
    cdc_incremental_agg for the full design."""
    from ..functions.exact import cents as _cents

    k = F.get_json_object("props", "$.k").cast("int")
    picked = (
        F.col("event_type").alias("event_type"),
        _cents(F.col("value")).alias("cents"),
    )
    snap = _latest_state(ev.where(F.col("event_id") % 2 == 0), *picked)
    batch = _latest_state(
        ev.where(F.col("event_id") % 2 == 1).withColumn("op", _operation(k)),
        *picked,
        F.col("op").alias("op"),
    )
    # the MV state as stored before the batch arrives (in production this
    # is a table read, not a recompute — it exists here to close the demo)
    base = snap.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    )
    # signed deltas: both shuffles land on user_id, so the groupBys above
    # pre-locate this join (exchange reuse, no extra shuffle). The
    # "user existed in snapshot" test is a dedicated non-null marker —
    # testing a nullable ATTRIBUTE (old event_type) would silently skip
    # retracting a snapshot row whose type is NULL (legal in this feed;
    # see cdc_gdpr_erasure's NULL-type handling).
    acted = batch.join(
        snap.select(
            "user_id",
            F.col("event_type").alias("old_type"),
            F.col("cents").alias("old_cents"),
            F.lit(1).alias("had_snapshot"),
        ),
        "user_id",
        "left",
    )
    retracts = acted.where(F.col("had_snapshot").isNotNull()).select(
        F.col("old_type").alias("event_type"),
        F.lit(-1).alias("w"),
        (-F.col("old_cents")).alias("wc"),
    )
    inserts = acted.where(F.col("op") != "delete").select(
        "event_type", F.lit(1).alias("w"), F.col("cents").alias("wc")
    )
    delta = (
        retracts.unionByName(inserts)
        .groupBy("event_type")
        .agg(F.sum("w").alias("dn"), F.sum("wc").alias("dc"))
    )
    # null-SAFE merge on the group key: a plain equi-join would split a
    # NULL-type group into two half-rows where the oracle's GROUP BY
    # produces one (same eqNullSafe discipline as cdc_gdpr_erasure)
    d = delta.select(
        F.col("event_type").alias("d_type"), "dn", "dc"
    )
    return (
        base.join(
            d, F.col("event_type").eqNullSafe(F.col("d_type")), "full"
        )
        .select(
            F.coalesce("event_type", "d_type").alias("event_type"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_users"
            ),
            (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias(
                "value_cents"
            ),
        )
        .where(F.col("n_users") > 0)
    )


@query(
    "cdc_gdpr_erasure",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE user_id % 10 <> 7) AS n_rows_kept,
           COUNT(*) FILTER (WHERE user_id % 10 = 7)  AS n_rows_erased,
           COUNT(DISTINCT user_id) FILTER (WHERE user_id % 10 = 7)
             AS n_users_erased
    FROM events
    GROUP BY event_type
    """,
)
def cdc_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten ERASURE PROPAGATION: a deterministic erasure
    set (user_id % 10 == 7 stands in for the request table) is anti-joined
    out of the event lake; the surviving rows are REWRITTEN to a new
    partitioned snapshot (erasure must be physical — filtering at read
    time is not deletion) and a tombstone audit counts what was removed
    per event type. The returned manifest reads the REWRITTEN lake for
    the kept counts, so the oracle match proves the rewrite dropped
    exactly the erased users and nothing else.

    Scale shape: the erasure set is tiny relative to the lake, so the
    anti-join broadcasts it (here it is a predicate stand-in, pushed into
    the scan); the rewrite streams partition-by-partition — at 100 TB you
    restrict it to the partitions the erased keys actually touch (join
    the request table against the partition index first) instead of a
    full-lake rewrite."""
    from ..io import pid_scratch_dir

    out = pid_scratch_dir(sf_dir, "cdc_gdpr_erasure")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    erased = F.col("user_id") % 10 == 7
    kept = ev.where(~erased)
    kept.withColumn("day", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(out)
    kept_back = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_rows_kept"))
    )
    tombstones = (
        ev.where(erased)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows_erased"),
            F.countDistinct("user_id").alias("n_users_erased"),
        )
    )
    # Null-safe merge: a NULL event_type is a legal group (SQL GROUP BY
    # treats NULL as one group) but `=` join keys drop it — the kept and
    # erased NULL rows would come back as TWO half-null rows instead of
    # one merged manifest row. `eqNullSafe` (SQL `<=>`) keeps the merge
    # total; pinned by tests/test_cdc.py::test_gdpr_null_event_type_merge.
    k, t = kept_back.alias("k"), tombstones.alias("t")
    return k.join(
        t, F.col("k.event_type").eqNullSafe(F.col("t.event_type")), "outer"
    ).select(
        F.coalesce("k.event_type", "t.event_type").alias("event_type"),
        F.coalesce("n_rows_kept", F.lit(0)).alias("n_rows_kept"),
        F.coalesce("n_rows_erased", F.lit(0)).alias("n_rows_erased"),
        F.coalesce("n_users_erased", F.lit(0)).alias("n_users_erased"),
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH bounds AS (
      SELECT CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS mn,
             CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS mx
      FROM events
    ), old AS (
      SELECT user_id, event_id, cents FROM (
        SELECT user_id, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE CAST(FLOOR(EPOCH(ts)) AS BIGINT)
              <= (SELECT (mn + mx) // 2 FROM bounds)
      ) WHERE rn = 1
    ), new AS (
      SELECT user_id, event_id, cents FROM (
        SELECT user_id, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'inserted'
                WHEN o.event_id = n.event_id THEN 'unchanged'
                ELSE 'updated' END AS change_kind,
           o.event_id AS old_event_id,
           n.event_id AS new_event_id,
           COALESCE(n.cents, 0) - COALESCE(o.cents, 0) AS cents_delta
    FROM old o FULL JOIN new n ON o.user_id = n.user_id
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME-TRAVEL diff — the audit query a versioned CDC lake
    serves ("what changed since the mid-period snapshot?"): materialize
    latest-state as of the midpoint cut and as of now, full-outer join
    on the key, and classify every user as inserted / updated /
    unchanged with the exact cents delta. This is the consumer-facing
    form of what `stream_foreachbatch_merge`'s versioned directories
    store physically — diffing two snapshot VERSIONS compiles to
    exactly this plan when both sides are snapshot reads. (Append-only
    changelog, so 'deleted' cannot occur here; `cdc_gdpr_erasure`
    covers the physical-delete path.)

    The cut is a bounded metadata scalar (min/max event time), the same
    designed artifact as `scan_partition_pruned`'s partition floor.
    Scale shape: two max_by-style reduces + one full-outer join, all on
    user_id — one shuffle key end to end; the old-side scan prunes to
    `ts <= cut` via pushdown."""
    from ..functions.exact import cents as _cents

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        _cents(F.col("value")).alias("cents"),
    )
    b = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("mn"),
        F.max(F.unix_timestamp("ts")).alias("mx"),
    ).first()
    cut = (b.mn + b.mx) // 2

    picked = (F.col("event_id").alias("event_id"), F.col("cents").alias("cents"))

    def latest(df: DataFrame) -> DataFrame:
        return _latest_state(df, *picked)

    old = latest(ev.where(F.unix_timestamp("ts") <= F.lit(cut))).select(
        F.col("user_id").alias("o_user"),
        F.col("event_id").alias("old_event_id"),
        F.col("cents").alias("o_cents"),
    )
    new = latest(ev).select(
        F.col("user_id").alias("n_user"),
        F.col("event_id").alias("new_event_id"),
        F.col("cents").alias("n_cents"),
    )
    kind = (
        F.when(F.col("o_user").isNull(), "inserted")
        .when(F.col("old_event_id") == F.col("new_event_id"), "unchanged")
        .otherwise("updated")
    )
    return (
        old.join(new, old.o_user == new.n_user, "full")
        .select(
            F.coalesce("o_user", "n_user").alias("user_id"),
            kind.alias("change_kind"),
            "old_event_id",
            "new_event_id",
            (
                F.coalesce("n_cents", F.lit(0))
                - F.coalesce("o_cents", F.lit(0))
            ).alias("cents_delta"),
        )
    )
