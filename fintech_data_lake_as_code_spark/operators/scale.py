"""Scale-geometry operators: shuffle-free bucketed joins, explicit skew
salting, and the remaining columnar source formats (CSV, ORC).

Reference parity: the reference's only physical-layout choices are Kinesis
shard hash-partitioning (lib/fin-transactions-stack.ts:130-141) and the
Firehose time-prefixed lake (lib/fin-transactions-stack.ts:196-199). This
module is the engine's closure of those ideas at warehouse scale:

- bucketing = the lake-resident form of the reference's shard partitioning:
  pre-hash rows by join key AT WRITE TIME so every future join on that key
  is exchange-free (the dominant cost at 100 TB is the fact-fact shuffle;
  bucketing pays it once instead of per-query);
- salting = the manual fallback for key skew that AQE's skew-join splitting
  handles adaptively: deterministically shard a hot key across S sub-keys,
  replicate the dim side S ways, join on (key, salt) — same rows, bounded
  task size;
- CSV/ORC = the interchange formats an ingestion edge actually receives
  (the reference's own edge format is JSON, covered by scan_json_lines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import cents, exact_sum
# round-trip keys use pid_scratch_dir (see operators/scans.py's import
# note: peer-session overwrite vs lazy readback); scratch_dir remains
# only for the SHARED pay-once bucketed layout, guarded by
# io.seeded_landing instead
from ..io import load, pid_scratch_dir, scratch_dir
from ..registry import query

ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


@query(
    "scan_csv",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip with an explicit schema (schema inference
    is a full extra pass over the data — never acceptable at scale) and
    header, then aggregate. Splittable uncompressed CSV parallelizes per
    128 MB split like any file source."""
    out = pid_scratch_dir(sf_dir, "scan_csv")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(ORDERS_CSV_SCHEMA).option("header", "true").csv(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "scan_orc",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_price
    FROM lineitem
    WHERE l_discount > 0.02
    GROUP BY l_linestatus
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: columnar at rest with the same pushdown
    contract as parquet (predicate reaches the ORC reader; only referenced
    columns are materialized)."""
    out = pid_scratch_dir(sf_dir, "scan_orc")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.where(F.col("l_discount") > 0.02).groupBy("l_linestatus").agg(
        F.count("*").alias("n_rows"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


@query(
    "scan_avro",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink round-trip — the row-oriented sibling of
    scan_csv/scan_orc. The `avro` datasource is the one mainstream lake
    format shipped as an EXTERNAL module (pyspark bundles avro-*.jar but
    not spark-avro; a no-network environment can't fetch it, see
    compat.avro_supported), so for eleven rounds this operator was
    environment-gated and unregistered. It now grades identically
    everywhere: where the native module is loadable it is preferred
    (compression codecs, Hadoop-FS paths); where it is absent the
    engine's own from-scratch Avro object-container codec serves the
    round-trip through the Spark 4 Python DataSource API
    (`sources/avro.py` — `pyavro` format, one reader task per container
    file, one container file per writer task, spec-compatible files
    differentially certified against the JVM's bundled org.apache.avro
    reference implementation). Both branches write the same rows and
    reduce to the same exact-cents aggregate."""
    from ..compat import avro_supported

    out = pid_scratch_dir(sf_dir, "scan_avro")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    if avro_supported(spark):
        o.write.mode("overwrite").format("avro").save(out)
        back = spark.read.format("avro").load(out)
    else:
        from ..sources.avro import register_pyavro

        register_pyavro(spark)
        # spread the write across tasks: one container file per task is
        # the format's parallelism unit on the read side too; mode
        # overwrite clears the target inside the pyavro writer
        o.repartition(8).write.format("pyavro").mode("overwrite").save(out)
        back = spark.read.format("pyavro").load(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice")).alias("sum_price"),
    )


N_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """Return `name` as a bucketed+sorted catalog table (hash(key) ->
    N_BUCKETS file groups). The layout is written ONCE per scale dir —
    that's the point of bucketing: pay the shuffle at write time, reuse it
    for every subsequent join. A later session re-registers the existing
    files with bucketing DDL instead of rewriting them — but only while
    the files' recorded layout (bucket count + key) matches the DDL this
    code would declare today: registering old-layout files under new DDL
    would silently mis-bucket the exchange-free join, so the layout is
    an `io.seeded_landing` artifact whose fingerprint is the declared
    shape plus the source data's identity."""
    import re

    from ..io import seeded_landing, session_memo, sf_tag, source_fingerprint

    tag = re.sub(r"[^a-z0-9]", "_", sf_tag(sf_dir))
    table = f"bkt_{tag}_{name}"
    path = scratch_dir(sf_dir, f"bucketed_{name}")
    # layout identity = declared shape (buckets+key) PLUS the source
    # data's identity: without the latter, regenerating the sf_dir in
    # place would leave a shape-matching marker over OLD bucketed rows,
    # silently joined against a fresh oracle every round after
    src = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(src):
        # surface the engine's standard [PATH_NOT_FOUND] AnalysisException
        # (what every scan key raises on a bad sf_dir) instead of letting
        # source_fingerprint's os.stat throw a raw FileNotFoundError. If
        # the file lands between the exists() check and the load
        # (concurrent generator), load() succeeds — fall through to the
        # normal path rather than treating a valid source as an error.
        load(spark, sf_dir, name)

    def write() -> None:
        # drop first: an overwrite through a catalog entry that points
        # elsewhere would act on that stale location
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            load(spark, sf_dir, name)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(table)
        )

    def register() -> None:
        # files a peer or an earlier session landed: register them
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in load(spark, sf_dir, name).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET"
            f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS"
            f" LOCATION '{path}'"
        )

    def check_registered() -> None:
        if not _registered_layout_matches(spark, table, key, path):
            spark.sql(f"DROP TABLE {table}")
            register()

    seeded_landing(
        path, f"{N_BUCKETS}:{key}:{source_fingerprint(src)}", write
    )
    if not spark.catalog.tableExists(table):
        register()
    else:
        # the DESCRIBE runs once per session and layout identity (the
        # name carries the constants, the source its data): DDL issued
        # by hand against the table after the check is not re-checked
        memo = f"scale.bucketed:{N_BUCKETS}:{key}:{path}"
        session_memo(spark, memo, (src,), check_registered)
    return spark.table(table)


def _registered_layout_matches(
    spark: SparkSession, table: str, key: str, path: str
) -> bool:
    """True iff the already-registered catalog table declares exactly the
    bucketing this code would declare today (N_BUCKETS buckets on `key`)
    AND points at `path` — the scratch location whose `_SEED` marker the
    caller just validated. Within one session the constants cannot
    change, but the catalog may outlive this module's idea of the layout
    (persistent metastore, REPL re-import after an edit) — so trust
    DESCRIBE, not recency. Without the Location check, a stale metastore
    entry aimed at ANOTHER scratch root would be trusted on the strength
    of a marker it never read."""
    rows = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
        if r.col_name
    }
    # DESCRIBE renders Bucket Columns as a bracketed, backtick-quoted
    # list (e.g. "[`l_orderkey`]"). Parse it per element instead of a
    # whole-string strip: a blanket strip("[]`' ") only survives a
    # single-column key, and a future multi-column key (or one
    # containing stripped characters) would silently never match —
    # forcing a drop-and-rewrite of the layout every session.
    raw = rows.get("Bucket Columns", "").strip()
    if raw.startswith("[") and raw.endswith("]"):
        raw = raw[1:-1]
    cols = [c.strip().strip("`") for c in raw.split(",") if c.strip()]
    # DESCRIBE renders Location as a URI (file:/...); compare paths
    loc = rows.get("Location", "")
    if loc.startswith("file:"):
        loc = loc[len("file:"):]
    same_loc = os.path.normpath(loc) == os.path.normpath(path)
    return (
        rows.get("Num Buckets") == str(N_BUCKETS)
        and cols == [key]
        and same_loc
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on co-bucketed tables: both sides pre-hashed into the
    same N_BUCKETS by join key at write time, so the sort-merge join reads
    bucket i against bucket i with NO exchange on either side (asserted in
    tests/test_plans.py). At 100 TB this converts the pipeline's dominant
    recurring shuffle into a one-time layout cost — the lake-resident
    analog of the reference's Kinesis shard hash-routing
    (lib/fin-transactions-stack.ts:137)."""
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


N_SALTS = 8


@query(
    "join_skew_salted",
    oracle="""
    WITH fact AS (
      SELECT user_id, value FROM events
      UNION ALL
      SELECT 0 AS user_id, value FROM events  -- planted hot key: ~50% of rows
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM fact e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: the fact side deterministically shards each
    key across N_SALTS sub-keys (pmod(xxhash64(event_id))) while the dim
    side is replicated N_SALTS ways, so one hot user_id becomes N_SALTS
    bounded tasks instead of one straggler. Semantically identical to the
    plain join (same oracle). AQE skew-join handles this adaptively; the
    explicit form is for engines/paths where it can't (e.g. aggregation
    skew, stream-static joins). The skew is REAL here: a planted hot key
    (user 0) owns half the fact rows, so an unsalted shuffle would put 50%
    of the join in one task; salting spreads it across N_SALTS."""
    base = load(spark, sf_dir, "events").select("user_id", "value", "event_id")
    hot = base.select(
        F.lit(0).cast("long").alias("user_id"),
        "value",
        (F.col("event_id") + 10_000_000).alias("event_id"),
    )
    ev = base.unionByName(hot).withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int")
    )
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
        )
    )
    return (
        ev.join(
            cust,
            (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
    )


@query(
    "scan_xml",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY event_type
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip (native in Spark 4 — no external
    package): write events as <event> rows, read back with an explicit
    schema, aggregate. Timestamps travel as epoch longs (XML has no
    canonical timestamp lexical form across engines)."""
    out = pid_scratch_dir(sf_dir, "scan_xml")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "user_id",
        "event_type",
        "value",
    )
    (
        ev.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(out)
    )
    xml_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_epoch", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .schema(xml_schema)
        .option("rowTag", "event")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(cents(F.col("value"))).alias("sum_cents"),
    )


@query(
    "sink_sorted_lake",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(MIN(floor(epoch(ts))) AS BIGINT) AS min_epoch,
           CAST(MAX(floor(epoch(ts))) AS BIGINT) AS max_epoch
    FROM events
    """,
)
def sink_sorted_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order lake layout: repartitionByRange(ts) gives each output
    file a DISJOINT time range and sortWithinPartitions orders rows inside
    it — so parquet min/max footer stats let any time-range query skip
    whole files (the poor man's z-order; verified file-disjointness in
    tests/test_plans.py). The write is the cost; every later range scan is
    the payoff — same trade as bucketing, applied to range predicates."""
    out = pid_scratch_dir(sf_dir, "sink_sorted_lake")
    ev = load(spark, sf_dir, "events")
    (
        ev.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
    )


@query(
    "sink_zorder_lake",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MIN(FLOOR(EPOCH(ts))) AS BIGINT) AS min_epoch,
           CAST(MAX(FLOOR(EPOCH(ts))) AS BIGINT) AS max_epoch
    FROM events
    """,
)
def sink_zorder_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) lake layout: bit-interleave the 8-bit ranks
    of TWO query dimensions (user_id, event time) into one sort key, then
    range-partition + sort files by it — each parquet file then covers a
    small rectangle of the (user, time) plane, so footer min/max stats let
    BOTH per-user scans and time-range scans skip most files. This is the
    two-dimensional generalization of sink_sorted_lake (which buys
    skipping on one dimension only and interleaves nothing); same
    pay-once-at-write, skip-on-every-read trade as bucketing.

    Dimension bounds come from one tiny stats aggregate (4 scalars to the
    driver — the same class of metadata collect that AQE performs; NOT a
    data collect). The z-value itself is pure map-side bit arithmetic in
    whole-stage codegen; the only shuffle is the range partitioner's."""
    out = pid_scratch_dir(sf_dir, "sink_zorder_lake")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    bounds = ev.agg(
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.min(F.unix_timestamp("ts")).alias("t_min"),
        F.max(F.unix_timestamp("ts")).alias("t_max"),
    ).first()
    if bounds.u_min is None or bounds.t_min is None:
        # a raise, not an int(None) TypeError: empty input has no
        # dimension bounds to rank against (the sink_compacted
        # empty-feed refusal convention)
        raise RuntimeError(
            f"z-order layout over {sf_dir} found no rows — cannot derive "
            "(user_id, ts) dimension bounds from an empty table"
        )

    # proportional 0..255 rank per dimension in PURE int64 arithmetic:
    # `div` is Spark's integral division, so no double round-trip — a
    # scaled offset past 2^53 would silently lose low bits under `/`,
    # and low bits are exactly what bit-interleaving consumes. Exact
    # while (hi - lo + 1) * 256 fits in int64 (span < 2^55).
    u_span = max(int(bounds.u_max) - int(bounds.u_min) + 1, 1)
    t_span = max(int(bounds.t_max) - int(bounds.t_min) + 1, 1)
    ev = ev.withColumn(
        "_u_scaled",
        (F.col("user_id").cast("long") - F.lit(int(bounds.u_min))) * F.lit(256),
    ).withColumn(
        "_t_scaled",
        (F.unix_timestamp("ts") - F.lit(int(bounds.t_min))) * F.lit(256),
    )
    ub = F.expr(f"_u_scaled div {u_span}")
    tb = F.expr(f"_t_scaled div {t_span}")
    z = sum(
        (F.shiftright(ub, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
        + (F.shiftright(tb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
        for i in range(8)
    )
    (
        ev.withColumn("z", z)
        .drop("_u_scaled", "_t_scaled")
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents(F.col("value"))).alias("sum_cents"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
    )
