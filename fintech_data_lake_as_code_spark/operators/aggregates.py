"""Aggregation operators (SURVEY.md §2.C aggregations).

Reference parity: B6 HAVING threshold (setupTables.py:40), B7 distinct
counting (setupTables.py:41), B9 percentile cutoff (setupTables.py:43),
A11 latest-state-per-key CDC materialization (PRIMARY KEY user_id +
ON UPDATE timestamp, setupTables.py:57-58).

Scale notes: all groupBys here are partial-aggregated map-side by Spark
(HashAggregate -> Exchange -> HashAggregate); the latest-state query uses
max_by instead of a window so it needs one shuffle and no sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents, exact_avg, exact_sum
from ..io import cpu_spread, load
from ..registry import query


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(l_extendedprice) * 100) AS avg_price,
           MIN(l_discount) AS min_disc,
           MAX(l_tax) AS max_tax
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table aggregate (partial+final handled by Spark)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
        exact_avg(F.col("l_extendedprice")).alias("avg_price"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_tax").alias("max_tax"),
    )


@query(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
                         AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0)
                         AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
           CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(l_quantity) * 100) AS avg_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(l_extendedprice) * 100) AS avg_price,
           CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
             / (COUNT(l_discount) * 100) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary hash aggregate (TPC-H Q1 shape) — the engine's
    headline batch aggregate. The shipdate cutoff is Q1's canonical
    1998-09-02, INSIDE the data's 1995-2001 span, so the predicate and
    its string-literal cast are load-bearing (a beyond-the-data cutoff
    filtered nothing and graded vacuously — round-8 review finding)."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price, 4).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            exact_avg(F.col("l_quantity")).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_having",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 65
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (ref B6 'multiple enquiries' threshold,
    setupTables.py:40). The threshold sits INSIDE the per-user count
    range at every fixture scale (45..99), so the HAVING actually
    discriminates — a threshold below the minimum made the key grade a
    plain groupBy (round-8 review finding)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") > 65)
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates (ref B7 regularity counting,
    setupTables.py:41) — Spark expands to a single pass + partial distinct."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path where exact
    distinct would shuffle every key. The estimate itself is
    estimator-specific, so the engine-portable OUTPUT is the exact count
    plus `within_bound`: |approx - exact| <= max(5% exact, 3), i.e. 5x the
    configured rsd=0.01 — the oracle emits literal TRUE, so a sketch
    drifting out of its published bound FAILS the hash comparison. The
    exact column doubles as the verification baseline; at 100 TB you drop
    it and keep only the approx (that's the point of the sketch)."""
    ev = load(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    exact = F.countDistinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        F.count("*").alias("n_events"),
        (
            F.abs(approx - exact)
            <= F.greatest(exact.cast("double") * 0.05, F.lit(3.0))
        ).alias("within_bound"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_quantity), 4) AS p25_qty,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50_qty,
           ROUND(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p75_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (ref B9 high-value cutoff,
    setupTables.py:43). `agg_approx_percentile` is the registered
    100 TB variant."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75_price"),
    )


@query(
    "agg_rollup_cube_gsets",
    oracle="""
    SELECT r.r_name, n.n_name,
           GROUPING(r.r_name) AS g_region,
           GROUPING(n.n_name) AS g_nation,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS acctbal_sum
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup_cube_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping indicators (multi-level lake summary)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("long").alias("g_region"),
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.count("*").alias("n_cust"),
        exact_sum(F.col("c_acctbal")).alias("acctbal_sum"),
    )


@query(
    "agg_maxby_latest",
    oracle="""
    SELECT user_id, last_type,
           ROUND(last_value_amt, 2) AS last_value_amt,
           last_ts_epoch
    FROM (
      SELECT user_id,
             event_type AS last_type,
             value AS last_value_amt,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS last_ts_epoch,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def agg_maxby_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state-per-key CDC materialization (ref A11: PRIMARY KEY
    user_id keeps <=1 row per user while the changelog holds history,
    setupTables.py:57-58). max_by(struct) — one shuffle with map-side
    partial_max_by, never a global ts sort; the scalable form of the
    window-rn=1 pattern."""
    ev = load(spark, sf_dir, "events")
    latest = F.max_by(
        F.struct("event_type", "value", "ts"),
        F.struct("ts", "event_id"),
    )
    return (
        ev.groupBy("user_id")
        .agg(latest.alias("s"))
        .select(
            "user_id",
            F.col("s.event_type").alias("last_type"),
            F.round(F.col("s.value"), 2).alias("last_value_amt"),
            F.unix_timestamp(F.col("s.ts")).alias("last_ts_epoch"),
        )
    )


@query(
    "agg_time_rollup",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_ts,
             event_type,
             COUNT(*) AS n_events,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
      FROM events
      GROUP BY 1, 2
    )
    SELECT CAST(floor(epoch(date_trunc('day', hour_ts))) AS BIGINT) AS day_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100 AS sum_value
    FROM hourly
    GROUP BY 1, 2
    """,
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascaded time rollup: the DAILY aggregate is
    computed FROM the hourly aggregate, not from raw events — the
    continuous-aggregate pattern where each coarser resolution re-reduces
    the finer one (possible because count/sum are reassociative; the
    engine-wide integer-cents convention is what makes the money sum
    safely re-aggregable). At 100 TB the hourly relation is ~10^4x smaller
    than raw, so the cascade costs almost nothing on top of it and the
    hourly result is the natural materialization/reuse point (mirrors the
    lake's hour-bucketed layout, ref A7)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents(F.col("value"))).alias("cents"),
    )
    return (
        hourly.groupBy(
            F.unix_timestamp(F.date_trunc("day", "hour_ts")).alias("day_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            (F.sum("cents").cast("double") / 100).alias("sum_value"),
        )
    )


@query(
    "agg_sketch_hll",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    """,
)
def agg_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, built into Spark):
    per-event-type user-count sketches built in one pass, UNIONED across
    groups to estimate global distinct users — the re-aggregable
    cardinality pattern: at 100 TB you persist the per-partition/per-day
    sketch bytes and merge them for any slice, never recounting raw data.

    Sketch estimates are engine-specific, so the graded output is the
    engine-portable CONTRACT: the exact distinct count plus a
    `within_bound` boolean (|est/exact - 1| <= 5%, ~3 sigma at the default
    lgConfigK=12). The oracle emits the same exact counts with TRUE — a
    hash match therefore requires every Spark-side estimate to honor the
    published bound. The exact pass exists only to make the estimate
    verifiable; production queries merge persisted sketch bytes alone."""
    ev = load(spark, sf_dir, "events")
    # both output branches (per-type and the merged union) read this
    # aggregate; NO cache — the identical agg subtrees share one
    # ReusedExchange, so the scan+sketch work below the exchange runs
    # once anyway, and a .cache() here measured ~1.3x SLOWER (median
    # 0.62 s vs 0.47 s, 5 reps, sf0.1) while leaking one executor-
    # storage copy per invocation (the graph_triangle_count r12 lesson)
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )

    def bound(est: Column, exact: Column) -> Column:
        rel = est.cast("double") / exact.cast("double") - 1.0
        return F.abs(rel) <= 0.05

    per_type_out = per_type.select(
        "event_type",
        "exact_users",
        bound(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias(
            "within_bound"
        ),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total")
    )
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    total = exact_total.crossJoin(merged).select(
        F.lit("__all__").alias("event_type"),
        "exact_users",
        bound(F.col("est_total"), F.col("exact_users")).alias("within_bound"),
    )
    return per_type_out.unionByName(total)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-day counts spread across one column per
    event type. The pivot values are DECLARED, not discovered — an
    undeclared pivot runs an extra distinct pass over the data and can
    explode the schema at scale; declared values keep this a single
    hash aggregate."""
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"))
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    # pivot leaves absent combinations null; the oracle's FILTER counts 0
    return out.select(
        "day_epoch",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


@query(
    "reshape_unpivot",
    oracle="""
    WITH wide AS (
      SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
             COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             COUNT(*) FILTER (WHERE event_type = 'view')  AS view
      FROM events
      GROUP BY 1
    )
    SELECT day_epoch, kind, n FROM wide
    UNPIVOT (n FOR kind IN (click, view))
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): the inverse reshape, `DataFrame.unpivot`
    with explicit value columns — map-side only once the wide input exists
    (stack() under the hood; no shuffle, no UDF)."""
    ev = load(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"))
        .pivot("event_type", ["click", "view"])
        .count()
    ).select(
        "day_epoch",
        F.coalesce("click", F.lit(0)).alias("click"),
        F.coalesce("view", F.lit(0)).alias("view"),
    )
    return wide.unpivot("day_epoch", ["click", "view"], "kind", "n")


@query(
    "agg_stats_corr",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS sxy,
             SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)
                 * CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_qty_price,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 10000.0, 2)
             AS covar_samp
    FROM m
    """,
)
def agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation/covariance per group — computed from EXACT integer
    moments (cents-scaled sums in 128-bit-safe decimals), with the final
    ratio taken in double from identical integers on every engine. The
    built-in `corr()`/`covar_samp()` accumulate in floats whose partial-sum
    order differs across engines/partitionings; moments-first is the
    engine-portable form of the same one-pass aggregation (and what the
    built-ins do internally, minus the exactness)."""
    return stats_corr(load(spark, sf_dir, "lineitem"))


def stats_corr(li: DataFrame) -> DataFrame:
    """Moments-first corr/covar over any lineitem-shaped frame — see
    agg_stats_corr for the design; degenerate groups yield NULL."""
    from ..functions.exact import cents_dec

    x = cents_dec(F.col("l_quantity"))
    y = cents_dec(F.col("l_extendedprice"))
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # degenerate groups (n=1 or zero variance) must yield NULL, not a
    # Spark-4 ANSI DIVIDE_BY_ZERO abort — DuckDB's double division
    # already returns NULL for 0/0 (round-8 review finding)
    corr_den = F.sqrt(denx * deny)
    return m.select(
        "l_returnflag",
        "n",
        F.when(
            corr_den != 0.0, F.round(num / corr_den, 6)
        ).alias("corr_qty_price"),
        F.when(
            F.col("n") > 1,
            F.round(
                num
                / F.col("n").cast("double")
                / (F.col("n") - 1).cast("double")
                / 10000.0,
                2,
            ),
        ).alias("covar_samp"),
    )


# Portable count-min sketch: depth x width int64 counter table with
# pairwise-independent hashes h_i(x) = ((a_i*x + b_i) mod p) mod w over
# the Mersenne prime p = 2^31 - 1. Operands stay under 2^62, so the whole
# build vectorizes in int64 numpy — no JVM round-trip, and (unlike the
# engine's count_min_sketch function) inserts take a WEIGHT, which is
# what lets the sketch build from a pre-aggregated (key, cnt) relation
# instead of re-touching raw rows. eps = e/w ~= 0.1% at w=2719; failure
# probability per query decays as ~e^-depth (depth 5 here).
CMS_W = 2719
CMS_D = 5
CMS_P = 2147483647  # 2^31 - 1
# fixed odd multipliers/offsets < p: the sketch is a pure function of the
# data, so estimates are reproducible across runs and engines
CMS_AB = (
    (1103515245, 12345),
    (214013, 2531011),
    (134775813, 1),
    (22695477, 7777777),
    (48271, 1299709),
)


def cms_estimate(table, key: int) -> int:
    """Point-query the (CMS_D, CMS_W) counter table: min over rows of the
    key's cell — the count-min estimate (>= true count, always)."""
    x = int(key) % CMS_P
    return int(
        min(
            table[i][((a * x + b) % CMS_P) % CMS_W]
            for i, (a, b) in enumerate(CMS_AB)
        )
    )


def day_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single heavy pass over `events`: reduce to one row per
    (day, user) with its count — every downstream CMS artifact and probe
    derives from this relation, never from raw events again.

    NULL user_ids are dropped here, matching the JVM count_min_sketch's
    null-skipping: without the filter, pandas delivers a nullable int
    group as float64 with NaN, and `.to_numpy(np.int64)` would cast NaN
    to a platform-defined garbage int64 — silently corrupting sketch
    inserts. FIXTURES.md says user_id is not-null today, but the driver
    regenerates testdata per round and column types have drifted before
    (ts); the build below also asserts, so drift fails loudly."""
    ev = load(spark, sf_dir, "events")
    ev = ev.where(F.col("user_id").isNotNull())
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
        "user_id",
    ).agg(F.count("*").alias("cnt"))


def merged_cms_sketch(day_user: DataFrame):
    """Build per-day count-min sketches from the reduced (day_epoch,
    user_id, cnt) relation — weighted inserts, one Arrow-batched group
    task per day — then merge the (~100 KB) counter tables driver-side
    by element-wise add (CMS merge IS addition; hash params are fixed, so
    collisions line up across days). Returns (merged numpy table,
    total stream length) — the eps bound scales with the latter. Shared
    by `agg_sketch_cms` and tests/test_sketches.py's tight-bound
    assertion."""
    import numpy as np

    def build(pdf):
        import numpy as np
        import pandas as pd

        table = np.zeros((CMS_D, CMS_W), dtype=np.int64)
        # day_user_counts filters nulls upstream; a NaN here means the
        # float64-with-NaN nullable path leaked through — int64-cast of
        # NaN is garbage, so fail loudly instead of corrupting counts
        # (a raise, not an assert: the guard must survive python -O)
        if pdf["user_id"].isna().any():
            raise ValueError("NULL user_id reached CMS build")
        x = pdf["user_id"].to_numpy(np.int64) % CMS_P
        cnt = pdf["cnt"].to_numpy(np.int64)
        for i, (a, b) in enumerate(CMS_AB):
            np.add.at(table[i], ((a * x + b) % CMS_P) % CMS_W, cnt)
        return pd.DataFrame(
            {
                "day_epoch": [int(pdf["day_epoch"].iloc[0])],
                "sk": [table.tobytes()],
                "n_rows": [int(cnt.sum())],
            }
        )

    rows = (
        day_user.groupBy("day_epoch")
        .applyInPandas(build, "day_epoch bigint, sk binary, n_rows bigint")
        .collect()
    )
    merged = np.zeros((CMS_D, CMS_W), dtype=np.int64)
    n_total = 0
    for r in rows:
        merged += np.frombuffer(bytes(r.sk), dtype=np.int64).reshape(
            CMS_D, CMS_W
        )
        n_total += r.n_rows
    return merged, n_total


@query(
    "agg_sketch_cms",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, exact_count, TRUE AS within_bound
    FROM counts
    ORDER BY exact_count DESC, user_id
    LIMIT 10
    """,
)
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-min frequency sketches in a SINGLE scan of events:
    one pass reduces events to (day, user, cnt) — cached, so the parquet
    is read exactly once (pinned by tests/test_sketches.py::
    test_cms_builds_from_a_single_events_scan) — then (a) per-day CMS
    artifacts build from that relation with weighted inserts and merge
    driver-side, and (b) the 10 heaviest users (the probe set) come from
    re-aggregating the SAME relation, a partial-agg over ~users x days
    rows, not raw events. At 100 TB you persist the per-day sketch bytes
    (~100 KB each) and answer "how often did key K appear in any date
    range" by merging sketches, never rescanning raw data; only sketch
    BYTES reach the driver — artifacts designed to be collected.

    Sketch estimates are engine-specific, so the graded output is the
    portable CONTRACT per probe key: the exact count plus a
    `within_bound` boolean encoding the one-sided count-min guarantee
    (exact <= est <= exact + eps*N, eps ~= 0.1%). The oracle emits the
    same probe set with TRUE; a hash match forces every estimate to honor
    the bound. The tight-bound assertion on the raw estimates lives in
    tests/test_sketches.py."""
    day_user = day_user_counts(spark, sf_dir).cache()
    try:
        merged, n_total = merged_cms_sketch(day_user)
        top = (
            day_user.groupBy("user_id")
            .agg(F.sum("cnt").alias("exact_count"))
            .orderBy(F.desc("exact_count"), "user_id")
            .limit(10)
            .collect()
        )
    finally:
        day_user.unpersist()
    eps_bound = int(0.001 * n_total) + 1
    data = []
    for r in top:
        est = cms_estimate(merged, r.user_id)
        data.append(
            (
                r.user_id,
                r.exact_count,
                bool(r.exact_count <= est <= r.exact_count + eps_bound),
            )
        )
    return spark.createDataFrame(
        data, "user_id long, exact_count long, within_bound boolean"
    )


ROLL_DAYS = 7


@query(
    "agg_rolling_distinct",
    oracle=f"""
    WITH daily AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch
      FROM events
    ), bounds AS (
      SELECT MAX(day_epoch) AS max_day FROM daily
    ), contrib AS (
      SELECT d.user_id, d.day_epoch + k.k * 86400 AS target_day_epoch
      FROM daily d
      CROSS JOIN (SELECT unnest(range(0, {ROLL_DAYS})) AS k) k
    )
    SELECT c.target_day_epoch AS day_epoch,
           COUNT(DISTINCT c.user_id) AS users_{ROLL_DAYS}d
    FROM contrib c, bounds b
    WHERE c.target_day_epoch <= b.max_day
    GROUP BY c.target_day_epoch
    """,
)
def agg_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day (ROLL_DAYS) DISTINCT users per day — the windowed
    distinct that window functions cannot express (COUNT(DISTINCT) OVER a
    sliding frame is unsupported in Spark AND naively needs per-frame set
    state). The scalable rewrite is CONTRIBUTION EXPLODE: reduce events to
    distinct (user, day) pairs first (the heavy shuffle, on high-
    cardinality keys), then each pair contributes to the {ROLL_DAYS}
    target days it is visible in — a map-side explode multiplying the
    ALREADY-reduced relation, never raw events — and one groupBy counts
    distinct users per target day. Work is O(active-pairs x window-days)
    regardless of event volume; day arithmetic is pure epoch-second
    integers (UTC-pinned), identical in both engines. Trailing ghost days
    past the data's end are clipped against the max observed day."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
    ).distinct()
    contrib = daily.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day_epoch"),
                F.col("day_epoch") + (ROLL_DAYS - 1) * 86400,
                F.lit(86400),
            )
        ).alias("target_day_epoch"),
    )
    max_day = daily.agg(F.max("day_epoch").alias("max_day"))
    return (
        contrib.join(F.broadcast(max_day))
        .where(F.col("target_day_epoch") <= F.col("max_day"))
        .groupBy(F.col("target_day_epoch").alias("day_epoch"))
        .agg(F.countDistinct("user_id").alias(f"users_{ROLL_DAYS}d"))
    )


# --- dataset profiling --------------------------------------------------------

PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")

_PROFILE_ORACLE_ONE = """
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT CAST(ROUND({c} * 100, 0) AS BIGINT)) AS BIGINT)
             AS n_distinct,
           CAST(MIN(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(MAX(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(SUM(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM lineitem
"""


@query(
    "profile_columns",
    oracle=" UNION ALL ".join(
        _PROFILE_ORACLE_ONE.format(c=c) for c in PROFILE_COLS
    ),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset PROFILING — the pipeline-ingest health check (row counts,
    null rates, cardinalities, value ranges, exact sums per column) that
    gates whether a freshly-landed partition is fit to train on. One row
    per profiled column, all numerics in exact integer cents (the
    functions/exact.py convention) so the profile is bit-identical on any
    engine.

    Scale shape: ONE scan, no Expand. The naive multi-column exact
    count_distinct plans as an Expand (one duplicated scan leg per
    distinct column — 4x the map bytes at 100 TB), so instead the scan
    `stack`s each row into (column_name, cents) — map-side, narrow —
    and a first partial-aggregated groupBy(column, value) collapses to
    the per-column VALUE HISTOGRAM (tiny: bounded by distinct values,
    not rows). Every profile metric is then an aggregate OF the
    histogram: n_distinct = count of non-null values, n_rows = sum of
    counts, n_nulls = the null value's count, min/max over values,
    sum = sum(value * count). Two cascaded aggregations, both partial
    map-side, shuffling only histogram entries — the same cascade shape
    as agg_time_rollup."""
    # the stack + partial histogram is CPU-bound (4x rows after stack;
    # io.cpu_spread); column pruning pushes below the repartition, so the
    # exchange carries only the profiled columns
    li = cpu_spread(load(spark, sf_dir, "lineitem"), "l_orderkey")
    # SQL-text twin of functions.exact.cents() — embedded in the stack
    stack_args = ", ".join(
        f"'{c}', CAST(ROUND({c} * 100, 0) AS BIGINT)" for c in PROFILE_COLS
    )
    stacked = li.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS (column_name, v)"
        )
    )
    hist = stacked.groupBy("column_name", "v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return hist.groupBy("column_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_nulls"),
        F.count("v").cast("bigint").alias("n_distinct"),
        F.min("v").cast("bigint").alias("min_cents"),
        F.max("v").cast("bigint").alias("max_cents"),
        F.sum(F.col("v") * F.col("cnt")).cast("bigint").alias("sum_cents"),
    )


@query(
    "agg_retention_cohort",
    oracle="""
    WITH user_weeks AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS week_epoch
      FROM events
    ), cohorts AS (
      SELECT user_id, MIN(week_epoch) AS cohort_epoch
      FROM user_weeks GROUP BY user_id
    ), sizes AS (
      SELECT cohort_epoch, COUNT(*) AS cohort_size
      FROM cohorts GROUP BY cohort_epoch
    ), activity AS (
      SELECT c.cohort_epoch,
             (u.week_epoch - c.cohort_epoch) // 604800 AS week_offset,
             COUNT(DISTINCT u.user_id) AS n_users
      FROM user_weeks u JOIN cohorts c USING (user_id)
      GROUP BY 1, 2
    )
    SELECT a.cohort_epoch,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(a.n_users AS BIGINT) AS n_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(a.n_users * 10000 // s.cohort_size AS BIGINT) AS retention_bp
    FROM activity a JOIN sizes s USING (cohort_epoch)
    """,
)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort RETENTION — the product-analytics staple: group users by
    first-active week (their cohort), then for every later week count how
    many of the cohort came back; retention share in exact basis points.
    All epoch/offset arithmetic is integer (UTC week starts are exactly
    604800 s apart; BIGINT `div`), so the matrix is engine-exact.

    Scale shape: events reduce FIRST to distinct (user, week) — the
    ~10^4x reduction every later stage rides on — then cohorts are a
    groupBy on the SAME user key (no second wide shuffle of raw data),
    activity joins on user_id, and the cohort-size join at the end is a
    tiny per-cohort relation (broadcast). No windows over raw events, no
    driver-side anything."""
    ev = load(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("week", "ts")).alias("week_epoch"),
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week_epoch").alias("cohort_epoch")
    )
    sizes = cohorts.groupBy("cohort_epoch").agg(
        F.count("*").alias("cohort_size")
    )
    activity = (
        user_weeks.join(cohorts, "user_id")
        .select(
            "cohort_epoch",
            F.expr("(week_epoch - cohort_epoch) div 604800").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_epoch", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    return activity.join(F.broadcast(sizes), "cohort_epoch").select(
        "cohort_epoch",
        "week_offset",
        "n_users",
        "cohort_size",
        F.expr("(n_users * 10000) div cohort_size").alias("retention_bp"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4)
             AS exact_p50,
           COUNT(*) AS n_rows,
           TRUE AS within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch approximate percentile — the actual 100 TB path
    `agg_percentile` points at: exact percentiles buffer every value per
    group, the sketch streams with bounded memory and a DETERMINISTIC
    rank-error guarantee (<= 1/accuracy regardless of partitioning or
    merge order). Engine-portable contract as in agg_approx_distinct:
    the graded output carries the exact p50 plus `within_bound`, and the
    oracle's literal TRUE fails the hash the moment the sketch drifts
    out of its guarantee. The estimate itself stays out of the output
    (sketch values are engine-specific); at 100 TB you keep only the
    approx.

    The bound is checked in RANK space, matching the guarantee GK
    actually makes: the estimate's rank interval [count(< v), count(<= v)]
    must overlap [n/2 - slack, n/2 + slack] with slack = ceil(1e-3 * n)
    + 1 — 10x the accuracy-10000 rank error, plus one because the sketch
    returns an ELEMENT. The previous VALUE-space band (exact p49.9 ..
    p50.1) silently assumed 0.002*n >> 1: on a 118-row group the band
    spans less than one rank gap, so it contains NO data element and a
    perfectly rank-exact sketch fails it (r17 seeded-net finding on the
    .125-grid lake fixture). The rank check costs one broadcast join of
    the 3-row estimate relation back onto the scan — a contract-audit
    pass, not the production path."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx(price, F.lit(0.5), F.lit(10000)).alias("_approx")
    )
    n = F.count("*")
    slack = F.ceil(n * F.lit(1e-3)) + 1
    n_below = F.sum((price < F.col("_approx")).cast("long"))
    n_at_or_below = F.sum((price <= F.col("_approx")).cast("long"))
    # null-SAFE key match (ADVICE r17): groupBy emits a NULL-flag group
    # on both engines, but a plain equi-join would silently drop it from
    # the Spark side only — eqNullSafe keeps the audit total. Spark
    # plans EqualNullSafe as a hash-join key, so the broadcast shape
    # (plan-pinned in test_plans) is unchanged.
    est = est.withColumnRenamed("l_returnflag", "_est_flag")
    return (
        li.join(
            F.broadcast(est),
            F.col("l_returnflag").eqNullSafe(F.col("_est_flag")),
        )
        .drop("_est_flag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(price, F.lit(0.5)), 4).alias("exact_p50"),
            n.alias("n_rows"),
            (
                (n_below <= n / 2 + slack)
                & (n_at_or_below >= n / 2 - slack)
            ).alias("within_bound"),
        )
    )


# Histogram bounds: fixed literals (a data-derived min/max would cost a
# second pass); cents-exact integer bucket arithmetic, identical in any
# engine. l_extendedprice spans ~[900, 105000] in TPC-H-ish data;
# out-of-range rows land in sentinel buckets -1 / N_BINS.
HIST_LO_CENTS = 0
HIST_HI_CENTS = 11_000_000
HIST_BINS = 22


@query(
    "agg_histogram_bins",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT CAST(CASE WHEN cents < {HIST_LO_CENTS} THEN -1
                WHEN cents >= {HIST_HI_CENTS} THEN {HIST_BINS}
                ELSE (cents - {HIST_LO_CENTS}) * {HIST_BINS}
                     // ({HIST_HI_CENTS} - {HIST_LO_CENTS}) END AS BIGINT)
             AS bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 1
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin numeric HISTOGRAM — the distribution companion to
    `profile_columns` (a profile says min/max/mean; the histogram says
    where the mass sits — the data-quality view that catches a bimodal
    price column or a spike at a sentinel value). Bucket index is exact
    integer arithmetic on cents over fixed literal bounds (no
    data-derived bounds -> single pass; out-of-range rows land in
    sentinel buckets instead of vanishing). One partial-aggregated
    groupBy on a derived int — the cheapest shuffle there is; at 100 TB
    the result is N_BINS+2 rows regardless of input size."""
    li = load(spark, sf_dir, "lineitem")
    cents_col = cents(F.col("l_extendedprice"))
    span = HIST_HI_CENTS - HIST_LO_CENTS
    bucket = (
        F.when(F.col("cents") < HIST_LO_CENTS, F.lit(-1))
        .when(F.col("cents") >= HIST_HI_CENTS, F.lit(HIST_BINS))
        .otherwise(
            F.expr(
                f"(cents - {HIST_LO_CENTS}) * {HIST_BINS} div {span}"
            )
        )
        .cast("bigint")
    )
    return (
        li.select(cents_col.alias("cents"))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


# --- data-quality expectations ----------------------------------------------

# Declarative expectation suite over the events feed (the Deequ /
# Great Expectations shape): each rule is a row-level predicate whose
# violation count the engine aggregates in ONE scan. Thresholds are in
# basis points of the table (0 = hard expectation).
DQ_RULES = [
    # (rule_id, violation predicate SQL, allowed violation bp)
    ("value_positive", "value <= 0", 0),
    ("value_below_cap", "value > 400", 500),
    ("user_id_present", "user_id IS NULL", 0),
    ("type_in_domain",
     "event_type NOT IN ('view','click','purchase','signup','error')", 0),
    ("ts_in_2024", "ts < TIMESTAMP '2024-01-01 00:00:00' "
     "OR ts >= TIMESTAMP '2025-01-01 00:00:00'", 0),
    ("props_has_k", "get_json_object(props, '$.k') IS NULL", 0),
]


def _dq_oracle() -> str:
    arms = []
    for rule_id, pred, bp in DQ_RULES:
        duck_pred = pred.replace(
            "get_json_object(props, '$.k') IS NULL",
            "json_extract(props, '$.k') IS NULL",
        )
        arms.append(f"""
    SELECT '{rule_id}' AS rule_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {duck_pred} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           SUM(CASE WHEN {duck_pred} THEN 1 ELSE 0 END) * 10000
             <= COUNT(*) * {bp} AS passed
    FROM events""")
    return "\nUNION ALL".join(arms) + "\nORDER BY rule_id"


@query("dq_expectations", oracle=_dq_oracle())
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DATA-QUALITY expectation suite (the Deequ / Great
    Expectations shape): six row-level rules — positivity, cap,
    non-null, enum domain, timestamp range, JSON-path presence — each
    with an allowed-violation budget in basis points, evaluated and
    verdicted per rule. This is the contract a lake enforces at the
    bronze->silver boundary; the reference declares exactly such rules
    as comments it never executes (setupTables.py:29-44).

    Scale shape: ALL rules compile into one conditional-aggregate pass —
    a single scan, a single partial-agg reduce to one row, then a
    map-side posexplode to per-rule rows: rule count never multiplies
    scan cost (the Deequ analyzer-batching trick). The verdict compares
    integers (violations x 10000 <= rows x budget_bp), never a float
    rate."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")] + [
        F.sum(
            F.when(F.expr(pred), 1).otherwise(0)
        ).alias(f"v_{i}")
        for i, (_, pred, _) in enumerate(DQ_RULES)
    ]
    one = ev.agg(*aggs)
    arms = ", ".join(
        f"'{rule_id}', cast(v_{i} as bigint), {bp}"
        for i, (rule_id, _, bp) in enumerate(DQ_RULES)
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(DQ_RULES)}, {arms})"
                " as (rule_id, n_violations, bp)"
            ),
        )
        .select(
            "rule_id",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "n_violations",
            (
                F.col("n_violations") * 10000
                <= F.col("n_rows") * F.col("bp")
            ).alias("passed"),
        )
        .orderBy("rule_id")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'purchase|signup', CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM events WHERE event_type IN ('purchase', 'signup')
    ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable BITMAPS (the Spark 3.5
    bitmap aggregate family): user ids bucket into 32K-bit bitmap
    segments (`bitmap_bucket_number`/`bitmap_bit_position`), each
    (group, bucket) partial-aggregates to one bitmap
    (`bitmap_construct_agg`), and distinct = sum of per-bucket
    `bitmap_count`s. Bitmaps are also UNIONED across groups with
    `bitmap_or_agg` — the purchase-or-signup audience row — without
    ever re-touching raw ids.

    Scale shape: this is the warehouse accelerator for exact distinct —
    raw ids reduce map-side to fixed-size bitmap segments, so the
    shuffle carries O(groups x buckets) bitmaps instead of O(rows) ids,
    and bitmaps MERGE (unlike a plain count-distinct, which must see
    every id at one reducer). Precomputed per-partition bitmaps are
    exactly how BI engines serve exact-distinct rollups at 100 TB;
    `agg_approx_distinct`'s HLL trades exactness for even less state."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    seg = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    per_type = seg.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users")
    )
    audience = (
        seg.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users"))
        .select(F.lit("purchase|signup").alias("event_type"), "n_users")
    )
    return per_type.unionByName(audience).orderBy("event_type")


KANON_K = 50  # minimum group size for release

_KANON_ORACLE = f"""
WITH day_g AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(date_trunc('day', ts))) AS BIGINT) AS day_e,
         CAST(FLOOR(EPOCH(date_trunc('week', ts))) AS BIGINT) AS week_e,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
), pass_day AS (
  SELECT 'day' AS level, event_type, day_e AS period_epoch,
         CAST(c AS BIGINT) AS n_rows
  FROM day_g WHERE c >= {KANON_K}
), week_g AS (
  SELECT event_type, week_e, SUM(c) AS c
  FROM day_g WHERE c < {KANON_K} GROUP BY 1, 2
), pass_week AS (
  SELECT 'week' AS level, event_type, week_e AS period_epoch,
         CAST(c AS BIGINT) AS n_rows
  FROM week_g WHERE c >= {KANON_K}
), supp AS (
  SELECT 'suppressed' AS level, '*' AS event_type,
         CAST(0 AS BIGINT) AS period_epoch,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows
  FROM week_g WHERE c < {KANON_K}
)
SELECT * FROM pass_day
UNION ALL SELECT * FROM pass_week
UNION ALL SELECT * FROM supp
"""


@query("agg_kanonymity", oracle=_KANON_ORACLE)
def agg_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMOUS release with a generalization hierarchy: quasi-
    identifier groups (event_type x day) publish only at size >=
    KANON_K (50); under-k groups GENERALIZE up the time hierarchy to
    (event_type x week), and what still misses k lands in one
    suppressed remainder row — the privacy-preserving aggregate-release
    discipline (k-anonymity, Sweeney 2002) that complements row-level
    erasure (cdc_gdpr_erasure) and masking (text_redact_pii).

    Scale shape: ONE scan partial-aggregates to (type, day) — the
    generalization ladder then operates on group counts, never re-
    touching rows (week counts are exact sums of their under-k day
    counts); everything after the first groupBy is metadata-sized."""
    ev = load(spark, sf_dir, "events")
    day_g = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_e"),
        F.unix_timestamp(F.date_trunc("week", "ts")).alias("week_e"),
    ).agg(F.count("*").alias("c"))
    pass_day = day_g.where(F.col("c") >= KANON_K).select(
        F.lit("day").alias("level"),
        "event_type",
        F.col("day_e").alias("period_epoch"),
        F.col("c").cast("bigint").alias("n_rows"),
    )
    week_g = (
        day_g.where(F.col("c") < KANON_K)
        .groupBy("event_type", "week_e")
        .agg(F.sum("c").alias("c"))
    )
    pass_week = week_g.where(F.col("c") >= KANON_K).select(
        F.lit("week").alias("level"),
        "event_type",
        F.col("week_e").alias("period_epoch"),
        F.col("c").cast("bigint").alias("n_rows"),
    )
    supp = week_g.where(F.col("c") < KANON_K).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_rows")
    ).select(
        F.lit("suppressed").alias("level"),
        F.lit("*").alias("event_type"),
        F.lit(0).cast("bigint").alias("period_epoch"),
        "n_rows",
    )
    return pass_day.unionByName(pass_week).unionByName(supp)


_OLS_ORACLE = """
WITH pts AS (
  SELECT event_type,
         (CAST(FLOOR(EPOCH(ts)) AS BIGINT)
          - CAST(FLOOR(EPOCH(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT))
           // 3600 AS x,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS y
  FROM events
), s AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       CAST((10000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
         AS slope_bp_per_hour,
       CAST((sy - (((10000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx))
                   * sx) // 10000) // n AS BIGINT) AS intercept_cents
FROM s
"""


@query("agg_regression_ols", oracle=_OLS_ORACLE)
def agg_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS per group (the SQL REGR_SLOPE / REGR_INTERCEPT
    surface): spend-vs-time trend per event type from the five
    classical sums, evaluated in INTEGER moments — x in hours since the
    corpus epoch, y in cents, slope in basis points via truncating
    integer division (Spark `div` and DuckDB BIGINT `//` truncate
    identically, negative trends included) — so the fit is bit-identical
    across engines (float
    regr_* aggregates are reduction-order-sensitive; integer sums are
    associative). Operand bounds keep every product under 2^62.

    Scale shape: ONE scan, one partial-agg groupBy computing all five
    sums together; the fit itself is per-group scalar arithmetic. This
    is how a 100 TB trend fit actually runs — sufficient statistics
    map-side, closed form at the end — not gradient descent."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr(
            "(unix_timestamp(ts) - unix_timestamp("
            "timestamp '2024-01-01 00:00:00')) div 3600"
        ).alias("x"),
        cents(F.col("value")).alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # On BIGINT operands Spark's `div` and DuckDB's `//` both truncate
    # toward zero — including negative numerators (a downward trend) —
    # so the identical expression text is exact in both engines. (The
    # oracle must cast FLOOR(EPOCH(..)) to BIGINT before dividing:
    # DuckDB's `//` on DOUBLEs does NOT floor, and a later CAST rounds.)
    slope_sql = "(10000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
    intercept_sql = f"(sy - (({slope_sql}) * sx) div 10000) div n"
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_points"),
        F.expr(slope_sql).cast("bigint").alias("slope_bp_per_hour"),
        F.expr(intercept_sql).cast("bigint").alias("intercept_cents"),
    )


_MODE_ORACLE = """
WITH counts AS (
  SELECT event_type,
         CAST(ROUND(value, 0) AS BIGINT) AS dollar,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, dollar, c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c DESC, dollar) AS rn
  FROM counts
)
SELECT event_type,
       CAST(dollar AS BIGINT) AS mode_dollar,
       CAST(c AS BIGINT) AS mode_count
FROM ranked WHERE rn = 1
"""


@query("agg_mode_exact", oracle=_MODE_ORACLE)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact statistical MODE per group with a deterministic tiebreak
    (highest count, then smallest value) — the named aggregate SQL
    dialects ship as `mode()`, computed here from first principles
    because a nondeterministic tie pick can't be oracle-graded.

    Scale shape: count-then-rank — one partial-agg groupBy over
    (group, value) collapses the data to distinct-value counts, and the
    rank runs over that collapsed relation (vocabulary-sized, not
    row-sized); mode never needs the raw rows twice."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type",
        F.round("value", 0).cast("bigint").alias("dollar"),
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), "dollar")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dollar").cast("bigint").alias("mode_dollar"),
            F.col("c").cast("bigint").alias("mode_count"),
        )
    )


_GINI_ORACLE = """
WITH totals AS (
  SELECT event_type, user_id,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS t
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, t,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY t, user_id) AS r
  FROM totals
), s AS (
  SELECT event_type, COUNT(*) AS n, SUM(t) AS st, SUM(r * t) AS s1
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_users,
       CAST(st AS BIGINT) AS total_cents,
       CAST((10000 * (2 * s1 - (n + 1) * st)) // (n * st) AS BIGINT)
         AS gini_bp
FROM s
"""


@query("agg_gini", oracle=_GINI_ORACLE)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of spend concentration per event type (the
    inequality metric risk and marketplace teams track), from the
    rank-sum identity G = (2*sum(i*y_i) - (n+1)*sum(y)) / (n*sum(y))
    over ascending per-user totals — evaluated in INTEGER cents and
    basis points, so it is exact and engine-identical (ties contribute
    v * sum-of-tied-ranks, which is order-invariant, so the tiebreak
    only pins the plan, not the value).

    Scale shape: one partial-agg groupBy to per-user totals, one
    window rank over the collapsed (users-sized) relation, one final
    reduce — the sufficient-statistics discipline again; raw events
    are scanned once."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents(F.col("value"))).alias("t")
    )
    w = Window.partitionBy("event_type").orderBy("t", "user_id")
    ranked = totals.withColumn("r", F.row_number().over(w))
    s = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("r") * F.col("t")).alias("s1"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        F.col("st").cast("bigint").alias("total_cents"),
        F.expr("(10000 * (2 * s1 - (n + 1) * st)) div (n * st)")
        .cast("bigint")
        .alias("gini_bp"),
    )


_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS d
  FROM events
  WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0
)
SELECT d AS first_digit,
       CAST(COUNT(*) AS BIGINT) AS n_amounts,
       CAST((10000 * COUNT(*)) // (SELECT COUNT(*) FROM digits) AS BIGINT)
         AS share_bp
FROM digits GROUP BY d
"""


@query("agg_benford_digits", oracle=_BENFORD_ORACLE)
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit of transaction amounts — the
    classic forensic-accounting fraud screen (organic amounts follow
    log10(1+1/d); fabricated ones cluster unnaturally). Emits exact
    per-digit counts and integer-basis-point shares; judging the
    distribution against the Benford curve is the analyst's final step,
    the engine's job is the exact distribution.

    Scale shape: first digit is a codegen string expression; ONE
    partial-agg groupBy over nine groups; the denominator is the SUM of
    the nine grouped counts (not a second pass over events — deriving
    it from the grouped relation lets ReusedExchange serve both
    consumers from one scan+shuffle; a separate digits.count() branch
    shared no exchange and read events twice), riding along as a 1-row
    broadcast. Cents (not dollars) so sub-dollar amounts keep a
    meaningful leading digit."""
    ev = load(spark, sf_dir, "events")
    c = cents(F.col("value"))
    digits = ev.select(
        F.substring(c.cast("string"), 1, 1).cast("bigint").alias("d")
    ).where(c > 0)
    grouped = digits.groupBy("d").agg(F.count("*").alias("n"))
    total = grouped.agg(F.sum("n").alias("tot"))
    return (
        grouped
        .crossJoin(F.broadcast(total))
        .select(
            F.col("d").alias("first_digit"),
            F.col("n").cast("bigint").alias("n_amounts"),
            F.expr("(10000 * n) div tot").cast("bigint").alias("share_bp"),
        )
    )


_PARETO_ORACLE = """
WITH totals AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS t
  FROM events GROUP BY user_id
), ranked AS (
  SELECT t,
         ROW_NUMBER() OVER (ORDER BY t DESC, user_id) AS r,
         SUM(t) OVER (ORDER BY t DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM totals
), g AS (
  SELECT COUNT(*) AS n, SUM(t) AS grand FROM totals
)
SELECT CAST((SELECT n FROM g) AS BIGINT) AS n_users,
       CAST((SELECT grand FROM g) AS BIGINT) AS total_cents,
       CAST(MIN(r) AS BIGINT) AS users_for_80pct,
       CAST((10000 * MIN(r)) // (SELECT n FROM g) AS BIGINT)
         AS user_share_bp
FROM ranked
WHERE 5 * cum >= 4 * (SELECT grand FROM g)
"""


@query("agg_pareto_8020", oracle=_PARETO_ORACLE)
def agg_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO 80/20 concentration point: the minimum number of top
    spenders whose cumulative spend reaches 80% of the total, and the
    share of the user base they represent — the concentration curve's
    single most-quoted point (complements agg_gini's full-distribution
    coefficient). The 80% test is `5*cum >= 4*grand` — pure integer,
    no percentage float anywhere.

    Scale shape: partial-agg collapse to per-user totals, one running
    sum over the users-sized relation, one reduce. The global order is
    safe because it sorts users, never events."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(cents(F.col("value"))).alias("t")
    )
    g = totals.agg(
        F.count("*").alias("n"), F.sum("t").alias("grand")
    )
    w = Window.orderBy(F.desc("t"), "user_id")
    ranked = totals.select(
        F.row_number().over(w).alias("r"),
        F.sum("t")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    hit = (
        ranked.crossJoin(F.broadcast(g))
        .where(F.col("cum") * 5 >= F.col("grand") * 4)
        .agg(
            F.min("r").alias("users_for_80pct"),
            F.first("n").alias("n"),
            F.first("grand").alias("grand"),
        )
    )
    return hit.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("grand").cast("bigint").alias("total_cents"),
        F.col("users_for_80pct").cast("bigint"),
        F.expr("(10000 * users_for_80pct) div n")
        .cast("bigint")
        .alias("user_share_bp"),
    )
