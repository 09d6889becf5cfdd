"""UDF / UDAF / UDTF surface (SURVEY.md §2.C) — the deliberate Python
extension points. Everything else in the engine stays JVM-side; these three
queries exercise each Python escape hatch with Arrow batching.

Reference parity: the city/feature vocabulary normalizer (case/name drift,
setupTables.py:16,20 — SURVEY §1.4.4) as a vectorized scalar UDF; a custom
regularity score (ref B7, setupTables.py:41) as a grouped-map UDAF; token
expansion as a UDTF.

Scale notes: pandas_udf/applyInPandas move data via Arrow record batches
(~10-100x over row-at-a-time UDFs); the grouped map shuffles once on
user_id. The UDTF fans out rows JVM->Python->JVM — at 100 TB prefer the
built-in explode (see text.py) unless per-row logic is genuinely Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load, width_preserving_spread
from ..registry import query

# Synonym map mirroring the reference's two feature vocabularies
# (setupTables.py:16 uppercase enum vs :20 lowercase aliases).
_SYNONYMS = {
    "view": "ENQUIRY",
    "click": "FUNDTRANSFER",
    "purchase": "CAPITALMARKET-INVEST",
    "signup": "UPITRANSACTION",
    "error": "NON_MONETARY",
}


@query(
    "udf_scalar_python",
    oracle="""
    SELECT CASE lower(event_type)
             WHEN 'view' THEN 'ENQUIRY'
             WHEN 'click' THEN 'FUNDTRANSFER'
             WHEN 'purchase' THEN 'CAPITALMARKET-INVEST'
             WHEN 'signup' THEN 'UPITRANSACTION'
             WHEN 'error' THEN 'NON_MONETARY'
             ELSE upper(event_type) END AS feature_norm,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: vocabulary normalizer
    (ref §1.4.4 'upi' vs 'UPITRANSACTION' drift)."""

    @F.pandas_udf(T.StringType())
    def normalize(s: pd.Series) -> pd.Series:
        low = s.str.lower()
        return low.map(_SYNONYMS).fillna(s.str.upper())

    ev = load(spark, sf_dir, "events")
    return ev.groupBy(normalize("event_type").alias("feature_norm")).agg(
        F.count("*").alias("n_events")
    )


@query(
    "udf_vectorized_agg",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), m AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(gap_us) AS n,
             SUM(CAST(gap_us AS HUGEINT)) AS sx,
             SUM(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT)) AS sxx
      FROM g
      GROUP BY user_id
      HAVING COUNT(*) >= 3
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                 / 1e6, 4) AS gap_std
    FROM m
    """,
)
def udf_vectorized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDAF (grouped-agg pandas_udf): per-user
    inter-event-gap regularity score (ref B7 'regular forex ... continuous
    scrutiny', setupTables.py:41).

    Hybrid split for scale: the ORDER-dependent part (lag over user_id, ts)
    runs JVM-side in a window; Python receives only the unordered gap
    vectors per group and computes the std — an order-free reduction, so no
    per-group sort or DataFrame construction crosses the Arrow boundary.
    (~4x faster than the naive applyInPandas sort-in-Python formulation.)

    Exactness: gaps cross the Arrow boundary as INTEGER microseconds and
    the std comes from exact integer moments (arbitrary-precision Python
    ints mirroring the oracle's HUGEINT sums), with the final
    sqrt/divisions taken in double from identical integers in the same
    order on both engines — pandas .std(ddof=1)'s float accumulation
    order vs stddev_samp's is otherwise a final-ulp coin flip that
    round(,4) cannot pin at a rounding boundary."""
    from pyspark.sql.window import Window

    @F.pandas_udf("double")
    def pd_gap_std(gaps: pd.Series) -> float:
        # nulls coerce int64 -> float64 in pandas; the values are exact
        # (|gap_us| << 2^53), so the round-trip back to int is lossless
        ints = [int(v) for v in gaps.dropna()]
        n = len(ints)
        if n < 2:
            return None
        sx = sum(ints)
        sxx = sum(v * v for v in ints)
        import math

        return (
            math.sqrt(float(n * sxx - sx * sx) / float(n) / float(n - 1))
            / 1e6
        )

    @F.pandas_udf("long")
    def pd_n(gaps: pd.Series) -> int:
        # row count incl. the null first-gap (Spark can't mix pandas and
        # built-in aggregates in one agg, so count is pandas-side too)
        return len(gaps)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # The window exchange over the one small events file AQE-coalesces
    # to ONE partition. A repartition on the window/group key
    # (io.width_preserving_spread) satisfies the window's AND the grouped
    # aggregate's clustering, so it replaces the window's own exchange
    # and spreads the Python work. Per-group results are
    # partitioning-independent.
    ev = (
        width_preserving_spread(load(spark, sf_dir, "events"), "user_id")
        .select(
            "user_id",
            "event_id",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
                "gap_us"
            ),
        )
    )
    return (
        ev.groupBy("user_id")
        .agg(
            pd_n("gap_us").alias("n_events"),
            F.round(pd_gap_std("gap_us"), 4).alias("gap_std"),
        )
        .where(F.col("n_events") >= 3)
    )


@query(
    "udtf_expand",
    oracle="""
    SELECT doc_id, CAST(i AS INTEGER) AS pos, parts[i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS parts
          FROM documents WHERE doc_id < 20),
         UNNEST(generate_series(1, len(parts))) AS t(i)
    """,
)
def udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark >=3.5): expand each document into (pos, word)
    rows — the table-function surface. The built-in posexplode path is the
    100 TB default (text.py); this exercises the UDTF mechanism."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, word: string")
    class Tokenize:
        def eval(self, text: str):
            # NULL text expands to no rows — the oracle's UNNEST over
            # string_split(NULL) emits nothing, and a UDTF must treat
            # SQL NULL as absent input, not crash on None.split.
            if text is None:
                return
            for i, w in enumerate(text.split(" "), start=1):
                yield i, w

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t
        """
    )


@query(
    "udf_cogrouped",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS event_cents
      FROM events GROUP BY user_id
    ), od AS (
      SELECT o_custkey AS user_id,
             COUNT(*) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS order_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(ev.user_id, od.user_id) AS user_id,
           CAST(COALESCE(ev.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(od.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(ev.event_cents, 0) AS BIGINT) AS event_cents,
           CAST(COALESCE(od.order_cents, 0) AS BIGINT) AS order_cents
    FROM ev FULL OUTER JOIN od ON ev.user_id = od.user_id
    """,
)
def udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped pandas transform (`cogroup().applyInPandas`): events and
    orders are grouped on the same key and each user's two pandas frames
    arrive together in one Python call — the escape hatch for per-key
    logic that needs BOTH sides at once and can't be a join (model scoring
    over two feeds, custom reconciliation). One shuffle per side, Arrow
    both ways; semantics pinned to the full-outer-join-of-aggregates
    oracle."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("event_cents", T.LongType()),
            T.StructField("order_cents", T.LongType()),
        ]
    )

    import numpy as np

    def _cents_sum(s: pd.Series) -> int:
        # half-AWAY-from-zero cents (the Spark F.round / DuckDB ROUND
        # rule), vectorized — pandas .round() is numpy half_to_even
        # (banker's), one cent off on any exact .5 tie. Mirrors
        # streaming.queries._py_cents; |cents| << 2^53 so the float
        # math is exact before the int64 cast. dropna() first: the
        # oracle's SUM ignores NULLs, and a NaN reaching the int64
        # cast would poison the whole sum with INT64_MIN garbage.
        # Ulp caveat (shared with _py_cents): floor(|x|+0.5) is NOT
        # exact-decimal half-away at ulp-edge doubles — e.g. x*100 ==
        # 0.49999999999999994 has x+0.5 round UP to 1.0 in FP where
        # true half-away yields 0. Unreachable from 2-dp fixture data
        # (those scale to exact-or-representable cents); a latent
        # cross-engine divergence only for foreign full-precision
        # inputs, where the exact route is Decimal quantize.
        scaled = s.dropna().to_numpy(dtype="float64") * 100.0
        cents = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
            "int64"
        )
        return int(cents.sum())

    def reconcile(key, ev_pdf: pd.DataFrame, od_pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [len(ev_pdf)],
                "n_orders": [len(od_pdf)],
                "event_cents": [_cents_sum(ev_pdf["value"])],
                "order_cents": [_cents_sum(od_pdf["o_totalprice"])],
            }
        )

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    od = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice"
    )
    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInPandas(reconcile, out_schema)
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT event_id,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
           upper(event_type) AS type_uc,
           CAST(ROUND(value * 100, 0) AS BIGINT) % 97 AS cents_mod
    FROM events
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-Arrow UDF surface: `mapInArrow` hands the Python worker
    pyarrow RecordBatches directly — no pandas conversion layer — and
    the transformation runs as Arrow compute kernels (C++-vectorized,
    zero-copy). This is the lane for columnar-native Python libraries
    (polars, vectorized codecs, Arrow-backed feature stores) where the
    pandas bridge would cost a copy per batch. Row-wise semantics only,
    so batch boundaries cannot affect the result — the exact SQL oracle
    certifies the entire Arrow round-trip (values in, kernel math,
    values out).

    Scale shape: partition-parallel map with no shuffle; Arrow batch
    size (spark.sql.execution.arrow.maxRecordsPerBatch) bounds worker
    memory at any scale."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for b in batches:
            # round_mode matters: pyarrow defaults to half_to_even
            # (banker's), which diverges from Spark F.round / DuckDB
            # ROUND (both half away from zero) on every exact .5
            # double — half_towards_infinity is the away-from-zero
            # mode (the streaming _py_cents convention, Arrow lane)
            cents = pc.cast(
                pc.round(
                    pc.multiply(b.column("value"), 100.0),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            # no pc.mod kernel: x % 97 == x - (x // 97) * 97 (cents >= 0;
            # pyarrow integer divide IS integer division)
            mod97 = pc.subtract(
                cents, pc.multiply(pc.divide(cents, 97), 97)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("event_id"),
                    cents,
                    pc.utf8_upper(b.column("event_type")),
                    mod97,
                ],
                ["event_id", "cents", "type_uc", "cents_mod"],
            )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    return ev.mapInArrow(
        kernel,
        "event_id bigint, cents bigint, type_uc string, cents_mod bigint",
    )
