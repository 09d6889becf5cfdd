"""Testdata-contract assertions (FIXTURES.md): the driver regenerates the
parquet fixtures every round and column types/values have drifted before
(events.ts TIMESTAMP(NANOS)). Operators encode some of these assumptions
structurally (null filters, greatest(...,1) guards); this file makes the
REST of the contract fail loudly at test time with a named assumption,
instead of surfacing as an inscrutable oracle hash mismatch."""

from __future__ import annotations

from pyspark.sql import functions as F

from fintech_data_lake_as_code_spark.io import load


def test_events_contract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    r = ev.agg(
        F.count("*").alias("n"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_users"),
        F.sum(F.col("ts").isNull().cast("int")).alias("null_ts"),
        F.sum(F.col("event_id").isNull().cast("int")).alias("null_ids"),
        F.countDistinct("event_id").alias("distinct_ids"),
    ).first()
    assert r.n > 0
    # CMS/cohort queries drop null users defensively; a MOSTLY-null column
    # would mean the generator changed shape — surface that here
    assert r.null_users == 0, f"{r.null_users} NULL user_ids (drift?)"
    assert r.null_ts == 0, "NULL event timestamps (drift?)"
    assert r.null_ids == 0 and r.distinct_ids == r.n, (
        "event_id must be a unique non-null key (as-of tie-breaks rely on it)"
    )
    # ts must arrive as a usable timestamp whatever the parquet physical
    # type (io.load normalizes TIMESTAMP(NANOS))
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes


def test_documents_contract(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    r = d.agg(
        F.count("*").alias("n"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_text"),
        F.sum((F.col("n_chars") <= 0).cast("int")).alias("nonpos_chars"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        F.max("doc_id").alias("max_id"),
        F.sum((F.col("doc_id") % 7 == 0).cast("int")).alias("n_mod7"),
        F.sum((F.col("doc_id") % 37 == 0).cast("int")).alias("n_mod37"),
    ).first()
    assert r.n > 0 and r.distinct_ids == r.n
    assert r.null_text == 0, "NULL document text (drift?)"
    # sample_weighted_priority guards n_chars>=1, but weights of 0 would
    # silently degenerate the sampling law — surface the drift
    assert r.nonpos_chars == 0, f"{r.nonpos_chars} docs with n_chars <= 0"
    # the planted-twin/excerpt/benchmark id offsets (+100000 / +200000)
    # must not collide with real ids
    assert r.max_id < 100000, f"doc_id {r.max_id} collides with twin offset"
    # decontamination/containment need non-empty planted residue classes
    assert r.n_mod7 > 0 and r.n_mod37 > 0, "planted residue classes empty"


def test_embeddings_contract(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    r = e.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.size("embedding")).alias("n_dims"),
        F.sum(F.col("embedding").isNull().cast("int")).alias("null_vecs"),
    ).first()
    assert r.n > 0
    assert r.null_vecs == 0, "NULL embedding vectors (drift?)"
    # every ANN path assumes a single fixed dimensionality
    assert r.n_dims == 1, "embedding dimensionality is not uniform"


def test_bench_summary_line_stays_tail_safe():
    # VERDICT r8 #3: the BENCH artifact is parsed from a TAIL capture of
    # bench.py's stdout, so the LAST line must be the compact summary
    # and must stay short. Build the summary exactly as bench.py does,
    # with every headline/extras/fresh key populated at worst-case float
    # widths, and pin the encoded size under the budget.
    import json

    import bench

    fat = {k: 123.456 for k in bench.HEADLINE}
    summary = bench.build_summary(
        sf=0.1,
        timings=fat,
        total=sum(fat.values()),
        cal_ratio=0.123,
        extras_total=1234.567,
        extras_v3_total=1234.567,
        extras_v4_total=1234.567,
        extras_v5_total=1234.567,
        fresh={k: 123.456 for k in bench.FRESH_KEYS},
        cal_post_ratio=12.345,
        shuffle_ratio=12.345,
        shuffle_post_ratio=12.345,
        extras_v6_total=1234.567,
        # worst case: EVERY headline key leaked every rep — the summary
        # must still fit the tail budget
        cache_leaks={k: 99 for k in bench.HEADLINE},
    )
    line = json.dumps(summary)
    assert len(line) < bench.SUMMARY_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    for field in (
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "value_normalized",
        "extras_total",
        "extras_v3_total",
        "extras_v4_total",
        "extras_v5_total",
        "extras_v6_total",
        "calibration_post_ratio",
        "calibration_shuffle_ratio",
        "calibration_shuffle_post_ratio",
        "cache_leaks",
    ):
        assert field in parsed, field
    # a healthy run emits cache_leaks={}
    healthy = bench.build_summary(
        sf=0.1,
        timings=fat,
        total=sum(fat.values()),
        cal_ratio=1.0,
        extras_total=1.0,
        extras_v3_total=1.0,
        extras_v4_total=1.0,
        extras_v5_total=1.0,
        fresh={},
        cache_leaks={},
    )
    assert healthy["cache_leaks"] == {}


def test_bench_key_lists_exist_in_registry():
    # bench.py skips unknown keys silently (queries.get -> continue), so
    # a renamed/deleted key would just vanish from the timed totals and
    # the regression record with it. Every frozen bench list must stay a
    # subset of the registry, and the frozen lists must stay disjoint
    # (a key timed twice would double-count in its block's total).
    import bench
    from fintech_data_lake_as_code_spark.registry import registry

    keys = set(registry())
    lists = {
        "HEADLINE": bench.HEADLINE,
        "EXTRAS": bench.EXTRAS,
        "EXTRAS_V3": bench.EXTRAS_V3,
        "EXTRAS_V4": bench.EXTRAS_V4,
        "EXTRAS_V5": bench.EXTRAS_V5,
        "EXTRAS_V6": bench.EXTRAS_V6,
        "FRESH_KEYS": bench.FRESH_KEYS,
    }
    for name, block in lists.items():
        missing = set(block) - keys
        assert not missing, f"{name} names unregistered keys: {missing}"
        assert len(block) == len(set(block)), f"{name} has duplicates"
    all_keys = [k for block in lists.values() for k in block]
    assert len(all_keys) == len(set(all_keys)), "a key appears in two blocks"
