"""Property-based tests (hypothesis) for the two mechanisms every oracle
match depends on: the portable LCG (identical in Python, Spark SQL, and
DuckDB) and exact integer-cents money arithmetic (identical under any
partitioning/order). Examples are batched into ONE Spark job per test so
hypothesis's example count doesn't multiply JVM job overhead."""

from __future__ import annotations

import decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fintech_data_lake_as_code_spark.sources.datagen import (
    LCG_A,
    LCG_C,
    LCG_M,
    lcg_sql,
)


def _py_lcg(x: int) -> int:
    return (x * LCG_A + LCG_C) % LCG_M


@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=50))
@settings(max_examples=25, deadline=None)
def test_lcg_python_equals_duckdb(seeds):
    con = duckdb.connect()
    vals = ", ".join(f"({s})" for s in seeds)
    got = con.execute(
        f"SELECT {lcg_sql('CAST(x AS BIGINT)')} FROM (VALUES {vals}) t(x)"
    ).fetchall()
    assert [g[0] for g in got] == [_py_lcg(s) for s in seeds]


def test_lcg_python_equals_spark(spark):
    # deterministic pseudo-random probe set incl. boundary seeds
    seeds = [0, 1, 2**31 - 1, LCG_M - 1] + [(_py_lcg(i * 7919) % LCG_M) for i in range(200)]
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.sources.datagen import lcg

    df = spark.createDataFrame([(s,) for s in seeds], "x long").select(
        "x", lcg(F.col("x")).alias("y")
    )
    got = {r.x: r.y for r in df.collect()}
    assert got == {s: _py_lcg(s) for s in seeds}


@given(
    st.lists(
        st.decimals(
            min_value=decimal.Decimal("-999999.99"),
            max_value=decimal.Decimal("999999.99"),
            places=2,
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=25, deadline=None)
def test_cents_sum_is_exact_and_order_free(vals):
    # the pure-arithmetic core of exact_sum: summing scaled BIGINTs must
    # equal exact decimal addition regardless of order/grouping
    cents = [int(v * 100) for v in vals]
    total = decimal.Decimal(sum(cents)) / 100
    assert total == sum(vals)
    assert sum(sorted(cents)) == sum(reversed(sorted(cents))) == sum(cents)


@pytest.mark.parametrize("n_part", [1, 3, 32])
def test_exact_sum_identical_under_any_partitioning(spark, n_part):
    # 2-decimal doubles chosen to sit on round-boundary hazards (x.xx5):
    # float64 sum order changes the naive result; exact_sum must not move
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.functions.exact import exact_sum

    rows = [(i, ((i * 37) % 1000) + 0.005 + (i % 7) * 0.11,) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(n_part)
    got = df.agg(exact_sum(F.col("v")).alias("s")).first().s
    # the SQL-side mirror formula on the SAME binary doubles must agree
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["id", "v"]))
    expected = con.execute(
        "SELECT CAST(SUM(CAST(ROUND(v * 100, 0) AS BIGINT)) AS DOUBLE) / 100 FROM t"
    ).fetchone()[0]
    assert got == expected
    # and identical across partitionings (the order-independence invariant)
    base = df.coalesce(1).agg(exact_sum(F.col("v")).alias("s")).first().s
    assert got == base


def test_funnel_stages_are_consistent(spark, sf_dir):
    # stage timestamps must be strictly ordered and stage counts monotone:
    # every stage-3 user is a stage-2 user is a stage-1 user
    from fintech_data_lake_as_code_spark.registry import registry

    rows = registry()["win_funnel_conversion"].fn(spark, sf_dir).collect()
    assert rows, "no funnel entrants"
    for r in rows:
        if r.funnel_stage >= 2:
            assert r.t_click is not None and r.t_click > r.t_view
            assert r.t_click <= r.t_view + 7 * 86400
        else:
            assert r.t_click is None
        if r.funnel_stage == 3:
            assert r.t_purchase is not None and r.t_purchase > r.t_click
        else:
            assert r.t_purchase is None
    stages = {s: sum(1 for r in rows if r.funnel_stage >= s) for s in (1, 2, 3)}
    assert stages[1] >= stages[2] >= stages[3]


def test_pack_sequences_partitions_the_corpus_exactly(spark, sf_dir):
    # packing is a partition of the corpus: doc counts and token counts
    # must add up exactly, and doc-id ranges of consecutive sequences of
    # one source must not interleave
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.registry import registry

    rows = registry()["text_pack_sequences"].fn(spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    totals = d.select(
        F.count("*").alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("t"),
    ).first()
    assert sum(r.n_docs for r in rows) == totals.n
    assert sum(r.n_tokens for r in rows) == totals.t
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for src, seqs in by_source.items():
        seqs.sort(key=lambda r: r.seq_id)
        for a, b in zip(seqs, seqs[1:]):
            assert a.last_doc < b.first_doc, (src, a, b)


def test_rolling_distinct_dominates_daily_distinct(spark, sf_dir):
    # a 7-day window can never see fewer users than its last day alone,
    # nor more than the global distinct count
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.registry import registry

    roll = {
        r.day_epoch: r.users_7d
        for r in registry()["agg_rolling_distinct"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    daily = {
        r.d: r.u
        for r in ev.groupBy(
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("d")
        )
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    total = ev.select("user_id").distinct().count()
    for day, users in daily.items():
        assert roll[day] >= users
        assert roll[day] <= total


def test_gap_fill_spine_is_dense_and_filled(spark, sf_dir):
    # per user: hours are consecutive from first to last active hour, no
    # nulls after the fill, and first spine row is always observed
    from fintech_data_lake_as_code_spark.registry import registry

    rows = registry()["win_asof_gap_fill"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        assert r.cents_filled is not None, r
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    some_gap = False
    for u, urows in by_user.items():
        urows.sort(key=lambda r: r.hour_epoch)
        hours = [r.hour_epoch for r in urows]
        assert hours == list(range(hours[0], hours[-1] + 1, 3600)), u
        assert urows[0].is_observed, u
        some_gap = some_gap or any(not r.is_observed for r in urows)
    assert some_gap, "corpus has no gaps to fill — test is vacuous"


def test_idf_rarity_scores_every_doc_in_range(spark, sf_dir):
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.registry import registry

    rows = registry()["text_idf_rarity"].fn(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    # floor(10000/df) is 10000 for hapaxes and >= 0 always; the tiny
    # shared vocabulary of the synthetic corpus means means stay low
    assert all(0 <= r.rarity_bp <= 10000 for r in rows)
    assert len({r.rarity_bp for r in rows}) > 1, "scores degenerate"


def test_asof_forward_finds_the_true_next_purchase(spark, sf_dir):
    # recompute each user's purchase timeline from raw events and check the
    # operator's pick IS the earliest at-or-after purchase, with exact lag
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.registry import registry

    rows = registry()["join_asof_forward"].fn(spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if r.next_purchase_id is not None]
    assert matched, "forward as-of is vacuous on this corpus"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("te")
    )
    purchases = {}
    for r in ev.where(F.col("event_type") == "purchase").collect():
        purchases.setdefault(r.user_id, []).append(r.te)
    for ts in purchases.values():
        ts.sort()
    import bisect

    for r in rows:
        user_p = purchases.get(r.user_id, [])
        i = bisect.bisect_left(user_p, r.event_epoch)
        if r.next_purchase_id is None:
            assert i == len(user_p), r
        else:
            assert r.secs_until_purchase >= 0
            assert user_p[i] == r.event_epoch + r.secs_until_purchase, r


def test_pagerank_ranks_are_sane_and_deterministic(spark, sf_dir):
    # fixed-point PageRank: every rank >= the damping floor, both node
    # types surface, and a second run is bit-identical (pure function of
    # the input — no float drift, no RNG)
    from fintech_data_lake_as_code_spark.registry import registry

    fn = registry()["graph_pagerank"].fn
    rows = fn(spark, sf_dir).collect()
    assert rows
    assert all(r.rank_scaled >= 150000 for r in rows)
    assert {r.node_type for r in rows} == {"customer", "supplier"}
    again = fn(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def _get_session():
    # hypothesis @given can't consume the pytest spark fixture; reuse
    # the session-scoped singleton the fixture also builds
    from fintech_data_lake_as_code_spark.session import get_spark

    return get_spark("fintech-data-lake-tests")


@given(
    st.lists(
        st.integers(min_value=0, max_value=9),  # heavy ties on purpose
        min_size=1,
        max_size=60,
    ),
    st.sets(st.integers(min_value=-1, max_value=10), max_size=6),
)
@settings(max_examples=12, deadline=None)
def test_bucketed_ntile_equals_direct_ntile(vals, cuts):
    # the distributed-rank NTILE(5) (cut-point bucketing + per-bucket
    # row_number + offsets) must equal the single-partition ntile for
    # ANY value multiset (ties straddling bin boundaries included) and
    # ANY cut points — cut quality affects parallelism, never output
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fintech_data_lake_as_code_spark.operators.windows import (
        _bucket_expr,
        _ntile5_from_offsets,
    )

    spark = _get_session()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "user_id bigint, val bigint"
    )
    bucketed = df.withColumn("_b_s", _bucket_expr("val", sorted(cuts)))
    sizes = {
        r["_b_s"]: r["cnt"]
        for r in bucketed.groupBy("_b_s").agg(F.count("*").alias("cnt")).collect()
    }
    got = {
        r.user_id: r.s
        for r in _ntile5_from_offsets(bucketed, "val", sizes, "s").collect()
    }
    exp = {
        r.user_id: r.s
        for r in df.select(
            "user_id",
            F.ntile(5).over(Window.orderBy("val", "user_id")).cast("bigint").alias("s"),
        ).collect()
    }
    assert got == exp


def _bpe_apply_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Canonical BPE application: per merge rule in order, one
    left-to-right non-overlapping pass over the symbol sequence."""
    syms = list(word)
    for sa, sb in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == sa and syms[i + 1] == sb:
                out.append(sa + sb)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=12, deadline=None)
def test_bpe_segment_replace_is_canonical_application(words):
    # the double-space delimited replace() representation must merge
    # exactly like the canonical per-symbol algorithm for every learned
    # rule sequence — including adjacent repeats ('abab') and
    # overlapping runs ('aaa')
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.text import bpe_train

    spark = _get_session()
    d = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    merges = [
        (r.sa, r.sb)
        for r in bpe_train(d, n_merges=3).orderBy("merge_round").collect()
    ]
    # re-apply the learned merges via the engine's replace chain
    seg = F.concat(
        F.lit(" "), F.array_join(F.split("w", ""), "  "), F.lit(" ")
    )
    for sa, sb in merges:
        seg = F.replace(seg, F.lit(f" {sa}  {sb} "), F.lit(f" {sa}{sb} "))
    toks = spark.createDataFrame(
        [(w,) for w in set(words)], "w string"
    ).select("w", F.split(F.trim(seg), "  ").alias("toks"))
    got = {r.w: list(r.toks) for r in toks.collect()}
    for w in set(words):
        assert got[w] == _bpe_apply_reference(w, merges), (
            w,
            merges,
            got[w],
        )


def _uf_components(n_nodes: int, edge_list: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    touched = {x for e in edge_list for x in e}
    for x in touched:
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=39),
            st.integers(min_value=0, max_value=39),
        ),
        min_size=1,
        max_size=60,
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(max_examples=12, deadline=None)
def test_connected_components_match_union_find(spark, edges_list):
    # the iterative min-label propagation + pointer-jumping loop (the
    # machinery under dedup_cluster_cc) must agree with a driver-side
    # union-find on ANY undirected graph, including the shapes its stall
    # detector exists for: long chains, stars, mixed clique+chain — the
    # random graphs here regularly contain all three
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import (
        connected_components,
    )

    edge_list = [(a, b) for a, b in edges_list if a != b]
    sym = edge_list + [(b, a) for a, b in edge_list]
    edges = spark.createDataFrame(sym, "node long, other long").distinct()
    labels, rounds = connected_components(edges)
    got = {r.node: r.label for r in labels.collect()}
    assert got == _uf_components(40, edge_list)
    assert rounds >= 1


def test_release_local_checkpoint_frees_blocks_now(spark):
    # io.release_local_checkpoint reaches through internal API
    # (Dataset.logicalPlan -> LogicalRDD.rdd) to free a superseded
    # checkpoint's storage immediately; if a Spark upgrade moves those
    # internals the helper silently no-ops and the iterative loops
    # regress to GC-timed eviction (the bimodal BENCH r8 ghost) — this
    # test turns that silent regression loud.
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.io import release_local_checkpoint

    def stored_ids() -> set[int]:
        sc = spark.sparkContext
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = stored_ids()
    df = (
        spark.range(100_000)
        .select(F.col("id"), (F.col("id") * 3).alias("b"))
        .localCheckpoint(eager=True)
    )
    mine = stored_ids() - before
    assert mine, "localCheckpoint stored no blocks?"
    release_local_checkpoint(df)
    assert not (stored_ids() & mine), (
        "checkpoint blocks survived release_local_checkpoint — the "
        "internal LogicalRDD path has moved; update io.py or iterative "
        "loop storage goes back to GC-timed eviction"
    )


def test_seeded_landing_trusts_only_committed_matching_seeds(tmp_path):
    # io.seeded_landing: reuse requires BOTH _SUCCESS (job commit
    # finished) and a matching _SEED fingerprint; an unverifiable
    # fingerprint (None) must reseed every call and record no marker
    # that could read as false provenance.
    import os

    from fintech_data_lake_as_code_spark.io import seeded_landing

    out = str(tmp_path)
    calls = []

    def write():
        calls.append(1)
        open(os.path.join(out, "_SUCCESS"), "w").close()

    # cold: seeds once, then reuses
    seeded_landing(out, "fp1", write)
    seeded_landing(out, "fp1", write)
    assert len(calls) == 1
    # fingerprint change (derivation code edited): reseed
    seeded_landing(out, "fp2", write)
    assert len(calls) == 2
    # aborted write (no _SUCCESS): reseed even though _SEED matches
    os.remove(os.path.join(out, "_SUCCESS"))
    seeded_landing(out, "fp2", write)
    assert len(calls) == 3
    # unverifiable: reseed every call, marker removed
    seeded_landing(out, None, write)
    seeded_landing(out, None, write)
    assert len(calls) == 5
    assert not os.path.exists(os.path.join(out, "_SEED"))


def test_only_io_reads_the_application_id():
    # in-session reuse has one mechanism, io.session_memo, keyed by the
    # Spark applicationId: any other engine module reading the id is
    # hand-rolling its own per-application memo beside it
    import pathlib

    import fintech_data_lake_as_code_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    readers = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "applicationId" in p.read_text()
    )
    assert readers == ["io.py"], readers


def test_module_fingerprint_unreadable_source_returns_none():
    import types

    from fintech_data_lake_as_code_spark.io import module_fingerprint
    from fintech_data_lake_as_code_spark import io as io_module

    from fintech_data_lake_as_code_spark import registry as registry_module

    a = module_fingerprint(io_module)
    assert a is not None
    ghost = types.ModuleType("ghost")  # no __file__ at all
    assert module_fingerprint(ghost) is None
    ghost.__file__ = "/nonexistent/path/ghost.py"
    assert module_fingerprint(ghost) is None
    # several modules: per-module digests joined in argument order, and
    # one unreadable module makes the whole fingerprint unverifiable
    b = module_fingerprint(registry_module)
    assert module_fingerprint(io_module, registry_module) == f"{a}:{b}"
    assert module_fingerprint(io_module, ghost) is None


@given(
    st.lists(
        st.sampled_from(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",
                "spark structured streaming drains bounded sources",
                "completely unrelated words about parquet layouts",
            ]
        ),
        min_size=2,
        max_size=10,
    ),
    st.data(),
)
@settings(max_examples=8, deadline=None)
def test_incremental_pairs_emission_is_batch_cut_invariant(
    spark, texts, data
):
    # The streaming dedup claim in one property: emitting, per batch,
    # the pairs that touch a new doc (old side = all docs delivered
    # earlier) yields — summed over ANY cut of the corpus into ordered
    # batches — exactly the all-pairs result, each pair exactly once.
    # This is the math stream_dedup_incremental's exactly-once story
    # rests on; the deterministic streaming test covers the IO/replay
    # mechanics, this covers the emission algebra on random corpora/cuts.
    import pyspark.sql.functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import (
        _shingles,
        incremental_pairs,
    )

    docs = list(enumerate(texts))
    cuts = sorted(
        data.draw(
            st.sets(
                st.integers(min_value=1, max_value=len(docs) - 1), max_size=3
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(docs)]:
        if c > prev:
            batches.append(docs[prev:c])
            prev = c

    def shingled(rows, new_ids):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return (
            df.select("doc_id", _shingles(F.col("text")).alias("shingles"))
            .withColumn("n", F.size("shingles"))
            .withColumn(
                "hashes",
                F.array_sort(
                    F.transform("shingles", lambda s: F.xxhash64(s))
                ),
            )
            .withColumn("is_new", F.col("doc_id").isin(new_ids))
        )

    emitted = []
    for k, batch in enumerate(batches):
        seen = [r for b in batches[: k + 1] for r in b]
        new_ids = [i for i, _ in batch]
        rows = incremental_pairs(shingled(seen, new_ids)).collect()
        emitted.extend((r.id_a, r.id_b, r.jaccard_bp) for r in rows)

    all_ids = [i for i, _ in docs]
    direct = {
        (r.id_a, r.id_b, r.jaccard_bp)
        for r in incremental_pairs(shingled(docs, all_ids)).collect()
    }
    assert len(emitted) == len(set(emitted)), "a pair emitted twice"
    assert set(emitted) == direct


@given(
    st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
)
@settings(max_examples=300, deadline=None)
def test_ppjoin_prefix_filter_is_lossless_at_threshold(sa, sb):
    # The mathematical core every dedup strategy rests on, in the
    # ENGINE'S OWN integer arithmetic (operators/dedup.py
    # _prefix_postings/_candidate_ids — prefix length n - ceil(0.6n) + 1
    # via (6n+9)//10, size-ratio pruning nb*10 >= na*6 both ways, and
    # the symmetric positional bound 8*(1 + min(na-i, nb-j)) >=
    # 3*(na+nb)): NO pair whose exact Jaccard clears the 0.6 gate may
    # ever be pruned out of candidate generation. Pure Python on random
    # small "hash" sets — a change to the constants that silently drops
    # true pairs fails here without needing a Spark job.
    A, B = sorted(sa), sorted(sb)
    na, nb = len(A), len(B)
    o = len(sa & sb)
    if not o * 10000 >= 6000 * (na + nb - o):
        return  # below the verify gate — candidate generation owes nothing
    # the size-ratio prune must admit every qualifying pair
    assert nb * 10 >= na * 6 and na * 10 >= nb * 6
    # prefix postings exactly as _prefix_postings derives them
    pa = na - (6 * na + 9) // 10 + 1
    pb = nb - (6 * nb + 9) // 10 + 1
    pos_a = {h: i for i, h in enumerate(A[:pa], start=1)}
    fired = False
    for j, h in enumerate(B[:pb], start=1):
        i = pos_a.get(h)
        if i is None:
            continue
        if 8 * (1 + min(na - i, nb - j)) >= 3 * (na + nb):
            fired = True
            break
    assert fired, (
        f"qualifying pair pruned: na={na} nb={nb} overlap={o} "
        f"prefixes={A[:pa]}/{B[:pb]}"
    )


def test_sf_tag_distinguishes_same_basename_roots(tmp_path):
    # r12 latent finding: scratch was keyed by basename(sf_dir) ONLY, so
    # two dataset roots sharing a final component (/a/sf0.1 vs /b/sf0.1)
    # collided — every marker-guarded reuse would serve one dataset's
    # files to the other. The tag must separate them AND stay stable for
    # path spellings of the SAME root.
    from fintech_data_lake_as_code_spark.io import sf_tag

    a = tmp_path / "siteA" / "sf0.1"
    b = tmp_path / "siteB" / "sf0.1"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    assert sf_tag(str(a)) != sf_tag(str(b))
    # normalization: trailing slash / redundant segments don't re-key
    assert sf_tag(str(a)) == sf_tag(str(a) + "/")
    assert sf_tag(str(a)) == sf_tag(str(a / ".." / "sf0.1"))
    # human-readable prefix survives for on-disk debuggability
    assert sf_tag(str(a)).startswith("sf0.1-")


def test_write_marker_is_absent_or_complete(tmp_path):
    # io.write_marker's contract: the destination is never an EMPTY/torn
    # file (an empty marker reads as a mismatched fingerprint and forces
    # silent rebuilds forever). Overwrite goes through the same atomic
    # replace, and no temp debris survives.
    import os

    from fintech_data_lake_as_code_spark.io import write_marker

    marker = tmp_path / "_LAYOUT"
    write_marker(str(marker), "8:key:abc")
    assert marker.read_text() == "8:key:abc\n"
    write_marker(str(marker), "8:key:def\n")
    assert marker.read_text() == "8:key:def\n"
    leftovers = [f for f in os.listdir(tmp_path) if f != "_LAYOUT"]
    assert not leftovers, leftovers


def test_write_marker_sweeps_only_stale_orphan_temps(tmp_path):
    # A crashed writer's .tmp.<uuid> sibling must not live forever — but
    # a FRESH temp may belong to a live peer mid-write (unlinking it
    # would break the peer's os.replace), and another marker's temps are
    # not ours to touch. The sweep is age-gated and prefix-scoped.
    import os
    import time

    from fintech_data_lake_as_code_spark.io import write_marker

    marker = tmp_path / "_LAYOUT"
    stale = tmp_path / "_LAYOUT.tmp.deadbeef"
    fresh = tmp_path / "_LAYOUT.tmp.cafef00d"
    other = tmp_path / "_OTHER.tmp.deadbeef"
    for p in (stale, fresh, other):
        p.write_text("orphan\n")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    os.utime(other, (old, old))

    write_marker(str(marker), "8:key:abc")
    assert marker.read_text() == "8:key:abc\n"
    assert not stale.exists(), "stale orphan temp must be swept"
    assert fresh.exists(), "a fresh temp may be a live peer's in-flight write"
    assert other.exists(), "another marker's temps are not ours to sweep"


def test_pid_scratch_dir_contract(tmp_path, monkeypatch):
    # io.pid_scratch_dir (the streaming keys' shared scratch isolation):
    # a dead owner's dir is reclaimed, a live foreign process's dir is
    # untouchable, non-pid entries are ignored, and this process's own
    # previous dir is cleared so reruns are deterministic.
    import os
    import subprocess

    from fintech_data_lake_as_code_spark import io as fio

    monkeypatch.setattr(fio, "SCRATCH_ROOT", str(tmp_path))
    sf = str(tmp_path / "sfX")
    base = fio.scratch_dir(sf, "k")
    p = subprocess.Popen(["true"])
    p.wait()
    dead = os.path.join(base, f"pid{p.pid}")
    live = os.path.join(base, "pid1")  # PID 1 always exists
    other = os.path.join(base, "not_a_pid")
    mine_debris = os.path.join(base, f"pid{os.getpid()}", "debris")
    for d in (dead, live, other, mine_debris):
        os.makedirs(d, exist_ok=True)

    mine = fio.pid_scratch_dir(sf, "k")
    assert mine == os.path.join(base, f"pid{os.getpid()}")
    assert not os.path.exists(dead), "dead owner's dir not swept"
    assert os.path.exists(live), "live peer's dir must survive"
    assert os.path.exists(other), "non-pid entries are not ours to sweep"
    assert not os.path.exists(mine), "own previous dir is cleared on entry"


def _racing_seeder(out: str, log_path: str) -> None:
    """Worker for the seeded_landing race test (module-level so both
    fork- and spawn-start multiprocessing can import it)."""
    import os
    import time

    from fintech_data_lake_as_code_spark import io as fio

    def write():
        # append-mode O(1) evidence that THIS process executed write();
        # the sleep widens the window a second writer would need to
        # interleave into
        with open(log_path, "a") as fh:
            fh.write(f"{os.getpid()}\n")
        time.sleep(0.3)
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "_SUCCESS"), "w") as fh:
            fh.write("")

    fio.seeded_landing(out, "race-fp", write)


def test_seeded_landing_serializes_concurrent_first_seed(tmp_path):
    """Two processes race the FIRST seed of one landing dir: the
    landing_lock plus the on-wake marker re-check must execute write()
    exactly once (the r18 latent-sweep finding — before the lock, both
    racers observed a missing _SEED and ran overlapping overwrite jobs
    into the same directory)."""
    import multiprocessing as mp

    out = str(tmp_path / "landing")
    log = str(tmp_path / "writes.log")
    ctx = mp.get_context("fork")
    ps = [
        ctx.Process(target=_racing_seeder, args=(out, log))
        for _ in range(2)
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(30)
        assert p.exitcode == 0
    with open(log) as fh:
        writes = fh.read().splitlines()
    assert len(writes) == 1, (
        f"expected exactly one seeding write, got {len(writes)} "
        f"(pids {writes}) — the landing lock failed to serialize"
    )
    import os

    assert os.path.exists(os.path.join(out, "_SEED"))
    # and a THIRD entry after completion takes the fast path: no new write
    _racing_seeder(out, log)
    with open(log) as fh:
        assert len(fh.read().splitlines()) == 1


def test_cents_agree_across_engines_on_every_half_cent_tie(spark):
    """The r17 sweep class, pinned exhaustively: on the 0.005 grid every
    odd multiple lands value*100 on an exact .5 double, where NAIVE
    ROUND(value, 2) diverges between engines (Spark rounds the shortest
    decimal repr: 9.905 -> 9.91; DuckDB rounds the binary double:
    -> 9.90 — the win_lag_lead/win_running_frame finding). The repo
    convention — scale FIRST, round THEN (exact.cents) — must agree
    between Spark and DuckDB on EVERY grid point, ties included,
    because both engines round the SAME already-scaled double."""
    import duckdb

    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.functions.exact import cents

    ks = list(range(0, 4000))  # v = k * 0.005; odd k = exact .5-cent tie
    df = spark.createDataFrame([(k,) for k in ks], "k long").select(
        "k", cents(F.col("k") * 0.005).alias("c")
    )
    got_spark = {r.k: r.c for r in df.collect()}
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            "SELECT k, CAST(ROUND(k * 0.005::DOUBLE * 100, 0) AS BIGINT) "
            "FROM range(0, 4000) t(k)"
        ).fetchall()
    )
    assert got_spark == got_duck
    # sanity: the grid actually exercises ties (odd k -> x.5 cents)
    assert any(k % 2 == 1 for k in ks)


def test_only_local_sessions_delay_c2(spark):
    """`get_spark` passes the tier-4 (C2) thresholds to its driver JVM;
    `apply_engine_conf`, the path cluster sessions take, passes no JVM
    option at all, so long-lived JVMs keep HotSpot's defaults."""
    from pyspark.sql import SparkSession

    from fintech_data_lake_as_code_spark.session import (
        LOCAL_DRIVER_JIT_OPTIONS,
        apply_engine_conf,
    )

    jvm_args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    for flag in LOCAL_DRIVER_JIT_OPTIONS.split():
        assert flag.startswith("-XX:Tier4") and flag in jvm_args, flag
    conf = apply_engine_conf(SparkSession.builder)._options
    assert not [k for k in conf if "extraJavaOptions" in k]
