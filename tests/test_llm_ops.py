"""LLM-pipeline operator tests: planted-duplicate recall and ANN quality.
The oracle gate proves each query equals its DuckDB re-expression; these
tests pin the SEMANTIC contracts the oracles can't see — that dedup finds
the planted twins and that the ANN indexes actually recall the exact
top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from fintech_data_lake_as_code_spark.io import load
from fintech_data_lake_as_code_spark.registry import registry

SPECS = registry()


def _planted_doc_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    ids = [r.doc_id for r in d.where(F.col("doc_id") % 10 == 0).select("doc_id").collect()]
    return {(i, i + 100000) for i in ids}


def test_minhash_finds_planted_twins(spark, sf_dir):
    planted = _planted_doc_pairs(spark, sf_dir)
    got = {
        (r.id_a, r.id_b)
        for r in SPECS["dedup_near_minhash"].fn(spark, sf_dir).collect()
    }
    # every planted twin (9/10+ shingles shared, true jaccard ~0.9) found
    missed = planted - got
    assert not missed, f"minhash missed planted twins: {sorted(missed)[:5]}"
    # extras are estimator noise (16 perms => jaccard stderr ~0.12 on this
    # tiny-vocabulary corpus); bound them rather than forbid them
    extras = got - planted
    assert len(extras) <= len(planted) * 2, f"too many FPs: {len(extras)}"


def test_simhash_finds_planted_twins(spark, sf_dir):
    planted = _planted_doc_pairs(spark, sf_dir)
    got = {
        (r.id_a, r.id_b)
        for r in SPECS["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    # one extra shingle flips few bits: hamming <= 9 catches nearly all
    found = planted & got
    assert len(found) >= len(planted) * 0.9, (
        f"simhash recall too low: {len(found)}/{len(planted)}"
    )
    assert len(got - planted) <= len(planted) * 2


def test_simhash_candidate_recall_is_exact_at_radius_9(spark):
    # The pigeonhole guarantee the multi-probe banding provides (r13
    # latent finding): a hamming-9 pair whose differing bits touch EVERY
    # 10-bit band — one band with 4 flipped bits, the rest with 1 each —
    # defeats plain equal-band blocking (no band is clean) but must be
    # found, because the min-loaded band has <= 1 differing bit and the
    # Hamming-1 probe covers it. Planted fingerprints, not text: the
    # guarantee is a property of the banding core alone.
    from fintech_data_lake_as_code_spark.operators.dedup import (
        _simhash_pairs,
    )

    base = 0x0ABC_DEF0_1234_567  # arbitrary 60-bit pattern
    # flips: 4 bits in band 0 (bits 0..9), 1 bit in each of bands 1..5
    diff = (
        (1 << 0) | (1 << 3) | (1 << 5) | (1 << 9)
        | (1 << 11) | (1 << 27) | (1 << 33) | (1 << 44) | (1 << 55)
    )
    assert bin(diff).count("1") == 9
    # a far pair (hamming >> 9) that must NOT appear
    far = base ^ ((1 << 20) - 1)
    fp = spark.createDataFrame(
        [(1, base), (2, base ^ diff), (3, far)], "doc_id long, fp long"
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in _simhash_pairs(fp).collect()}
    assert pairs == {(1, 2): 9}, pairs


def test_embedding_cosine_finds_exactly_planted(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in e.where(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    }
    rows = SPECS["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == planted, "cosine near-dup should find exactly the +0.01 twins"
    assert all(r.cos_sim >= 0.99 for r in rows)


def _check_ann_shape(rows, top1=None):
    """Per-query: ranks dense from 1, cosines non-increasing, ANN never
    beats exact search."""
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    for q, qrows in by_query.items():
        qrows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in qrows] == list(range(1, len(qrows) + 1))
        cs = [r.cos_sim for r in qrows]
        assert all(a >= b for a, b in zip(cs, cs[1:]))
        if top1 is not None:
            assert cs[0] <= top1.get(q, 1.0) + 1e-9


def test_lsh_recall_against_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    # brute-force top-1 per query for the upper-bound check
    top1 = {}
    for (q, v), c in brute.items():
        top1[q] = max(top1.get(q, -2.0), c)
    lsh_rows = SPECS["sim_topk_lsh"].fn(spark, sf_dir).collect()
    assert len(lsh_rows) > 0
    # 4 tables x 6 planes with Hamming-1 multi-probe must recover at least
    # half the exact top-k on this near-random corpus (measured 0.60 at
    # sf0.01; single-table single-probe was 0.16)
    got = {(r.query_id, r.vec_id) for r in lsh_rows}
    recall = len(got & set(brute)) / len(brute)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"
    _check_ann_shape(lsh_rows, top1)


def test_ivf_recall_against_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.vec_id)
        for r in SPECS["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    ivf_rows = SPECS["sim_topk_ivf"].fn(spark, sf_dir).collect()
    got = {(r.query_id, r.vec_id) for r in ivf_rows}
    # every query answered with a full (or near-full) top-k
    assert len(ivf_rows) >= 40, len(ivf_rows)
    # probing 8 of 16 medoid cells must recover at least half the top-k
    recall = len(got & brute) / len(brute)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    _check_ann_shape(ivf_rows)


def test_ivf_kmeans_quantizer_beats_probe_share(spark, sf_dir):
    # the trained quantizer probes only 4 of 16 cells yet must still
    # recover over half the exact top-k — the cells are geometry-aware,
    # so recall far exceeds the 25% probed share of the corpus
    from fintech_data_lake_as_code_spark.operators.similarity import (
        sim_topk_ivf_kmeans,
    )

    brute = {
        (r.query_id, r.vec_id)
        for r in SPECS["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    rows = sim_topk_ivf_kmeans(spark, sf_dir).collect()
    got = {(r.query_id, r.vec_id) for r in rows}
    recall = len(got & brute) / len(brute)
    assert recall >= 0.5, f"k-means IVF recall {recall:.2f} too low"
    _check_ann_shape(rows)


def test_exact_dedup_finds_exactly_planted(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_planted = d.where(F.col("doc_id") % 10 == 0).count()
    rows = SPECS["dedup_exact"].fn(spark, sf_dir).collect()
    assert len(rows) == n_planted
    assert all(r.n_copies == 2 for r in rows)


def test_incremental_dedup_finds_twins_and_never_emits_old_pairs(spark, sf_dir):
    # planted twins (new, doc_id+100000) must pair with their old originals;
    # no returned pair may be old x old (the structural pruning claim)
    planted = _planted_doc_pairs(spark, sf_dir)
    rows = SPECS["dedup_incremental"].fn(spark, sf_dir).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    missed = planted - got
    assert not missed, f"incremental dedup missed twins: {sorted(missed)[:5]}"

    def is_new(doc_id):
        return doc_id % 2 == 1 or doc_id >= 100000

    old_old = [r for r in rows if not is_new(r.id_a) and not is_new(r.id_b)]
    assert not old_old, f"old x old pairs leaked: {old_old[:5]}"
    kinds = {(is_new(r.id_a) and is_new(r.id_b), r.pair_kind) for r in rows}
    assert all(
        (kind == "new_new") == both_new for both_new, kind in kinds
    ), kinds


def test_leakage_safe_split_keeps_twins_together(spark, sf_dir):
    # recompute the per-doc assignment the query aggregates over and check
    # every planted twin pair lands in ONE split (the leakage guarantee),
    # and that the aggregate itself reports a sane 80/20-ish composition
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import (
        _corpus,
        dedup_cluster_cc,
    )

    labels = dedup_cluster_cc(spark, sf_dir)
    assigned = (
        _corpus(spark, sf_dir)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    lcg = (
        (F.col("cluster_id") * 1000 + 7) * 1103515245 + 12345
    ) % 2147483648 % 100
    split_of = {
        r.doc_id: r.split
        for r in assigned.withColumn(
            "split", F.when(lcg < 80, "train").otherwise("eval")
        ).collect()
    }
    for a, b in _planted_doc_pairs(spark, sf_dir):
        assert split_of[a] == split_of[b], (a, b, split_of[a], split_of[b])

    agg = {
        r.split: r.n_docs
        for r in SPECS["sample_split_leakage_safe"].fn(spark, sf_dir).collect()
    }
    total = sum(agg.values())
    assert 0.6 < agg.get("train", 0) / total < 0.95, agg


def test_keep_best_elects_the_longer_twin(spark, sf_dir):
    # planted twins append one word, so the +100000 twin must survive its
    # pair cluster; member counts must cover every labeled doc exactly once
    rows = SPECS["dedup_keep_best"].fn(spark, sf_dir).collect()
    assert rows
    labels = SPECS["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    assert sum(r.n_members for r in rows) == len(labels)
    by_cluster = {r.cluster_id: r for r in rows}
    planted = _planted_doc_pairs(spark, sf_dir)
    label_of = {r.doc_id: r.cluster_id for r in labels}
    for orig, twin in planted:
        c = by_cluster[label_of[orig]]
        if c.n_members == 2:  # pure pair cluster: twin is longer, wins
            assert c.survivor_id == twin, (orig, twin, c)


def test_cc_chain_converges_logarithmically(spark):
    # a 200-node path graph is the adversarial shape for min-label
    # propagation (needs ~n rounds); the pointer-jumping contraction round
    # must close it in O(log n) — well under the production iteration cap
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.dedup import (
        connected_components,
    )

    n = 200
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "node bigint, other bigint"
    )
    edges = e.unionByName(
        e.select(F.col("other").alias("node"), F.col("node").alias("other"))
    )
    labels, rounds = connected_components(edges, max_iters=12)
    got = {r.node: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}, "chain must collapse to one label"
    assert rounds <= 9, f"expected O(log n) convergence, took {rounds} rounds"


def test_bmp_codec_roundtrip_and_rejects_garbage():
    # the decode operator's "real path": a genuine BMP writer + header
    # parser — dimensions must come back from parsed bytes, and non-BMP
    # payloads must fail loudly, not decode to nonsense
    import pytest

    from fintech_data_lake_as_code_spark.operators.text import (
        _decode_image_real,
        _encode_bmp,
    )

    bmp = _encode_bmp(b"\x00" * 33, width=11, height=3)
    assert bmp[:2] == b"BM" and len(bmp) == 54 + 33
    assert _decode_image_real(bmp) == (11, 3)
    # top-down bitmaps store negative height; report positive dims
    import struct

    topdown = bmp[:22] + struct.pack("<i", -3) + bmp[26:]
    assert _decode_image_real(topdown) == (11, 3)
    with pytest.raises(ValueError):
        _decode_image_real(b"GIF89a not a bitmap at all....................")


def test_bmp_dir_reseeds_on_stale_fingerprint(spark, sf_dir):
    # _bmp_dir's _SEED marker is checked by CONTENT (io+text module
    # fingerprints): a seed left by an older derivation must be
    # REPLACED, never trusted.
    import glob
    import os

    from fintech_data_lake_as_code_spark.operators.text import _bmp_dir

    out = _bmp_dir(spark, sf_dir)
    marker = os.path.join(out, "_SEED")
    with open(marker) as fh:
        fresh_fp = fh.read().strip()
    assert ":" in fresh_fp  # io-fingerprint : text-fingerprint
    n_files = len(glob.glob(os.path.join(out, "*.bmp")))
    assert n_files > 0

    # same fingerprint -> reuse (sentinel survives)
    sentinel = os.path.join(out, "_TEST_SENTINEL")
    with open(sentinel, "w") as fh:
        fh.write("x")
    assert _bmp_dir(spark, sf_dir) == out
    assert os.path.exists(sentinel)

    # stale fingerprint -> full reseed: marker restored, sentinel swept
    with open(marker, "w") as fh:
        fh.write("derivation-from-an-older-round\n")
    assert _bmp_dir(spark, sf_dir) == out
    with open(marker) as fh:
        assert fh.read().strip() == fresh_fp
    assert not os.path.exists(sentinel)
    assert len(glob.glob(os.path.join(out, "*.bmp"))) == n_files


def test_bmp_dir_reseeds_after_interrupted_write(spark, sf_dir):
    # a matching _SEED without _SUCCESS is the debris of an interrupted
    # reseed (the directory is cleared and refilled in place): it must
    # be rewritten, never listed as a complete image lake
    import glob
    import os

    from fintech_data_lake_as_code_spark.operators.text import _bmp_dir

    out = _bmp_dir(spark, sf_dir)
    n_files = len(glob.glob(os.path.join(out, "*.bmp")))
    assert n_files > 0
    assert os.path.exists(os.path.join(out, "_SEED"))
    os.remove(os.path.join(out, "_SUCCESS"))
    sentinel = os.path.join(out, "_TEST_SENTINEL")
    with open(sentinel, "w") as fh:
        fh.write("x")
    assert _bmp_dir(spark, sf_dir) == out
    assert not os.path.exists(sentinel)
    assert len(glob.glob(os.path.join(out, "*.bmp"))) == n_files
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_decontaminate_excludes_benchmark_and_bounds_share(spark, sf_dir):
    from fintech_data_lake_as_code_spark.operators.text import (
        DECONTAM_BENCH_MOD,
        DECONTAM_BP,
        text_decontaminate,
    )

    rows = text_decontaminate(spark, sf_dir).collect()
    assert rows, "decontamination must emit the non-benchmark corpus"
    for r in rows:
        # benchmark docs are the reference set, never scored themselves
        assert r.doc_id % DECONTAM_BENCH_MOD != 0
        assert 0 <= r.n_hits <= r.n_shingles
        assert 0 <= r.contamination_bp <= 10000
        assert r.contaminated == (r.contamination_bp >= DECONTAM_BP)


def test_weighted_sample_is_exact_topk_of_its_priority_law(spark, sf_dir):
    # recompute the sample definition in plain python over the corpus and
    # assert the operator returns EXACTLY that top-K — pins determinism
    # and the integer-arithmetic law, independent of data regeneration
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.text import (
        SAMPLE_K,
        sample_weighted_priority,
    )

    M, A, C = 2147483648, 1103515245, 12345
    corpus = load(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    expected = sorted(
        (
            ((r.doc_id % M * 1000 + 13) % M * A + C) % M // max(r.n_chars, 1),
            r.doc_id,
        )
        for r in corpus
    )[:SAMPLE_K]
    got = [
        (r.sample_key, r.doc_id)
        for r in sample_weighted_priority(spark, sf_dir).collect()
    ]
    assert got == expected


def test_containment_finds_every_planted_excerpt(spark, sf_dir):
    # every 7th doc has an excerpt twin (its first half, id + 200000);
    # the excerpt's shingles are a subset of the source's, so containment
    # must be exactly 100% with the excerpt on the small side — the case
    # symmetric Jaccard structurally misses
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.dedup import (
        dedup_containment,
    )

    pairs = {
        (r.id_small, r.id_big): r.containment_bp
        for r in dedup_containment(spark, sf_dir).collect()
    }
    planted = [
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
        if r.doc_id % 7 == 0
    ]
    assert planted
    for doc_id in planted:
        assert pairs.get((doc_id + 200000, doc_id)) == 10000, doc_id


def test_paragraph_dedup_drops_planted_cross_doc_paragraphs(spark):
    # a paragraph shared by two otherwise-distinct docs must drop from
    # BOTH; unique paragraphs survive; a within-doc repeat (present in
    # only one doc) is NOT a cross-doc dup and must be kept twice
    import hashlib

    from fintech_data_lake_as_code_spark.operators.dedup import (
        PARA_WORDS,
        paragraph_dedup,
    )

    shared = " ".join(f"w{i}" for i in range(PARA_WORDS))
    ua = " ".join(f"a{i}" for i in range(PARA_WORDS))
    ub = " ".join(f"b{i}" for i in range(PARA_WORDS))
    uc = " ".join(f"c{i}" for i in range(PARA_WORDS))
    d = spark.createDataFrame(
        [
            (1, f"{shared} {ua}"),
            (2, f"{shared} {ub}"),
            (3, uc),
            (4, f"{ub} {ub}"),  # ub now spans docs 2 and 4 -> dup too
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(d).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert (got[1].n_paras, got[1].n_dup_paras) == (2, 1)
    assert got[1].kept_fingerprint == md5(ua)
    assert (got[2].n_paras, got[2].n_dup_paras) == (2, 2)
    assert got[2].kept_fingerprint == md5("")
    assert (got[3].n_paras, got[3].n_dup_paras) == (1, 0)
    assert got[3].kept_fingerprint == md5(uc)
    assert (got[4].n_paras, got[4].n_dup_paras) == (2, 2)


def test_paragraph_dedup_flags_planted_twin_paragraphs(spark, sf_dir):
    # a planted twin appends ' zqx' at the END, so every paragraph but
    # the last is byte-identical to its original's: any pair whose
    # original spans >= 2 paragraphs must report dropped paragraphs on
    # BOTH sides (single-paragraph docs differ wholesale — no claim)
    planted = _planted_doc_pairs(spark, sf_dir)
    rows = {r.doc_id: r for r in SPECS["dedup_paragraph"].fn(spark, sf_dir).collect()}
    checked = 0
    for orig, twin in sorted(planted):
        if rows[orig].n_paras < 2:
            continue
        assert rows[orig].n_dup_paras >= 1, (orig, rows[orig])
        assert rows[twin].n_dup_paras >= 1, (twin, rows[twin])
        checked += 1
    assert checked > 0, "corpus had no multi-paragraph planted twins"


def test_repetition_stats_flags_planted_loop(spark):
    # a looped phrase must be fully duplicated-gram; a unique doc must
    # score zero and stay unflagged
    from fintech_data_lake_as_code_spark.operators.text import (
        repetition_stats,
    )

    d = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # every 3-gram occurs >= 2x
            (2, "p q r s t u v w x"),   # all 3-grams unique
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(d).collect()}
    assert got[1].n_grams == 7 and got[1].dup_bp == 10000
    assert got[1].top_bp == 3 * 10000 // 7 and got[1].repetitive
    assert got[2].n_dup_occ == 0 and got[2].dup_bp == 0
    assert not got[2].repetitive


def test_semantic_cluster_dedup_recall(spark, sf_dir):
    # SemDeDup: trained k-means clustering replaces label blocking; the
    # cluster-blocked exact-cosine pass must recover >=90% of the
    # label-blocked truth pairs, and every emitted pair must be a
    # genuine cosine>=0.99 pair (precision 1.0 within the truth set's
    # label blocks — cross-label finds are allowed, never counted).
    from fintech_data_lake_as_code_spark.operators.dedup import (
        dedup_embedding_cosine,
        semantic_cluster_pairs,
    )

    truth = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(spark, sf_dir)
        .select("id_a", "id_b")
        .collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in semantic_cluster_pairs(spark, sf_dir).collect()
    }
    assert truth, "truth set empty — planted twins missing"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"SemDeDup recall {recall:.2f} too low"
    # the contract row the driver grades must agree
    row = SPECS["dedup_semantic_cluster"].fn(spark, sf_dir).collect()[0]
    assert row.recall_ok
    assert row.n_true_pairs == len(truth)


def test_drawdown_known_sequence(spark):
    # hand-computed: flows +100, +50, -120 (purchase), +30, -80 ->
    # balance 100,150,30,60,-20; peak 100,150,150,150,150;
    # max drawdown = 150 - (-20) = 170
    import datetime as dt

    from fintech_data_lake_as_code_spark.operators.windows import (
        win_drawdown,
    )

    t0 = dt.datetime(2026, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 9, "view", 1.00, t0),
        (2, 9, "click", 0.50, t0 + m),
        (3, 9, "purchase", 1.20, t0 + 2 * m),
        (4, 9, "signup", 0.30, t0 + 3 * m),
        (5, 9, "purchase", 0.80, t0 + 4 * m),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string,"
        " value double, ts timestamp",
    )
    import fintech_data_lake_as_code_spark.operators.windows as W

    orig = W.load
    W.load = lambda s, d, t: df
    try:
        out = {r.user_id: r for r in win_drawdown(spark, "ignored").collect()}
    finally:
        W.load = orig
    assert out[9].peak_cents == 150
    assert out[9].max_drawdown_cents == 170


def test_fuzzy_join_probe_always_matches_origin(spark, sf_dir):
    # every probe is its origin word minus the SECOND char, which
    # preserves the first-char blocking key and sits at Levenshtein
    # distance exactly 1 — so per-probe recall of the blocking scheme
    # is total: EVERY (probe, origin) pair must appear in the result
    # with dist == 1 (ADVICE r7 #3: the old test never paired probes
    # with origins and could not fail)
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.joins import (
        FUZZY_LEX,
        join_fuzzy_edit_distance,
    )

    got = {
        (r.probe, r.matched): r.dist
        for r in join_fuzzy_edit_distance(spark, sf_dir).collect()
    }
    for dist in got.values():
        assert dist <= 1
    # rebuild the probe generator's (probe, origin) pairs independently
    lex = [
        r.word
        for r in load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(FUZZY_LEX)
        .collect()
    ]
    pairs = [(w[0] + w[2:], w) for w in lex if len(w) > 2]
    assert pairs, "lexicon had no words long enough to probe"
    for probe, orig in pairs:
        assert got.get((probe, orig)) == 1, (probe, orig)


def test_kanonymity_never_releases_under_k(spark, sf_dir):
    from fintech_data_lake_as_code_spark.operators.aggregates import (
        KANON_K,
        agg_kanonymity,
    )

    rows = agg_kanonymity(spark, sf_dir).collect()
    released = [r for r in rows if r.level in ("day", "week")]
    supp = [r for r in rows if r.level == "suppressed"]
    for r in released:
        assert r.n_rows >= KANON_K, r
    assert len(supp) == 1
    # conservation: released + suppressed == total events
    from fintech_data_lake_as_code_spark.io import load

    total = load(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in rows) == total


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    # each current-state row's probabilities must cover ~10000 bp
    # (floor division loses at most (n_next_states - 1) bp per row)
    from collections import defaultdict

    from fintech_data_lake_as_code_spark.operators.windows import (
        win_transition_matrix,
    )

    rows = win_transition_matrix(spark, sf_dir).collect()
    by_cur = defaultdict(list)
    for r in rows:
        by_cur[r.cur].append(r.prob_bp)
    for cur, probs in by_cur.items():
        assert 10000 - len(probs) < sum(probs) <= 10000, (cur, probs)


def test_negative_pairs_never_share_label(spark, sf_dir):
    from fintech_data_lake_as_code_spark.operators.similarity import (
        sample_negative_pairs,
    )

    rows = sample_negative_pairs(spark, sf_dir).collect()
    assert rows, "no negative pairs generated"
    for r in rows:
        assert r.anchor_label != r.neg_label
        assert r.anchor_id != r.neg_id


def test_maxsim_ann_shares_exact_scores_and_hits_top1(spark, sf_dir):
    # The ANN path must (a) score every candidate pair bit-identically
    # to the exact all-pairs form (shared _maxsim_scores core), (b)
    # answer every query label, and (c) keep the exact top-1 doc label
    # among its candidates for at least half the queries (the contract
    # floor; at fixture scale top_c exceeds the doc-label count so
    # recall is ~1).
    from pyspark.sql.window import Window

    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.similarity import (
        _dvec,
        maxsim_ann_scores,
        sim_maxsim_multivector,
    )

    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec("embedding").alias("x")
    )
    ann = maxsim_ann_scores(vecs, F.col("label") % 2 == 0)
    exact = sim_maxsim_multivector(spark, sf_dir)
    joined = ann.alias("a").join(
        exact.alias("e"), ["q_label", "d_label"]
    )
    n_ann = ann.count()
    assert n_ann > 0
    # (a) every ANN pair exists in exact with identical integer score
    agree = joined.where(
        (F.col("a.maxsim_bp") == F.col("e.maxsim_bp"))
        & (F.col("a.n_terms") == F.col("e.n_terms"))
    ).count()
    assert agree == n_ann
    # (b) every query label answered
    nq = exact.select("q_label").distinct().count()
    assert ann.select("q_label").distinct().count() == nq
    # (c) recall@1 floor
    w = Window.partitionBy("q_label").orderBy(
        F.col("maxsim_bp").desc(), F.col("d_label")
    )
    top1 = (
        exact.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("q_label", "d_label")
    )
    hits = top1.join(
        ann.select("q_label", "d_label"), ["q_label", "d_label"]
    ).count()
    assert 2 * hits >= nq


def test_maxsim_ann_top_c_caps_candidates(spark, sf_dir):
    # the structural scale guarantee: at top_c=1 each query label
    # scores EXACTLY one doc label, however many labels exist
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.similarity import (
        _dvec,
        maxsim_ann_scores,
    )

    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec("embedding").alias("x")
    )
    ann = maxsim_ann_scores(vecs, F.col("label") % 2 == 0, top_c=1)
    per_q = (
        ann.groupBy("q_label")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert per_q and all(r.n == 1 for r in per_q)


def test_bpe_merges_adjacent_repeats_in_one_pass(spark):
    # canonical non-overlapping left-to-right BPE: in 'abab', merge
    # (a,b) applies to BOTH occurrences in one round (the old
    # single-space delimiters consumed the shared space and merged only
    # the first — ADVICE r7 #4), so round 2's best pair is (ab,ab)
    from fintech_data_lake_as_code_spark.operators.text import bpe_train

    d = spark.createDataFrame([(1, "abab")], "doc_id bigint, text string")
    rows = {r.merge_round: r for r in bpe_train(d, n_merges=2).collect()}
    assert (rows[1].sa, rows[1].sb, rows[1].pair_weight) == ("a", "b", 2)
    assert (rows[2].sa, rows[2].sb, rows[2].merged) == ("ab", "ab", "abab")


def test_bpe_overlapping_triple_merges_left_to_right(spark):
    # 'aaa' under merge (a,a): left-to-right non-overlap gives (aa, a),
    # never (a, aa) from a phantom overlapping application
    from fintech_data_lake_as_code_spark.operators.text import bpe_train

    d = spark.createDataFrame([(1, "aaa")], "doc_id bigint, text string")
    rows = {r.merge_round: r for r in bpe_train(d, n_merges=2).collect()}
    assert (rows[1].sa, rows[1].sb, rows[1].pair_weight) == ("a", "a", 2)
    assert (rows[2].sa, rows[2].sb) == ("aa", "a")


def test_bpe_train_releases_round_caches(spark, sf_dir):
    # the merge loop caches one segment table per round; every handle —
    # including the final round's — must be unpersisted by return, so
    # storage is bounded by ONE round at any merge count (VERDICT r7
    # nit #2). Demonstrated at a deeper merge count than the registered
    # default to show the loop, not the constant, is bounded.
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.text import bpe_train

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = bpe_train(load(spark, sf_dir, "documents"), n_merges=10)
    assert out.count() == 10
    after = jsc.getPersistentRDDs().size()
    assert after == before, (before, after)


def test_bpe_tokenize_planted_corpus(spark):
    # 'abab ab' + 'cd' under 2 merges: r1 learns (a,b) w=3, r2 learns
    # (ab,ab) -> 'abab' is ONE token, 'ab' one, 'cd' stays two chars
    from fintech_data_lake_as_code_spark.operators.text import bpe_tokenize

    d = spark.createDataFrame(
        [(1, "abab ab", "s1"), (2, "cd", "s2")],
        "doc_id bigint, text string, source string",
    )
    got = {r.source: r for r in bpe_tokenize(d, n_merges=2).collect()}
    assert (got["s1"].n_words, got["s1"].n_tokens, got["s1"].n_chars) == (2, 2, 7)
    assert (got["s2"].n_words, got["s2"].n_tokens, got["s2"].n_chars) == (1, 2, 2)
    # chars-per-token: s1 = 7 chars / 2 tokens = 35000 bp
    assert got["s1"].chars_per_token_bp == 35000
    assert got["s2"].chars_per_token_bp == 10000


def test_bpe_train_stops_when_vocab_fully_merged(spark):
    # asking for more merges than the corpus supports must stop cleanly
    # (no empty-top-1 crash), emitting only the learnable rounds
    from fintech_data_lake_as_code_spark.operators.text import bpe_train

    d = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
    rows = bpe_train(d, n_merges=5).collect()
    assert [r.merge_round for r in rows] == [1]
    assert (rows[0].sa, rows[0].sb) == ("a", "b")


def test_bpe_tokenize_oracle_handles_exhausted_vocab(spark, tmp_path):
    # a corpus whose vocabulary fully merges before BPE_MERGES rounds
    # leaves the later t{r} oracle CTEs EMPTY; their NULL scalar
    # subqueries must no-op the dead replace rounds, not NULL-propagate
    # token counts to zero — the Spark engine and the DuckDB oracle must
    # still agree exactly
    import duckdb

    from fintech_data_lake_as_code_spark.operators.text import (
        BPE_MERGES,
        text_bpe_tokenize,
    )
    from fintech_data_lake_as_code_spark.registry import registry

    docs = spark.createDataFrame(
        [(1, "abc ab", "s1"), (2, "abc", "s1")],
        "doc_id bigint, text string, source string",
    )
    # 'abc','ab' exhaust after ~2-3 merges, well under BPE_MERGES
    assert BPE_MERGES >= 4
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r.source: (r.n_docs, r.n_words, r.n_tokens, r.n_chars)
        for r in text_bpe_tokenize(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        # Spark writes a part-file directory; glob inside it
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle = registry()["text_bpe_tokenize"].oracle
    exp = {
        row[0]: tuple(row[1:5])
        for row in con.execute(oracle).fetchall()
    }
    assert got == exp
    # and the counts are the REAL ones, not NULL-propagated zeros:
    # 'abc' and 'ab' both collapse to a single token
    assert got["s1"] == (2, 3, 3, 9)


def test_bpe_tokenize_null_text_matches_oracle(spark, tmp_path):
    # ADVICE r8 #3: a source whose every document has NULL text must
    # report 0 words/tokens (the oracle's LEFT JOIN + COALESCE shape),
    # not NULL-propagated sums — and a mixed source must count only its
    # non-NULL documents. n_chars stays NULL for the all-NULL source in
    # BOTH engines (SUM skips NULLs identically).
    import duckdb

    from fintech_data_lake_as_code_spark.operators.text import (
        text_bpe_tokenize,
    )
    from fintech_data_lake_as_code_spark.registry import registry

    docs = spark.createDataFrame(
        [(1, None, "allnull"), (2, None, "allnull"),
         (3, "ab ab", "mixed"), (4, None, "mixed")],
        "doc_id bigint, text string, source string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r.source: (r.n_docs, r.n_words, r.n_tokens, r.n_chars,
                   r.chars_per_token_bp)
        for r in text_bpe_tokenize(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    exp = {
        row[0]: tuple(row[1:6])
        for row in con.execute(registry()["text_bpe_tokenize"].oracle).fetchall()
    }
    assert got == exp
    assert got["allnull"] == (2, 0, 0, None, 0)
    # mixed: 'ab ab' -> 2 words, fully merged to 1 token each
    assert got["mixed"][:2] == (2, 2)


def test_training_pipeline_composes_end_to_end(spark, sf_dir):
    # The operators must compose like the real training-data pipeline a
    # user of this engine would run: resolve near-dup clusters, elect
    # one survivor per cluster, rewrite the corpus to survivors only,
    # then tokenize the deduplicated corpus with the trained tokenizer.
    # Each joint invariant below is one no single-key test can see.
    from fintech_data_lake_as_code_spark.operators.dedup import (
        _corpus,
        dedup_cluster_cc,
        dedup_keep_best,
    )
    from fintech_data_lake_as_code_spark.operators.text import bpe_tokenize

    corpus = _corpus(spark, sf_dir)
    n_docs = corpus.count()

    # 1) survivor election covers every clustered doc exactly once
    manifest = dedup_keep_best(spark, sf_dir)
    m = manifest.collect()
    clustered_members = sum(r.n_members for r in m)
    labels = dedup_cluster_cc(spark, sf_dir)
    assert clustered_members == labels.count()
    assert all(r.n_members >= 2 for r in m), "singleton clusters leaked"

    # 2) corpus rewrite: drop every clustered doc that is not its
    # cluster's survivor
    survivors = {r.survivor_id for r in m}
    drop = {
        r.doc_id
        for r in labels.collect()
        if r.doc_id not in survivors
    }
    kept = corpus.where(~F.col("doc_id").isin(drop))
    n_kept = kept.count()
    assert n_kept == n_docs - len(drop)
    assert len(drop) >= 1, "corpus had no duplicates to drop"

    # 3) planted twins never survive together
    for a, b in _planted_doc_pairs(spark, sf_dir):
        assert not (a in survivors and b in survivors), (a, b)

    # 4) tokenizing the deduplicated corpus is consistent with the full
    # corpus: fewer (or equal) docs/words/tokens, never more (the
    # dedup corpus carries no source column; tokenize it as one source)
    tag = lambda df: df.select("doc_id", "text").withColumn(  # noqa: E731
        "source", F.lit("all")
    )
    full = {r.source: r for r in bpe_tokenize(tag(corpus)).collect()}
    dedup = {r.source: r for r in bpe_tokenize(tag(kept)).collect()}
    assert set(dedup) <= set(full)
    for src, d in dedup.items():
        f = full[src]
        assert d.n_docs <= f.n_docs
        assert d.n_words <= f.n_words
        assert d.n_tokens <= f.n_tokens
    assert sum(d.n_docs for d in dedup.values()) == n_kept


def test_stats_corr_degenerate_groups_yield_null_not_abort(spark):
    # a 1-row group and a zero-variance group must produce NULL corr /
    # covar like the oracle's double 0-division — not a Spark-4 ANSI
    # DIVIDE_BY_ZERO abort (round-8 review finding)
    from fintech_data_lake_as_code_spark.operators.aggregates import (
        stats_corr,
    )

    li = spark.createDataFrame(
        [
            ("S", 1.0, 10.0),                      # n=1 group
            ("Z", 2.0, 5.0), ("Z", 2.0, 7.0),      # zero variance in qty
            ("N", 1.0, 2.0), ("N", 2.0, 4.0), ("N", 3.0, 6.0),
        ],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    got = {r.l_returnflag: r for r in stats_corr(li).collect()}
    assert got["S"].corr_qty_price is None and got["S"].covar_samp is None
    assert got["Z"].corr_qty_price is None  # sqrt(0 * deny) == 0
    assert got["N"].corr_qty_price == 1.0   # perfectly linear group


def test_relational_predicates_are_load_bearing(spark, sf_dir):
    # the round-8 vacuity findings must stay fixed: each predicate/branch
    # must both keep and drop rows on the fixtures it grades against
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.aggregates import (
        agg_groupby,
        agg_having,
    )
    from fintech_data_lake_as_code_spark.functions.scalar import (
        fn_conditional,
    )

    li = load(spark, sf_dir, "lineitem")
    kept = agg_groupby(spark, sf_dir).agg(F.sum("count_order")).first()[0]
    assert 0 < kept < li.count(), "Q1 cutoff must filter some rows"

    users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    heavy = agg_having(spark, sf_dir).count()
    assert 0 < heavy < users, "HAVING must keep some and drop some groups"

    cond = fn_conditional(spark, sf_dir).collect()
    assert len({r.size_bucket for r in cond}) >= 2
    assert any(r.capped_price == 250000.0 for r in cond)
    assert any(r.capped_price < 250000.0 for r in cond)
    assert any(r.floored_price == 100000.0 for r in cond)
    assert any(r.floored_price > 100000.0 for r in cond)
    assert {r.priority_norm == "none" for r in cond} == {True, False}


def test_maxsim_ann_prunes_and_still_finds_true_top1(spark):
    # With top_c strictly below the doc-label count the cap actually
    # prunes — and on a corpus with real cluster structure (query label
    # 2k and doc label 2k+1 share direction k) the collision ranking
    # must still surface the TRUE top-1 for every query. This is the
    # joint claim the fixture-scale tests can't make (top_c exceeds the
    # fixture's doc-label count, so pruning is a no-op there).
    from fintech_data_lake_as_code_spark.operators.similarity import (
        maxsim_ann_scores,
        sim_maxsim_multivector,  # noqa: F401  (shape reference)
    )
    from pyspark.sql.window import Window

    dim, n_labels, members = 16, 12, 8
    rows = []
    vec_id = 0
    for lab in range(n_labels):
        axis = lab // 2  # query 2k and doc 2k+1 share direction k
        for m in range(members):
            v = [0.0] * dim
            v[axis] = 10.0
            for j in range(dim):
                v[j] += ((lab * 7 + m * 13 + j * 29) % 5 - 2) * 0.1
            rows.append((vec_id, lab, v))
            vec_id += 1
    vecs = spark.createDataFrame(
        rows, "vec_id long, label long, x array<double>"
    )
    ann = maxsim_ann_scores(vecs, F.col("label") % 2 == 0, top_c=2)
    per_q = ann.groupBy("q_label").agg(F.count("*").alias("n")).collect()
    # cap engaged: 6 doc labels exist, at most 2 scored per query
    assert per_q and all(r.n <= 2 for r in per_q)
    assert len(per_q) == 6  # every query label answered
    # the true top-1 (the paired cluster) is among the scored candidates
    w = Window.partitionBy("q_label").orderBy(
        F.col("maxsim_bp").desc(), F.col("d_label")
    )
    top1 = {
        r.q_label: r.d_label
        for r in ann.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    assert top1 == {2 * k: 2 * k + 1 for k in range(6)}


def test_session_memo_registry_covers_every_memo_dict(spark, sf_dir):
    """bench's leak guard snapshots the sanctioned persistent-RDD set
    ONCE, in the prelude — so every module-level memo cache must be in
    _SESSION_MEMOS (and thus warmed by the prelude), or it populates
    lazily inside a timed rep and the guard unpersists it as a "leak"
    after rep 1, silently defeating the memo (ADVICE r14). This pins
    registry completeness BY ENUMERATION: a new *_CACHE dict fails here
    until it registers a warmer."""
    import fintech_data_lake_as_code_spark.operators.dedup as D

    memo_dicts = sorted(
        n for n, v in vars(D).items()
        if isinstance(v, dict) and n.endswith("_CACHE")
    )
    assert len(D._SESSION_MEMOS) == len(memo_dicts), (
        f"memo dicts {memo_dicts} vs {len(D._SESSION_MEMOS)} warmers — "
        "register the new memo in _SESSION_MEMOS"
    )
    D.warm_session_memos(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    for name in memo_dicts:
        assert key in getattr(D, name), f"{name} not populated by warm"


def test_bpe_driver_side_merges_match_spark_loop(spark):
    # r21: merge induction moved driver-side (text._bpe_train_merges);
    # this differential pins it against the pre-r21 per-round Spark-job
    # loop on a corpus exercising the replicated semantics edges:
    # unicode (code-point chars), an exact tie broken by (sa, sb), a
    # word-edge tab (F.trim strips spaces ONLY -> Python strip(' ')),
    # and adjacent-repeat merging in one pass.
    from pyspark.sql import functions as F

    from fintech_data_lake_as_code_spark.operators.text import (
        _bpe_train_merges,
    )

    d = spark.createDataFrame(
        [
            (1, "héhé héllo"),
            (2, "xy xy ab ab"),  # (x,y) vs (a,b): tie -> (a,b) first
            (3, "q\tq r"),  # tab stays inside the word as a symbol
            (4, "zzzz"),
        ],
        "doc_id bigint, text string",
    )

    def spark_loop_merges(d, n_merges):
        words = (
            d.select(F.explode(F.split("text", " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "word")
            .limit(200)
        )
        seg = words.select(
            "word",
            "cnt",
            F.concat(
                F.lit(" "),
                F.array_join(F.split("word", ""), "  "),
                F.lit(" "),
            ).alias("seg"),
        )
        merges = []
        for r in range(1, n_merges + 1):
            pairs = (
                seg.select("cnt", F.split(F.trim("seg"), "  ").alias("syms"))
                .select(
                    "cnt",
                    F.explode(
                        F.arrays_zip(
                            F.expr("slice(syms, 1, size(syms) - 1)"),
                            F.expr("slice(syms, 2, size(syms) - 1)"),
                        )
                    ).alias("pr"),
                )
                .select(
                    F.col("pr").getField("0").alias("sa"),
                    F.col("pr").getField("1").alias("sb"),
                    "cnt",
                )
                .groupBy("sa", "sb")
                .agg(F.sum("cnt").alias("w"))
            )
            tops = pairs.orderBy(F.desc("w"), "sa", "sb").limit(1).collect()
            if not tops:
                break
            top = tops[0]
            merges.append((r, top.sa, top.sb, top.sa + top.sb, int(top.w)))
            seg = seg.select(
                "word",
                "cnt",
                F.replace(
                    F.col("seg"),
                    F.lit(f" {top.sa}  {top.sb} "),
                    F.lit(f" {top.sa}{top.sb} "),
                ).alias("seg"),
            )
        return merges

    assert _bpe_train_merges(d, n_merges=6) == spark_loop_merges(d, 6)
