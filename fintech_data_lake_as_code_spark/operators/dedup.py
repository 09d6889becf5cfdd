"""Deduplication operators (north-star LLM-pipeline set, BASELINE.json).

Five dedup strategies over `documents` (plus `embeddings` for the vector
variant), each built scale-first:

- exact:        normalize -> hash-groupBy (one shuffle on the text hash)
- minhash LSH:  shingle -> 16-perm minhash -> 4x4 banding -> bucket join —
                candidate pairs come from equal band hashes, never from a
                cross join
- simhash:      60-bit sign fingerprint -> 6x10-bit band blocking ->
                hamming<=9 via bit_count(xor)
- ngram jaccard: inverted-index join on shared shingles (exact, and still
                join-not-crossjoin), SQL-expressible -> full oracle
- embedding cosine: label-blocked pair generation + double-cast dot product

Duplicates are injected deterministically (every 10th doc gets a perturbed
twin at doc_id+100000) so each operator provably finds the planted pairs —
asserted in tests/test_llm_ops.py; three keys also carry full DuckDB
oracles.

100 TB notes: all candidate generation is equality-join on a derived key
(band hash / shingle / block) — the pair space is pruned before any
pairwise math; no driver-side collect anywhere. Band-hash skew (a hot
bucket) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import (
    cpu_spread, load, release_local_checkpoint, session_memo, width_preserving_spread
)
from ..registry import query
from .similarity import _dot, _dvec

# --- corpus construction (shared): plant a near-dup twin for every 10th doc

_PERTURB_SQL = """
    SELECT doc_id, lower(text) AS text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, lower(text) || ' zqx' AS text
    FROM documents WHERE doc_id % 10 = 0
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("text")
    )
    twins = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zqx")).alias("text"),
        )
    )
    # Shingling/hashing downstream is CPU-bound (io.cpu_spread). Hashing
    # BY doc_id also pre-locates the per-doc signature/fingerprint
    # groupBys (explode is narrow, so the partitioning reaches the agg).
    return cpu_spread(d.unionByName(twins), "doc_id")


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate corpus: every 10th doc gets an IDENTICAL twin
    (same text, different id, extra whitespace to exercise normalization)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    twins = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("  "), "text", F.lit(" ")).alias("text"),
        )
    )
    return d.unionByName(twins)


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, '  ' || text || ' ' FROM documents
      WHERE doc_id % 10 = 0
    ), normed AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash
      FROM corpus
    )
    SELECT text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM normed
    GROUP BY text_hash
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower, collapse whitespace) -> md5 ->
    hash-groupBy; canonical = min doc_id. One shuffle on the 128-bit hash —
    the only dedup that needs no candidate generation at all."""
    c = _exact_corpus(spark, sf_dir)
    normed = c.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("text_hash"),
    )
    return (
        normed.groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


# --- MinHash LSH ------------------------------------------------------------

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
# 31-bit prime modulus keeps h*a+b inside int64 under ANSI arithmetic
MH_PRIME = 2147483647
_PERM_A = [(1103515245 * (j + 1) + 12345) % MH_PRIME | 1 for j in range(N_PERM)]
_PERM_B = [(1103515245 * (j + 101) + 54321) % MH_PRIME for j in range(N_PERM)]


def _phash(col: Column, nibbles: int = 12) -> Column:
    """Engine-portable hash: the first `nibbles` hex digits of md5 as a
    BIGINT (48 bits by default, 15 nibbles = 60 bits max — stays inside
    signed int64). md5 is bytewise-identical everywhere, so the DuckDB
    oracle can replicate the FULL sketch pipeline (`_phash_sql`), unlike
    xxhash64 which has no DuckDB equivalent. One md5 per shingle is ~2x an
    xxhash64 — irrelevant next to the shingling itself, and it buys a
    differential test for the whole candidate-generation path."""
    return F.conv(F.substring(F.md5(col), 1, nibbles), 16, 10).cast("long")


def _phash_sql(expr: str, nibbles: int = 12) -> str:
    """DuckDB mirror of `_phash`. Requires DuckDB >= 0.10: the
    '0x…'::BIGINT hex-string cast doesn't exist in older releases (also
    pinned in pyproject.toml)."""
    return f"('0x' || substr(md5({expr}), 1, {nibbles}))::BIGINT"


# the jaccard/minhash/simhash oracles all shingle identically to _shingles()
_SHINGLED_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM corpus
"""


def _word_ngrams(words: Column, n: int, step: int = 1) -> Column:
    """Word n-grams of a word array, each joined with " ", in linear time.

    `step=1` gives every sliding n-gram; a document shorter than n words
    gives one gram of all its words. `step=n` gives consecutive
    non-overlapping windows, the last one partial. NULL words give [""]
    for step 1 and NULL for step n.

    `words` is bound once per row as the variable of an outer one-element
    `transform`: a higher-order lambda re-evaluates every expression it
    captures, so slicing a captured `split(text, ...)` would re-split the
    whole document for each n-gram, O(words^2) per document."""

    def windows(ws: Column) -> Column:
        last = F.greatest(F.size(ws) - n, F.lit(0)) if step == 1 else F.size(ws) - 1
        return F.transform(
            F.sequence(F.lit(0), last, F.lit(step)),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, F.lit(n))),
        )

    return F.transform(F.array(words), windows)[0]


def _shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array (distinct), built from the passed
    Column — works for derived/renamed inputs, not just a column named
    `text`."""
    return F.array_distinct(_word_ngrams(F.split(text, " "), n))


def _shingled_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's shared materialization: (doc_id, shingles, n,
    hashes), shingled ONCE per session and source file, cached. MinHash
    signatures, SimHash fingerprints, both PPJoin pair stages, cluster
    resolution and the leakage-safe split all read this one artifact
    instead of re-shingling the corpus — at 100 TB the shingle index is
    the expensive derived table you materialize once and fan every dedup
    strategy out from (shingling is CPU-bound string work; everything
    downstream is arithmetic on its output).

    `hashes` is the SORTED xxhash64 array of the shingles, materialized
    here because both PPJoin stages need it every pass (prefix slicing
    AND overlap verification): computing it once at build time removes a
    per-pass per-doc hash+sort, and int64 arrays shuffle/compare several
    times cheaper than 3-word string arrays (measured 2.2x on the whole
    incremental query). Memory cost: 8 bytes/shingle on top of the
    strings — ~0.4x the string payload."""
    return session_memo(
        spark, "dedup.shingled", (f"{sf_dir}/documents.parquet",),
        lambda: _shingle_artifact(_corpus(spark, sf_dir)).cache(),
    )


def _shingle_artifact(corpus: DataFrame, keep_shingles: bool = True) -> DataFrame:
    """(doc_id[, shingles], n, hashes) from a (doc_id, text) corpus —
    the ONE shingle-artifact pipeline behind `_shingled_corpus` and
    `_containment_shingled` (each memoizes+caches its own corpus
    variant; the derivation lives here so the sorted-hash contract
    can't drift between them)."""
    df = (
        corpus.select("doc_id", _shingles(F.col("text")).alias("shingles"))
        .withColumn("n", F.size("shingles"))
        .withColumn(
            "hashes",
            F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))),
        )
    )
    return df if keep_shingles else df.drop("shingles")


def _minhash_signature(shingled: DataFrame) -> DataFrame:
    """doc_id -> 16 minhash values over the shared shingle artifact; each
    permutation is a cheap affine transform of one portable 48-bit hash —
    map-side, then a single groupBy(doc_id) computing all 16 mins."""
    sh = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).withColumn("h", _phash(F.col("shingle")) % F.lit(MH_PRIME))
    mins = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MH_PRIME)).alias(f"m{j}")
        for j, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
    ]
    return sh.groupBy("doc_id").agg(*mins)


_MINHASH_ORACLE = f"""
    WITH corpus AS ({_PERTURB_SQL}),
    shingled AS ({_SHINGLED_SQL}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ), hashed AS (
      SELECT doc_id, {_phash_sql('shingle')} % {MH_PRIME} AS h FROM exploded
    ), perms(j, a, b) AS (
      VALUES {', '.join(f'({j}, {a}, {b})'
                        for j, (a, b) in enumerate(zip(_PERM_A, _PERM_B)))}
    ), sigs AS (
      SELECT doc_id, j, MIN((h * a + b) % {MH_PRIME}) AS m
      FROM hashed CROSS JOIN perms
      GROUP BY doc_id, j
    ), bands AS (
      SELECT doc_id, j // {ROWS_PER_BAND} AS band_id,
             {_phash_sql(f"concat_ws('_', j // {ROWS_PER_BAND},"
                         f" string_agg(m, '_' ORDER BY j))")} AS band_key
      FROM sigs
      GROUP BY doc_id, j // {ROWS_PER_BAND}
    ), cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), agree AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_agree
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b AND sb.j = sa.j
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, CAST(n_agree AS DOUBLE) / {N_PERM} AS est_jaccard
    FROM agree
    WHERE n_agree * 2 >= {N_PERM}
"""


@query("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash + LSH banding: 16 permutations,
    4 bands x 4 rows; docs sharing any band hash become candidates; pairs
    are confirmed by signature agreement >= 0.5. Planted twins (9 of 10
    shingles shared) are found; unrelated docs are not. Candidate
    generation is an equi-join on band hash — no cross join at any scale.
    Every hash is the portable md5-derived `_phash`, so the DuckDB oracle
    replicates the ENTIRE pipeline — shingles, permutations, banding,
    candidate join, agreement — not just row counts."""
    sig = _minhash_signature(_shingled_corpus(spark, sf_dir))
    # carry the signature array through the band explode so candidate pairs
    # come out of ONE self-join with both signatures in hand (no re-join)
    bands = sig.select(
        "doc_id",
        F.array(*[F.col(f"m{j}") for j in range(N_PERM)]).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    _phash(
                        F.concat_ws(
                            "_",
                            F.lit(b),
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"m{b * ROWS_PER_BAND + r}")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            ),
                        )
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    agreement = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .select(
            "id_a",
            "id_b",
            (agreement / F.lit(N_PERM)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
    )


# --- SimHash ----------------------------------------------------------------


_SIMHASH_ORACLE = f"""
    WITH corpus AS ({_PERTURB_SQL}),
    shingled AS ({_SHINGLED_SQL}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS w FROM shingled
    ), hashed AS (
      SELECT doc_id, {_phash_sql('w', 15)} AS h FROM exploded
    ), votes AS (
      SELECT doc_id, COUNT(*) AS n_words,
             {', '.join(f'SUM((h >> {i}) & 1) AS b{i}' for i in range(60))}
      FROM hashed GROUP BY doc_id
    ), fps AS (
      SELECT doc_id,
             ({' + '.join(f'CASE WHEN b{i} * 2 > n_words'
                          f' THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END'
                          for i in range(60))}) AS fp
      FROM votes
    ), bands AS (
      SELECT doc_id, fp, b AS band_id, (fp >> (10 * b)) & 1023 AS band_key
      FROM fps CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS b)
    ), probes AS (
      SELECT doc_id, fp, band_id, xor(band_key, m) AS probe_key
      FROM bands CROSS JOIN (SELECT unnest(
        [0, 1, 2, 4, 8, 16, 32, 64, 128, 256, 512]) AS m)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.fp AS fp_a, b.fp AS fp_b
      FROM bands a JOIN probes b
        ON a.band_id = b.band_id AND a.band_key = b.probe_key
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
    FROM cands
    WHERE bit_count(xor(fp_a, fp_b)) <= 9
"""


# SimHash fingerprints, computed once per session and source identity
# and cached, like the shingle artifact. A per-call .cache() here leaked
# one executor-storage copy per invocation (bench reps, repeated grades)
# with nothing ever unpersisting it; the memo turns the leak into reuse.
def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        words = _shingled_corpus(spark, sf_dir).select(
            "doc_id", F.explode("shingles").alias("w")
        ).withColumn("h", _phash(F.col("w"), 15))
        votes = words.groupBy("doc_id").agg(
            F.count("*").alias("n_words"),
            *[
                F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"b{i}")
                for i in range(60)
            ],
        )
        fingerprint = sum(
            (
                F.when(
                    F.col(f"b{i}") * 2 > F.col("n_words"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            * F.lit(1 << i)
            for i in range(60)
        )
        return votes.select("doc_id", fingerprint.alias("fp")).cache()

    return session_memo(spark, "dedup.simhash", (f"{sf_dir}/documents.parquet",), build)


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via 60-bit SimHash (bit 63 would overflow signed int64
    under ANSI arithmetic) over 3-gram shingle features — word-level
    features don't separate this corpus (tiny vocabulary => all docs share
    most words); shingles give twins hamming <= ~9 vs >= ~18 for unrelated
    docs. Candidates come from 6x10-bit band blocking with Hamming-1
    multi-probe on the band keys (the sim_topk_lsh probe idea): one side
    joins its exact band keys, the other probes each key plus its 10
    single-bit flips. Pigeonhole makes the candidate recall EXACT for the
    hamming <= 9 verify radius — 9 differing bits across 6 bands leave
    some band with at most one, and that band's probe hits (plain
    6-band blocking only guaranteed <= 5; 6..9-bit pairs spread across
    all bands were silently missed). Still equi-join-only and scale-safe:
    the 1024-value band-key space is untouched, the probe side just
    carries a constant 11x row factor — unlike 6-bit bands (the
    radius+1 banding alternative), whose 64-value keys would pack
    |corpus|/64 docs per bucket and blow the candidate join up
    quadratically. Verification is hamming <= 9 via bit_count(xor).
    Feature hashes are the portable md5-derived `_phash` (15 nibbles =
    60 bits), so the DuckDB oracle replicates fingerprints, banding,
    probes, and verification bit-exactly."""
    fp = _simhash_fingerprints(spark, sf_dir)
    return _simhash_pairs(fp)


def _simhash_pairs(fp: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming) pairs at hamming <= 9 from a (doc_id, fp)
    60-bit fingerprint frame — the banding/probe/verify core, split out
    so the pigeonhole recall guarantee is testable on PLANTED
    fingerprints (tests/test_llm_ops.py plants a hamming-9 pair whose
    differing bits touch every band — exactly the shape plain banding
    missed)."""
    bands = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("fp", 10 * b).bitwiseAND(F.lit(0x3FF))
                    for b in range(6)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    probes = bands.select(
        "doc_id",
        "fp",
        "band_id",
        F.explode(
            F.array(
                F.col("band_key"),
                *[
                    F.col("band_key").bitwiseXOR(F.lit(1 << j))
                    for j in range(10)
                ],
            )
        ).alias("probe_key"),
    )
    a = bands.alias("a")
    b = probes.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.probe_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.fp").bitwiseXOR(F.col("b.fp"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 9)
    )


# --- exact n-gram Jaccard via inverted index --------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_PERTURB_SQL}),
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
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.6 via PREFIX-FILTERED similarity join
    (Bayardo/Chaudhuri): a naive inverted-index self-join blows up
    quadratically on high-document-frequency shingles, so instead shingles
    are globally ordered rarest-first and each doc exposes only its PREFIX
    (n - ceil(0.6 n) + 1 rarest shingles) to the candidate join —
    pigeonhole guarantees any pair with Jaccard >= t shares a prefix
    shingle (overlap >= ceil(t * max(na, nb))), so no qualifying pair is
    lost. On top of the prefix, PPJoin POSITIONAL filtering (Xiao et al.):
    a token matched at 1-indexed sorted positions (i, j) bounds the total
    overlap by 1 + min(na - i, nb - j) — under a global total order, any
    common token preceding the first match would itself be an earlier
    match, so every common token sits at positions >= (i, j). Jaccard >=
    0.6 needs overlap o with 8*o >= 3*(na + nb), so pairs whose matches are
    all late in both prefixes are pruned BEFORE verification — positions
    come free from the posexplode over the already-sorted prefix, zero
    extra shuffles. Filtering per match is complete because the FIRST match
    of any qualifying pair always passes the bound (every common token sits
    at or after it, so its bound >= the true overlap). Candidates are then
    verified with array_intersect on the full SORTED HASH arrays (the
    artifact's cached `hashes` column): int64 arrays shuffle and
    intersect several times cheaper than 3-word string arrays (measured
    2.2x on the incremental sibling), and the count can differ from the
    string formulation only on a cross-doc xxhash64 collision
    (~(n_a*n_b)/2^64 per pair, ~1e-15 here) — the DuckDB oracle IS the
    naive STRING formulation, so every graded run differentially
    certifies that no collision touched the result; integer basis points
    for engine parity.

    Implementation: the whole-corpus case IS the incremental core with
    every doc flagged new — `incremental_pairs` over the shared cached
    artifact (prefix slice from the sorted-hash column, positional
    prune, hash-array verify; the orientation guard in `_candidate_ids`
    forms each new x new pair once). One copy of the PPJoin constants
    and bounds instead of a hand-kept ~50-line mirror (the sync NOTE in
    `_prefix_postings` asked for exactly this)."""
    shingled = _shingled_corpus(spark, sf_dir).withColumn(
        "is_new", F.lit(True)
    )
    return incremental_pairs(shingled).select("id_a", "id_b", "jaccard_bp")


# --- embedding cosine near-dup ----------------------------------------------


def _emb_corpus(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """Twin-augmented embedding corpus shared by the embedding-dedup
    family: every 10th vector gets a planted near-duplicate (first
    component +0.01) under vec_id+100000. The per-vector norm is hoisted
    here — computed once per ROW, not once per pair, and with one
    expression shape so both consumers are float-identical.
    `spread=False` skips the CPU-budget repartition (the k-means train
    sample is total-sorted, so the spread's exchange is pure overhead
    there — similarity._fresh_vecs's rationale)."""
    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", _dvec("embedding").alias("v"))
    twins = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") + 0.01),
            F.expr("transform(slice(embedding, 2, size(embedding) - 1), x -> cast(x as double))"),
        ).alias("v"),
    )
    # the pairwise cosine verifies downstream are CPU-bound (io.cpu_spread)
    both = base.unionByName(twins)
    if spread:
        both = cpu_spread(both, "vec_id")
    return both.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label,
             list_prepend(embedding[1]::DOUBLE + 0.01,
                          list_transform(embedding[2:], x -> x::DOUBLE))
      FROM embeddings WHERE vec_id % 10 = 0
    )
    SELECT id_a, id_b, cos_bp / 10000 AS cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(ROUND(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  * 10000) AS BIGINT) AS cos_bp
      FROM corpus a JOIN corpus b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_bp >= 9900
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine >= 0.99 over label-blocked pairs (label is
    the blocking key — candidate pairs only within a block, as an IVF-style
    coarse quantizer would give at scale). Planted twins (first component
    +0.01) are the expected hits. Full DuckDB oracle.

    The keep/drop DECISION is an integer compare on the rounded
    basis-point score (the file's integer-compare discipline), and the
    emitted cos_sim derives from the SAME integer — a raw-double
    `cos >= 0.99` gate made the decision summation-order-dependent
    while the displayed value was rounded, so gate and display could
    disagree between engines on a boundary pair."""
    corpus = _emb_corpus(spark, sf_dir)
    a = corpus.alias("a")
    b = corpus.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nv") * F.col("b.nv")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos * 10000, 0).cast("long").alias("_bp"),
        )
        .where(F.col("_bp") >= 9900)
        .select(
            "id_a", "id_b", (F.col("_bp") / 10000).alias("cos_sim")
        )
    )


# --- duplicate-cluster resolution (connected components) --------------------

# 15 rounds covers a ~2^12-diameter chain once pointer jumping engages
# (forced by round 3 at the latest, see connected_components): the
# budget is deliberately NOT edge-tight against the 200-node chain test
# — regenerated data with a modestly longer accidental chain must not
# turn a 1-round slip into a RuntimeError.
CC_MAX_ITERS = 15


# Shared recursive-CTE fragment: exact-jaccard pair edges + transitive
# closure (`reach`) over the perturbed corpus. Used by the cluster_cc and
# keep_best oracles so both verify against the SAME naive formulation.
_CC_REACH_SQL = f"""
    corpus AS ({_PERTURB_SQL}),
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
    ), pairs AS (
      SELECT s.id_a, s.id_b FROM shared s
      JOIN sizes sa ON s.id_a = sa.doc_id
      JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE s.n_shared * 10000 >= 6000 * (sa.n + sb.n - s.n_shared)
    ), edges AS (
      SELECT id_a AS node, id_b AS other FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, other) AS (
      SELECT node, other FROM edges
      UNION
      SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
      WHERE e.other <> r.node
    )
"""


def connected_components(
    edges: DataFrame, max_iters: int = CC_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Min-label connected components over a symmetric `(node, other)`
    edge relation. Returns `(labels, rounds)` where labels has columns
    `(node, label)` and label = component minimum.

    Each round is (1) neighbor-min propagation — join edges to labels on
    `other`, groupBy `node`, take the min — and, ONCE PROPAGATION
    STALLS, (2) a POINTER-JUMPING contraction: every node then follows
    its label ONE hop (takes the label of its current label node).
    Propagation alone needs O(component diameter) rounds; the
    contraction step roughly doubles the distance a min travels per
    round, so chains converge in O(log diameter) rounds (pinned by
    tests/test_llm_ops.py::test_cc_chain_converges_logarithmically —
    a 200-node path closes in <=9 rounds where propagation alone needs
    ~100). Long accidental chains — the shape that kills a fixed
    iteration budget at 100 TB — stop being a risk.

    The contraction is CONDITIONAL because the common case doesn't need
    it and shouldn't pay for it: near-clique dup clusters (diameter
    2-3) converge in 2-3 propagation-only rounds, and the hop join's
    key (label == hop_node) is maximally skewed by component size — all
    members of a component probe one hot key. So the hop engages
    unconditionally from round 3: cliques are done by then, and no
    stall signal can fire earlier anyway — the natural per-round
    delta-halving test needs two deltas, first available exactly at
    round 3 (an earlier revision carried that test alongside the
    round-3 floor; it was provably dead code and is gone). Once engaged
    the hop stays on (a stalled front never re-accelerates under
    propagation alone). Measured at sf0.1 this keeps real dup clusters
    (near-cliques, converged by round 3) at propagation-only cost while
    chains still close in O(log diameter).

    localCheckpoint each round severs lineage (otherwise the plan — and
    analysis ambiguity — grows with every iteration); eager=False lets
    the convergence aggregate below materialize the checkpoint as it
    runs — one job per round. Round 0 is free: min over DIRECT neighbors
    is a plain aggregation over the edge list (no label join yet).

    Convergence probe: both steps only ever DECREASE labels, so
    sum(label) is strictly monotone until fixpoint — one cheap aggregate
    per round replaces a labels⋈labels diff join, and label data never
    leaves the executors. (Labels are doc_ids < ~2^21 over <2^40 nodes:
    the sum can't overflow int64 even at planetary scale; use sum of
    DECIMAL(38) if ids are 64-bit hashes.)
    """
    labels = (
        edges.groupBy("node")
        .agg(F.least(F.first("node"), F.min("other")).alias("label"))
        .localCheckpoint(eager=False)
    )
    label_sum = labels.agg(F.sum("label")).first()[0]
    rounds = 0
    hop_engaged = False
    for _ in range(max_iters):
        rounds += 1
        if not hop_engaged and rounds >= 3:
            hop_engaged = True
        neighbor_min = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.other") == F.col("l.node"))
            .groupBy(F.col("e.node").alias("node"))
            .agg(F.min("l.label").alias("nbr_label"))
        )
        prop = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if hop_engaged:
            # pointer jumping: label <- label-of-label. The hop side is
            # the same relation projected to (node, label); a left join
            # keeps nodes whose label has no own row (cannot happen for
            # symmetric edges, but cheap insurance).
            hop = prop.select(
                F.col("node").alias("hop_node"),
                F.col("label").alias("hop_label"),
            )
            prop = prop.join(
                hop, F.col("label") == F.col("hop_node"), "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("hop_label", F.col("label"))
                ).alias("label"),
            )
        new_labels = prop.localCheckpoint(eager=False)
        # the convergence aggregate materializes the new checkpoint, so
        # the superseded round's blocks can be freed NOW instead of at
        # GC's leisure — unreleased rounds pile up executor storage and
        # made this loop's wall time bimodal run-to-run (BENCH r8/r9)
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        release_local_checkpoint(labels)
        labels = new_labels
        if new_sum == label_sum:
            break
        label_sum = new_sum
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_iters} rounds"
            " (component log-diameter exceeds the iteration bound); raise"
            " max_iters rather than returning partial labels"
        )
    return labels, rounds


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {_CC_REACH_SQL}
    SELECT node AS doc_id,
           LEAST(node, MIN(other)) AS cluster_id
    FROM reach
    GROUP BY node
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: pairwise near-dup hits (the exact
    3-gram Jaccard pairs) are only half the job — production dedup must
    group transitively-linked docs into clusters and elect one canonical
    representative (min doc_id). Connected components via iterative
    min-label propagation with a pointer-jumping contraction round (see
    `connected_components` for the algorithm and its convergence bound).
    Oracle: DuckDB recursive-CTE transitive closure."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    # both directions from ONE pass over the pairs: a union of two
    # projections would plan the pair generation twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("node"), F.col("id_b").alias("other")),
                    F.struct(F.col("id_b").alias("node"), F.col("id_a").alias("other")),
                )
            ).alias("e")
        )
        .select("e.node", "e.other")
        .cache()
    )
    labels, _ = connected_components(edges)
    # labels is materialized (localCheckpoint); the edge cache served only
    # the loop's actions and can be released now
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --- incremental (cross-batch) dedup ----------------------------------------


@query(
    "dedup_incremental",
    oracle=f"""
    WITH corpus AS ({_PERTURB_SQL}),
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
             AS jaccard_bp,
           CASE WHEN (s.id_a % 2 = 1 OR s.id_a >= 100000)
                 AND (s.id_b % 2 = 1 OR s.id_b >= 100000)
                THEN 'new_new' ELSE 'new_old' END AS pair_kind
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE s.n_shared * 10000 >= 6000 * (sa.n + sb.n - s.n_shared)
      AND (s.id_a % 2 = 1 OR s.id_a >= 100000
           OR s.id_b % 2 = 1 OR s.id_b >= 100000)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch INCREMENTAL dedup — the only Jaccard formulation that
    survives a lake that grows daily: the accumulated corpus is already
    internally deduped, so a new batch needs exactly the new x new and
    new x old pairs, never old x old. Structurally pruned here: the
    prefix-filtered candidate join (same PPJoin machinery as
    dedup_ngram_jaccard) probes ONLY new-doc prefixes against the full
    index, so per-batch work is ~|new| x bucket-depth regardless of corpus
    size — re-running full-corpus dedup over 100 TB per day is the
    alternative. Odd doc_ids play the new batch (planted twins land there
    too, guaranteeing new x old hits). Orientation is free (new side may
    hold the larger or smaller id), so the symmetric PPJoin positional
    bound is used and pairs are normalized with least/greatest before
    dedup. Verification intersects the cached sorted-hash arrays (see
    dedup_ngram_jaccard's collision note — the string-formulation oracle
    differentially certifies losslessness every graded run); the oracle is
    the naive all-pairs join restricted to pairs touching a new doc."""
    is_new = (F.col("doc_id") % 2 == 1) | (F.col("doc_id") >= 100000)
    # is_new derives from doc_id alone, so it rides on top of the shared
    # cached shingle artifact instead of forcing a second materialization
    shingled = _shingled_corpus(spark, sf_dir).withColumn("is_new", is_new)
    return incremental_pairs(shingled).select(
        "id_a",
        "id_b",
        "jaccard_bp",
        F.when(F.col("new_a") & F.col("new_b"), "new_new")
        .otherwise("new_old")
        .alias("pair_kind"),
    )


def _prefix_postings(shingled: DataFrame) -> DataFrame:
    """PPJoin prefix postings of a shingled frame — one row per (doc,
    sorted prefix position): (doc_id, n, is_new, pos, h). Prefix length
    is n - ceil(0.6*n) + 1 (threshold 0.6): two sets can reach 0.6
    Jaccard only if their prefixes share at least one hash. The
    streaming index stores these per batch at admission (bucketed on h,
    see streaming/queries.IncrementalDedupIndex) so history is read
    back columnar instead of re-sliced/re-exploded every micro-batch."""
    # NOTE: threshold 0.6 appears here as *6/10 and in
    # _candidate_ids/incremental_pairs as the length filter, the
    # 8*o >= 3*(na+nb) positional bound, and the 6000 bp verify —
    # change them together; the DuckDB oracles catch drift. (The former
    # hand-kept mirror inside dedup_ngram_jaccard is gone — that key now
    # routes through this core.)
    prefix_len = F.col("n") - ((F.col("n") * 6 + 9) / 10).cast("long") + 1
    return shingled.select(
        "doc_id",
        "n",
        "is_new",
        F.posexplode(F.slice("hashes", F.lit(1), prefix_len)).alias(
            "pos0", "h"
        ),
    ).select("doc_id", "n", "is_new", (F.col("pos0") + 1).alias("pos"), "h")


def _candidate_ids(probe: DataFrame, index: DataFrame) -> DataFrame:
    """Normalized candidate (id_a, id_b) pairs from ONE prefix-postings
    equi-join: probe-side prefixes against index-side prefixes on the
    shared hash, positionally pruned. NOT deduplicated — callers apply
    `.distinct()` after assembling their candidate union (a pair
    surfaces once per shared prefix hash)."""
    # symmetric PPJoin bound (orientation-free): a match at sorted
    # positions (i, j) caps overlap at 1 + min(na - i, nb - j)
    overlap_ub = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    # The new-side restriction is written in the join condition, but
    # Catalyst pushes a single-side predicate below the join anyway
    # (PushPredicateThroughJoin), so this compiles identically to
    # pre-filtering the probe side — the form is a documentation choice:
    # the predicate reads as part of the candidate-pair definition. The
    # asymmetry that matters at scale is the ALGORITHM's: the probe side
    # shrinks with the batch while the index side is the whole corpus.
    return (
        probe.alias("a")
        .join(
            index.alias("b"),
            F.col("a.is_new")
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # never generate old x old; when the index side carries true
            # is_new flags, new x new forms ONCE (a < b) instead of once
            # per orientation — the positional bound is symmetric under
            # the swap, so no qualifying pair is lost. An index whose
            # rows are all flagged old (the streaming worker's bucketed
            # postings) still yields both orientations, collapsed by the
            # caller's distinct.
            & (~F.col("b.is_new") | (F.col("a.doc_id") < F.col("b.doc_id")))
            & (F.col("b.n") * 10 >= F.col("a.n") * 6)
            & (F.col("a.n") * 10 >= F.col("b.n") * 6)
            & (overlap_ub * 8 >= (F.col("a.n") + F.col("b.n")) * 3),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        )
    )


def incremental_pairs(
    shingled: DataFrame, cand: DataFrame | None = None
) -> DataFrame:
    """The incremental PPJoin core, shared by `dedup_incremental` (one
    planted batch over the cached corpus artifact) and
    `stream_dedup_incremental` (every micro-batch against the accumulated
    lake index). Input: (doc_id, n, hashes, is_new) where `hashes` is the
    sorted xxhash64 shingle array and `is_new` marks the probe side.
    Output: verified pairs touching at least one new doc — (id_a, id_b,
    jaccard_bp, new_a, new_b), normalized id_a < id_b, old x old never
    generated.

    `cand` overrides candidate generation: the streaming worker assembles
    its own candidate union so the index side can come from the bucketed
    postings table (exchange-free scan) instead of being re-derived from
    `shingled`; it must be a distinct (id_a, id_b) frame. Default is the
    self-join of this frame's own prefix postings."""
    if cand is None:
        pref = _prefix_postings(shingled)
        cand = _candidate_ids(pref, pref).distinct()
    # The verify (sorted-hash-array intersections) is CPU-bound
    # (io.width_preserving_spread). Key on id_a ALONE: a repartition on
    # (id_a, id_b) right above the distinct's identically keyed exchange
    # is elided by EnsureRequirements, leaving one AQE-coalesced verify
    # task; id_a also satisfies the first verify join's clustering, so
    # at scale this replaces that join's exchange instead of adding one.
    cand = width_preserving_spread(cand, "id_a")
    sa = shingled.select(
        F.col("doc_id").alias("id_a"),
        F.col("hashes").alias("h_a"),
        F.col("n").alias("n_a"),
        F.col("is_new").alias("new_a"),
    )
    sb = shingled.select(
        F.col("doc_id").alias("id_b"),
        F.col("hashes").alias("h_b"),
        F.col("n").alias("n_b"),
        F.col("is_new").alias("new_b"),
    )
    n_shared = F.size(F.array_intersect("h_a", "h_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_shared", n_shared)
        .where(F.col("n_shared") * 10000 >= 6000 * union_n)
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("n_shared") * 10000 / union_n).alias("jaccard_bp"),
            "new_a",
            "new_b",
        )
    )


# --- leakage-safe train/eval split ------------------------------------------


@query(
    "sample_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_PERTURB_SQL}),
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
    ), pairs AS (
      SELECT s.id_a, s.id_b FROM shared s
      JOIN sizes sa ON s.id_a = sa.doc_id
      JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE s.n_shared * 10000 >= 6000 * (sa.n + sb.n - s.n_shared)
    ), edges AS (
      SELECT id_a AS node, id_b AS other FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, other) AS (
      SELECT node, other FROM edges
      UNION
      SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
      WHERE e.other <> r.node
    ),
    labels AS (
      SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
      FROM reach GROUP BY node
    ),
    assigned AS (
      SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id
    )
    SELECT CASE WHEN ((cluster_id % 2147483648 * 1000 + 7) % 2147483648
                      * 1103515245 + 12345)
                     % 2147483648 % 100 < 80
                THEN 'train' ELSE 'eval' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster_id) AS n_clusters,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM assigned GROUP BY 1
    """,
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split WITHOUT near-dup leakage: random doc-level splits
    put one twin in train and the other in eval, and the model grades
    itself on memorized text — the classic contaminated-benchmark bug.
    The unit of assignment must be the duplicate CLUSTER: resolve
    connected components (dedup_cluster_cc), give singletons their own
    doc_id as cluster_id, then split on a portable LCG hash OF THE
    CLUSTER ID, so every member of a cluster lands in the same split by
    construction. Output is the per-split composition (doc count,
    cluster count, id checksum); the twin-cohesion property is asserted
    in tests. One extra broadcast-scale join over the split itself —
    leakage safety costs almost nothing once dedup already ran."""
    labels = dedup_cluster_cc(spark, sf_dir)
    corpus = _corpus(spark, sf_dir).select("doc_id")
    assigned = corpus.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    # reduce mod 2^31 between the LCG steps: the intermediates stay below
    # 2^62, so the arithmetic never wraps int64 (Spark would overflow-wrap
    # or throw under ANSI while DuckDB promotes to HUGEINT — divergence).
    lcg = (
        (F.col("cluster_id") % 2147483648 * 1000 + 7) % 2147483648
        * 1103515245 + 12345
    ) % 2147483648 % 100
    return (
        assigned.withColumn(
            "split", F.when(lcg < 80, "train").otherwise("eval")
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_CC_REACH_SQL},
    labels AS (
      SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
      FROM reach GROUP BY node
    ), members AS (
      SELECT l.doc_id, l.cluster_id,
             len(string_split(c.text, ' ')) AS n_words
      FROM labels l JOIN corpus c ON l.doc_id = c.doc_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY n_words DESC, doc_id) AS rn
      FROM members
    )
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
           MAX(CASE WHEN rn = 1 THEN n_words END) AS survivor_words,
           COUNT(*) AS n_members
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVOR ELECTION — the step after cluster resolution that actually
    deduplicates a training corpus: within every near-dup cluster, keep
    the single best member and drop the rest. "Best" here is the longest
    text with min-doc_id tiebreak (production would plug in a quality
    score like text_idf_rarity/text_quality; the election shape is
    identical — rank members per cluster, rn=1 survives). Composes
    dedup_cluster_cc's labels with the corpus: one join, one per-cluster
    window, one reassociative groupBy — everything after the (cached)
    pair stage shuffles on cluster_id only. Returns the per-cluster
    manifest (survivor, its length, member count) a corpus-rewrite job
    would consume."""
    from pyspark.sql.window import Window

    labels = dedup_cluster_cc(spark, sf_dir)
    members = labels.join(_corpus(spark, sf_dir), "doc_id").select(
        "doc_id",
        "cluster_id",
        F.size(F.split("text", " ")).alias("n_words"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_words"), "doc_id")
    ranked = members.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_words"))).alias(
            "survivor_words"
        ),
        F.count("*").alias("n_members"),
    )


# --- asymmetric containment dedup -------------------------------------------

# Containment corpus: every 7th doc gets an EXCERPT twin — its first
# half's words — planted at doc_id + 200000. Excerpts are the case
# symmetric Jaccard structurally misses: a fragment of a long doc shares
# nearly all of ITS shingles with the source, but the union is dominated
# by the source, so J = |A∩B|/|A∪B| stays far below any dedup threshold
# while containment |A∩B|/|A| is ~1.
_CONTAIN_SQL = """
    SELECT doc_id, lower(text) AS text FROM documents
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           array_to_string(
             string_split(lower(text), ' ')[1:greatest(len(string_split(text, ' ')) // 2, 3)],
             ' ') AS text
    FROM documents WHERE doc_id % 7 = 0
"""

CONTAIN_T_BP = 9000  # containment >= 0.9 of the smaller doc's shingles


def _containment_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n, hashes) over the excerpt-planted corpus, cached per
    session and source identity like the main shingle artifact."""

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents").select(
            "doc_id", F.lower("text").alias("text")
        )
        words = F.split("text", " ")
        k = F.greatest(F.floor(F.size(words) / 2).cast("int"), F.lit(3))
        excerpts = d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.array_join(F.slice(words, F.lit(1), k), " ").alias("text"),
        )
        # shingling is CPU-bound, as in _corpus (io.cpu_spread)
        corpus = cpu_spread(d.unionByName(excerpts), "doc_id")
        return _shingle_artifact(corpus, keep_shingles=False).cache()

    docs = (f"{sf_dir}/documents.parquet",)
    return session_memo(spark, "dedup.containment", docs, build)


# Every session memo this module builds. Benchmark preludes warm ALL
# of them before snapshotting the sanctioned persistent-RDD set: the
# leak guard's one-shot snapshot cannot tell a memo that first
# populates inside a timed rep from a leak, so it would unpersist it
# after rep 1 and every later rep would silently recompute it. A new
# memo registers here and is bench-safe from day one.
_SESSION_MEMOS = (
    _shingled_corpus,
    _containment_shingled,
    _simhash_fingerprints,
)


def warm_session_memos(spark: SparkSession, sf_dir: str) -> None:
    """Build and fully materialize every session memo for this
    (session, sf_dir): the columnar cache builds whole partitions."""
    for build in _SESSION_MEMOS:
        build(spark, sf_dir).count()


@query(
    "dedup_containment",
    oracle=f"""
    WITH corpus AS ({_CONTAIN_SQL}),
    shingled AS ({_SHINGLED_SQL}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ), sizes AS (
      SELECT doc_id, len(shingles) AS n FROM shingled
    ), shared AS (
      SELECT a.doc_id AS id_small, b.doc_id AS id_big, COUNT(*) AS n_shared
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.id_small, s.id_big,
           CAST(sa.n AS BIGINT) AS n_small,
           CAST(sb.n AS BIGINT) AS n_big,
           CAST(s.n_shared * 10000 // sa.n AS BIGINT) AS containment_bp
    FROM shared s
    JOIN sizes sa ON s.id_small = sa.doc_id
    JOIN sizes sb ON s.id_big = sb.doc_id
    WHERE (sb.n > sa.n OR (sb.n = sa.n AND s.id_small < s.id_big))
      AND s.n_shared * 10000 >= {CONTAIN_T_BP} * sa.n
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup — catches excerpts, quotes and
    subset documents that symmetric Jaccard structurally misses (a
    fragment shares ~all of its own shingles with its source, but the
    union is dominated by the source, so J stays low while containment
    C(A,B) = |A∩B| / |A| is ~1; the corpus-cleaning step CCNet/Gopher-
    style pipelines run alongside symmetric dedup). Emits every ordered
    pair where the SMALLER doc's shingles are >= 90% contained in the
    bigger's.

    Candidate generation is the prefix-filter adapted to containment:
    if C >= t then the pair shares one of the smaller doc's first
    n - ceil(t*n) + 1 sorted-hash shingles (pigeonhole over ITS OWN
    shingles only — no length-ratio constraint exists for containment,
    the big side may be any size). So the probe side explodes only that
    ~0.1n prefix of each doc while the index side is the full postings
    list — an equi-join on the hash, never all-pairs — plus the
    positional bound (a match at sorted positions (i, j) caps overlap
    at 1 + min(na - i, nb - j) >= 0.9*na). Verification intersects the
    cached sorted-hash arrays exactly (collision note in
    dedup_ngram_jaccard — the string-formulation oracle certifies every
    graded run). Scale: probe volume ~0.1 shingle-volume, postings =
    the standard inverted index, hot buckets split by AQE skew-join."""
    sh = _containment_shingled(spark, sf_dir)
    prefix_len = F.col("n") - ((F.col("n") * 9 + 9) / 10).cast("long") + 1
    pref = sh.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("hashes", F.lit(1), prefix_len)).alias(
            "pos0", "h"
        ),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "h")
    post = sh.select(
        "doc_id",
        "n",
        F.posexplode("hashes").alias("pos0", "h"),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "h")
    overlap_ub = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        pref.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (
                (F.col("b.n") > F.col("a.n"))
                | (
                    (F.col("b.n") == F.col("a.n"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            )
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (overlap_ub * 10000 >= CONTAIN_T_BP * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("id_small"),
            F.col("b.doc_id").alias("id_big"),
        )
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("id_small"),
        F.col("hashes").alias("h_a"),
        F.col("n").alias("n_small"),
    )
    sb = sh.select(
        F.col("doc_id").alias("id_big"),
        F.col("hashes").alias("h_b"),
        F.col("n").alias("n_big"),
    )
    o = F.size(F.array_intersect("h_a", "h_b"))
    return (
        cand.join(sa, "id_small")
        .join(sb, "id_big")
        .withColumn("o", o)
        .where(F.col("o") * 10000 >= CONTAIN_T_BP * F.col("n_small"))
        .select(
            "id_small",
            "id_big",
            F.col("n_small").cast("bigint").alias("n_small"),
            F.col("n_big").cast("bigint").alias("n_big"),
            F.expr("(o * 10000) div n_small").alias("containment_bp"),
        )
    )


# --- paragraph-granularity dedup ---------------------------------------------

# Non-overlapping word-window "paragraphs" (the corpus is single-line
# word streams, so a fixed window is the paragraph proxy; on real data
# you'd split on \n\n first and window only oversized blocks).
PARA_WORDS = 25


def paragraph_dedup(d: DataFrame) -> DataFrame:
    """Core of `dedup_paragraph` over any (doc_id, text) frame: segment
    each doc into consecutive PARA_WORDS-word paragraphs, drop every
    paragraph whose text occurs in >= 2 DISTINCT docs (all instances
    drop, CCNet-style — symmetric, no canonical-copy election needed),
    and emit the per-doc rewrite manifest: paragraph counts plus the md5
    of the kept text so the grade proves the reconstruction, not just
    the counts."""
    paras = d.select(
        "doc_id",
        F.posexplode(
            _word_ngrams(F.split(F.col("text"), " "), PARA_WORDS, PARA_WORDS)
        ).alias("idx", "para"),
    )
    freq = paras.groupBy("para").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    kept_struct = F.when(
        F.col("ndocs") < 2, F.struct(F.col("idx"), F.col("para"))
    )
    return (
        paras.join(freq, "para")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.count(F.when(F.col("ndocs") >= 2, 1)).alias("n_dup_paras"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda x: x["para"],
                    ),
                )
            ).alias("kept_fingerprint"),
        )
    )


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH corpus AS ({_PERTURB_SQL}),
    seg AS (
      SELECT doc_id, text,
             UNNEST(range(0, (len(string_split(text, ' ')) + {PARA_WORDS - 1})
                             // {PARA_WORDS})) AS idx
      FROM corpus
    ), paras AS (
      SELECT doc_id, idx,
             array_to_string(list_slice(string_split(text, ' '),
                                        idx * {PARA_WORDS} + 1,
                                        idx * {PARA_WORDS} + {PARA_WORDS}),
                             ' ') AS para
      FROM seg
    ), freq AS (
      SELECT para, COUNT(DISTINCT doc_id) AS ndocs FROM paras GROUP BY para
    )
    SELECT p.doc_id,
           COUNT(*) AS n_paras,
           COUNT(*) FILTER (WHERE f.ndocs >= 2) AS n_dup_paras,
           md5(COALESCE(string_agg(p.para, ' ' ORDER BY p.idx)
                          FILTER (WHERE f.ndocs < 2), '')) AS kept_fingerprint
    FROM paras p JOIN freq f USING (para)
    GROUP BY p.doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-granularity dedup — the RefinedWeb/FineWeb step the
    doc-level family doesn't cover: boilerplate paragraphs (headers,
    license blocks, navigation) repeat across otherwise-distinct
    documents, and doc-level Jaccard never fires on them. Runs over the
    planted-twin corpus, segments each doc into non-overlapping
    {PARA_WORDS}-word paragraphs, and removes every paragraph occurring
    in >= 2 distinct docs; output is the per-doc manifest (total /
    dropped paragraph counts + md5 of the kept reconstruction in
    original order — the fingerprint grades the rewrite itself).

    Scale shape: segmentation is a map-side explode (~size/{PARA_WORDS}
    rows per doc), frequency is ONE partial-agg groupBy on the paragraph
    text, membership rejoins on the same key (no second shuffle shape),
    and the manifest regroups by doc_id. No pairwise step exists at all
    — paragraph dedup is structurally a counting problem, which is why
    production pipelines run it at full corpus scale where pairwise
    dedup needs LSH. At 100 TB you'd group on xxhash64(para) (8-byte
    shuffle keys) and let AQE split the boilerplate hot keys; the
    string-keyed formulation here keeps the DuckDB oracle exact."""
    return paragraph_dedup(_corpus(spark, sf_dir))


# --- semantic dedup (SemDeDup) ----------------------------------------------

SEMDEDUP_K = 16  # k-means cells; SemDeDup prunes within-cell only
# Recall floor of cluster-blocked dedup vs the label-blocked exact pair
# set, compared in integers (found * DEN >= true * NUM).
SEMDEDUP_RECALL_NUM = 9
SEMDEDUP_RECALL_DEN = 10


def semantic_cluster_pairs(
    spark: SparkSession, sf_dir: str, k: int = SEMDEDUP_K
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al., 2023): cluster the corpus
    with a trained k-means coarse quantizer, then exact-cosine verify
    WITHIN each cluster only — clustering replaces dedup_embedding_
    cosine's label blocking, which production corpora don't have.

    Scale shape: k-means trains on a bounded deterministic sample
    (centroid quality saturates at ~tens of vectors per cell — FAISS
    practice); assignment is MAP-SIDE argmin over centroid literals
    (no join, no shuffle — the same plan shape as sim_topk_ivf); pair
    generation is an equi-join on cluster_id, so candidate count is
    sum-of-squares over cluster sizes, not corpus^2 — PROVIDED k grows
    with the corpus so cell occupancy stays bounded (FAISS sizes nlist
    ~ n/occupancy; `k` is a parameter for exactly this reason, and the
    scale-law suite runs the 10x corpus at 10x k). The returned pairs
    are exact-cosine-verified, never estimated."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = _emb_corpus(spark, sf_dir)
    sample_n = 64 * k
    # train off the UNSPREAD corpus (r21): the total sort makes the
    # sample identical regardless of partitioning, and the fit persists
    # its input once — the spread's exchange is pure overhead here
    train = (
        _emb_corpus(spark, sf_dir, spread=False)
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(sample_n)
        .select(array_to_vector("v").alias("features"))
    )
    # r22: initSteps=1 (one kmeans|| init round, ~0.25 s/fit cheaper);
    # SemDeDup recall re-validated 1.000/1.000/1.000 at
    # sf0.001/0.01/0.1 (2-step default read 0.995 at sf0.1; floor 0.9)
    model = KMeans(k=k, seed=42, maxIter=10, initSteps=1).fit(train)
    cents = [[float(x) for x in c] for c in model.clusterCenters()]
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(x) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    assigned = corpus.withColumn(
        "cluster_id",
        F.array_position(dists, F.array_min(dists)).cast("int"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            # same integer-bp decision as dedup_embedding_cosine, so the
            # recall contract's "found" set uses the identical gate as
            # its "truth" set instead of a raw-double compare
            F.round(cos * 10000, 0).cast("long").alias("_bp"),
        )
        .where(F.col("_bp") >= 9900)
        .select("id_a", "id_b")
    )


@query(
    "dedup_semantic_cluster",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label,
             list_prepend(embedding[1]::DOUBLE + 0.01,
                          list_transform(embedding[2:], x -> x::DOUBLE))
      FROM embeddings WHERE vec_id % 10 = 0
    ), truth AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE CAST(ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            * 10000) AS BIGINT) >= 9900
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok
    FROM truth
    """,
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades SemDeDup through the engine-portable RECALL CONTRACT (the
    `sim_topk_ivf_kmeans` pattern): trained float centroids aren't
    reproducible cross-engine, but the claim about them is — cluster-
    blocked exact-cosine dedup must recover >= 90% of the label-blocked
    exact pair set (integer compare, so the boolean can't flip on a
    float boundary). The oracle recomputes the exact truth count and
    emits the same deterministic row; a hash match therefore requires
    the trained clustering to actually co-locate near-duplicates on this
    round's data. At 100 TB this is exactly how you'd audit SemDeDup:
    exact recall on a sampled slice, cluster-pruned path in production."""
    truth = dedup_embedding_cosine(spark, sf_dir).select("id_a", "id_b")
    found = semantic_cluster_pairs(spark, sf_dir)
    found_true = truth.join(found, ["id_a", "id_b"]).select("id_a")
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true_pairs"))
    n_hit = found_true.agg(F.count("*").alias("n_found_true"))
    return n_true.crossJoin(n_hit).select(
        "n_true_pairs",
        (
            F.col("n_found_true") * SEMDEDUP_RECALL_DEN
            >= F.col("n_true_pairs") * SEMDEDUP_RECALL_NUM
        ).alias("recall_ok"),
    )
