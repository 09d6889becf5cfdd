"""Text-analysis operators (north-star LLM-pipeline set) + multimodal
column handling.

Training-data-pipeline text ops over `documents`: token statistics,
n-gram-heuristic language ID, quality scoring, rolling-hash fingerprinting,
BPE-ish regex token counting. Ratios are emitted in integer basis points
(value * 10000 DIV denominator) — exact in any engine, no float-rounding
hazards. Multimodal: image/audio/video as opaque binary + typed metadata;
the decode path runs a REAL tiny codec (a stdlib BMP header writer +
parser, `_encode_bmp`/`_decode_image_real`) — heavier formats slot in
behind the same signature — and the Spark plumbing — binary column,
Arrow-batched mapInPandas, schema, partitioning — is production-shaped.

Scale notes: everything except the decode path is JVM-side built-ins in
whole-stage codegen; decode is mapInPandas (Arrow batches), per-item
Python as any real image decoder is, partition-parallel with no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..io import cpu_spread, load
from ..registry import query

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_STOP_SQL = "['the','a','of','and','to','in','is']"


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
           CAST(len(replace(text, ' ', '')) * 10000
                // len(string_split(text, ' ')) AS BIGINT) AS avg_token_len_bp,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({_STOP_SQL}, t))) * 10000
                // len(string_split(text, ' ')) AS BIGINT) AS stopword_bp
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics: counts, distinct tokens, average token length and
    stopword ratio in exact basis points."""
    d = load(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # basis points via exact BIGINT `div` (the module convention, cf.
    # text_ngram_freq / sample_weighted_priority) — a double quotient
    # cast to bigint can land one ulp across an exact-integer boundary
    # and truncate differently than the oracle's integer `//`.
    # n_tokens >= 1 always (split('') == ['']), so div-by-zero is moot.
    base = d.select(
        "doc_id",
        "n_chars",
        F.size(tokens).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tokens)).cast("bigint").alias("n_uniq_tokens"),
        F.length(F.regexp_replace("text", " ", ""))
        .cast("bigint")
        .alias("char_len"),
        F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
        .cast("bigint")
        .alias("n_stop"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        F.expr("(char_len * 10000) div n_tokens").alias("avg_token_len_bp"),
        F.expr("(n_stop * 10000) div n_tokens").alias("stopword_bp"),
    )


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> list_contains({_STOP_SQL}, t))) >= 2
                THEN 'en' ELSE 'other' END AS lang_guess,
           (lang = CASE WHEN len(list_filter(string_split(text, ' '),
                                             t -> list_contains({_STOP_SQL}, t))) >= 2
                        THEN 'en' ELSE 'other' END) AS correct
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit heuristic (the n-gram-frequency family
    of detectors, reduced to an exact countable form)."""
    d = load(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(
        F.filter(F.split("text", " "), lambda t: F.array_contains(stop_arr, t))
    )
    guess = F.when(hits >= 2, "en").otherwise("other")
    return d.select(
        "doc_id",
        "lang",
        guess.alias("lang_guess"),
        (F.col("lang") == guess).alias("correct"),
    )


@query(
    "text_quality",
    oracle="""
    SELECT doc_id, quality_score,
           CASE WHEN quality_score >= 3 THEN 'keep'
                WHEN quality_score >= 2 THEN 'review'
                ELSE 'drop' END AS verdict
    FROM (
      SELECT doc_id,
             (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 1 ELSE 0 END)
             + (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END)
             + (CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
                          >= len(string_split(text, ' ')) THEN 1 ELSE 0 END)
             + (CASE WHEN NOT regexp_matches(text, '[0-9]{{8,}}') THEN 1 ELSE 0 END)
               AS quality_score
      FROM documents
    )
    """.replace("{{", "{").replace("}}", "}"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length window, token count, type-token ratio,
    no-digit-runs — integer score -> keep/review/drop verdict (the standard
    pretraining-filter shape)."""
    d = load(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    score = (
        F.when(F.col("n_chars").between(100, 1000), 1).otherwise(0)
        + F.when(F.size(tokens) >= 20, 1).otherwise(0)
        + F.when(F.size(F.array_distinct(tokens)) * 10 >= F.size(tokens), 1).otherwise(0)
        + F.when(~F.col("text").rlike("[0-9]{8,}"), 1).otherwise(0)
    )
    verdict = (
        F.when(F.col("quality_score") >= 3, "keep")
        .when(F.col("quality_score") >= 2, "review")
        .otherwise("drop")
    )
    return d.select("doc_id", score.alias("quality_score")).select(
        "doc_id", "quality_score", verdict.alias("verdict")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(SUM(((CAST(i AS BIGINT) * 31 + len(parts[i])) * 131
                     + ascii(parts[i])) * CAST(i AS BIGINT)
                    % 1000000007)
                % 1000000007 AS BIGINT) AS fingerprint
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
         UNNEST(generate_series(1, len(parts))) AS t(i)
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: position-weighted polynomial rolling hash over
    words — pure integer arithmetic, so the DuckDB oracle reproduces it
    exactly (unlike xxhash-based fingerprints).

    Each term is reduced mod M = 1e9+7 BEFORE the sum, and the partial
    sums fold mod M again: mod distributes over addition, so the result
    is identical wherever both forms are defined, but the unreduced form
    overflows — terms grow as O(i^2 * 131 * 31), so a ~150k-word document
    pushes the raw BIGINT sum past 2^63-1 and ANSI mode hard-fails with
    ARITHMETIC_OVERFLOW. Reduced terms are < 1e9+7, so the sum is never
    the overflow site any more; the new binding constraint is the raw
    per-term product, which stays in-range to ~5e7 words per document
    (~300 MB of text in ONE doc) — far past any real corpus document,
    vs the old ~1.5e5-word cliff. Planted long-doc pin:
    tests/test_udf_edges.py::test_text_fingerprint_long_doc_no_overflow."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("i"), "word")
    term = (
        (F.col("i") * 31 + F.length("word")) * 131 + F.ascii("word")
    ) * F.col("i")
    return words.groupBy("doc_id").agg(
        (F.sum(term % 1000000007) % 1000000007).alias("fingerprint")
    )


@query(
    "token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens vs a BPE-ish regex tokenization
    (letter runs / digit runs / single punctuation) — the cheap token-count
    estimate a pretraining pipeline keeps per document."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("([a-z]+|[0-9]+|[^a-z0-9 ])"), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


@query(
    "multimodal_cols",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           CAST(len(e.embedding) AS INTEGER) AS emb_dim,
           round(sqrt(list_dot_product(
             list_transform(e.embedding, x -> x::DOUBLE),
             list_transform(e.embedding, x -> x::DOUBLE))), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.doc_id % 4 = 0
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality row: text metadata joined with its vector column —
    the canonical multimodal training-row shape (text + embedding +
    scalars)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    e = load(spark, sf_dir, "embeddings")
    dv = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dv, dv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "label",
            F.size("embedding").alias("emb_dim"),
            F.round(F.sqrt(dot), 6).alias("emb_norm"),
        )
    )


_DECODE_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def _bmp_dims(n: int) -> tuple[int, int, int]:
    """Deterministic fake-decode layout for an n-byte payload:
    (width, height, n_frames). ONE definition for the three encode/
    sample sites (multimodal_decode, _bmp_dir, multimodal_framesample)
    — each is certified against a SQL oracle that hard-codes this math
    (len % 640 + 1, (len * 7) % 480 + 1, len % 30 + 1), so the sites
    must stay bit-identical with each other and with the oracles."""
    return n % 640 + 1, (n * 7) % 480 + 1, n % 30 + 1


def _encode_bmp(pixel_bytes: bytes, width: int, height: int) -> bytes:
    """Write a real (header-valid) BMP file: 14-byte file header +
    40-byte BITMAPINFOHEADER + payload. Pure stdlib — this is the writer
    half of the tiny real codec the decode path exercises."""
    import struct

    file_header = b"BM" + struct.pack(
        "<IHHI", 54 + len(pixel_bytes), 0, 0, 54
    )
    dib = struct.pack(
        "<IiiHHIIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        0,  # biCompression (BI_RGB)
        len(pixel_bytes),  # biSizeImage
        2835,  # 72 DPI
        2835,
        0,
        0,
    )
    return file_header + dib + pixel_bytes


def _decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real codec: parse the BMP header — magic check, little-endian
    int32 width/height at BITMAPINFOHEADER offsets 18/22 (height may be
    negative for top-down bitmaps; dimensions are reported positive).
    Heavier formats (JPEG/PNG/video) slot in here behind the same
    signature — the Spark plumbing around it (binary column, Arrow
    batches, output schema) does not change with the codec."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width, height = struct.unpack_from("<ii", payload, 18)
    return width, abs(height)


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) + 54 AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER)
             AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS INTEGER) AS n_frames
    FROM documents
    WHERE doc_id % 6 = 0
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode via Arrow-batched mapInPandas, with a REAL
    codec end to end: stage 1 materializes the binary column as genuine
    BMP files (`_encode_bmp` — the lake's documents carry no image
    payloads, so one is written around each doc's bytes with
    deterministic dimensions); stage 2 is the payload-agnostic decoder,
    which recovers width/height by actually parsing the BMP header
    (`_decode_image_real`), never by peeking at the metadata that built
    it. n_frames stands in for the video case (derived, no container
    format here). Decode is per-item Python inside Arrow batches — the
    shape any real codec (PIL/ffmpeg) runs in — partition-parallel with
    no shuffle."""
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 6 == 0)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )

    _BIN_OUT = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _bmp_or_none(p) -> bytes | None:
        # SQL NULL arrives as None; encode(NULL) is NULL in the oracle,
        # so a NULL payload flows through as NULL instead of crashing
        # bytes(None) (fixtures carry no NULL text — this is the
        # semantic for foreign documents tables).
        if p is None:
            return None
        b = bytes(p)
        width, height, _ = _bmp_dims(len(b))
        return _encode_bmp(b, width, height)

    def to_bmp_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_bmp_or_none(p) for p in pdf["payload"]],
                }
            )

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload -> every derived field NULL (the oracle's
            # octet_length(NULL) arithmetic); nullable Int32 keeps the
            # Arrow schema intact with None holes.
            dims = [
                _decode_image_real(bytes(p)) if p is not None else (None, None)
                for p in pdf["payload"]
            ]
            n_bytes = pd.array(
                [len(p) if p is not None else None for p in pdf["payload"]],
                dtype="Int64",
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(n_bytes, dtype="Int32"),
                    "width": pd.array([w for w, _ in dims], dtype="Int32"),
                    "height": pd.array([h for _, h in dims], dtype="Int32"),
                    "n_frames": pd.array(
                        (n_bytes - 54) % 30 + 1, dtype="Int32"
                    ),
                }
            )

    return d.mapInPandas(to_bmp_batches, _BIN_OUT).mapInPandas(
        decode_batches, _DECODE_OUT
    )


# --- training-data pipeline ops: redaction, chunking, stratified split ------

CHUNK_WORDS = 50
CHUNK_STRIDE = 40


@query(
    "text_redact_pii",
    oracle="""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +91-'
                       || lpad(CAST(doc_id % 10000000000 AS VARCHAR), 10, '7')
                  ELSE text END AS text
      FROM documents
    ), redacted AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '[a-z0-9.]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
               '\\+[0-9]{2}-[0-9]{10}', '<PHONE>', 'g') AS clean
      FROM corpus
    )
    SELECT doc_id,
           CAST(len(clean) AS BIGINT) AS n_chars_clean,
           CAST((len(clean) - len(replace(clean, '<EMAIL>', ''))) / 7 AS BIGINT)
             AS n_emails,
           CAST((len(clean) - len(replace(clean, '<PHONE>', ''))) / 7 AS BIGINT)
             AS n_phones,
           md5(clean) AS clean_hash
    FROM redacted
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: regex-scrub emails and phone
    numbers to typed placeholder tokens, entirely JVM-side (regexp_replace
    in whole-stage codegen — no UDF). PII is planted deterministically on
    every 5th doc so the redaction provably fires; md5 of the cleaned text
    pins exact output parity with the oracle."""
    d = load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +91-"),
            F.lpad((F.col("doc_id") % 10000000000).cast("string"), 10, "7"),
        ),
    ).otherwise(F.col("text"))
    clean = F.regexp_replace(
        F.regexp_replace(planted, r"[a-z0-9.]+@[a-z]+\.[a-z]+", "<EMAIL>"),
        r"\+[0-9]{2}-[0-9]{10}",
        "<PHONE>",
    )
    n_of = lambda c, tok: (  # noqa: E731
        (F.length(c) - F.length(F.regexp_replace(c, tok, ""))) / 7
    ).cast("bigint")
    return d.select(
        "doc_id",
        F.length(clean).cast("bigint").alias("n_chars_clean"),
        n_of(clean, "<EMAIL>").alias("n_emails"),
        n_of(clean, "<PHONE>").alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


@query(
    "text_chunk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             CAST(k AS BIGINT) AS chunk_id,
             array_to_string(w[k * {CHUNK_STRIDE} + 1 :
                               k * {CHUNK_STRIDE} + {CHUNK_WORDS}], ' ') AS chunk
      FROM words,
           LATERAL unnest(generate_series(
             0, CAST((n + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} AS BIGINT) - 1
           )) AS t(k)
    )
    SELECT doc_id, chunk_id,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_words,
           md5(chunk) AS chunk_hash
    FROM chunks
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for context-window packing:
    {CHUNK_WORDS}-word chunks every {CHUNK_STRIDE} words (10-word overlap),
    one output row per chunk via explode(sequence) — no UDF, no UDTF, and
    chunking is map-side-only so it scales with the scan. Trailing chunks
    are shorter (never empty); md5 pins exact chunk-text parity."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # ceil-div in exact BIGINT `div` (module convention) — the double
    # quotient form ((n+39)/40).cast(bigint) truncates correctly today
    # but rides a final-ulp boundary on exact multiples of the stride.
    base = d.select("doc_id", words.alias("w"), F.size(words).alias("n"))
    n_chunks = F.expr(f"(n + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE}")
    chunked = base.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
        ).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ", F.slice("w", F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_WORDS)
        ).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(F.split("chunk", " ")).cast("bigint").alias("n_words"),
        F.md5("chunk").alias("chunk_hash"),
    )


TRAIN_PCT = 80


@query(
    "sample_stratified_split",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ((doc_id % 2147483648 * 1000 + 7) % 2147483648
                         * 1103515245 + 12345) % 2147483648,
                        doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT lang,
           CASE WHEN r * 100 <= n_lang * {TRAIN_PCT} THEN 'train' ELSE 'eval' END
             AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM ranked
    GROUP BY 1, 2
    """,
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/eval split: within each language
    stratum, docs are ordered by a portable LCG hash of doc_id (stable
    across engines and runs — re-running the pipeline reproduces the exact
    split) and the first {TRAIN_PCT}% become train. Exact per-stratum
    proportions, no RNG state; sum_ids pins exact membership, not just
    counts."""
    from ..sources.datagen import lcg

    d = load(spark, sf_dir, "documents")
    # bound the LCG seed mod 2^31 so intermediates never wrap int64 at
    # large doc_id ranges (DuckDB would promote to HUGEINT and diverge)
    w = Window.partitionBy("lang").orderBy(
        lcg((F.col("doc_id") % 2147483648 * 1000 + 7) % 2147483648),
        F.col("doc_id"),
    )
    wn = Window.partitionBy("lang")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("r"),
        F.count("*").over(wn).alias("n_lang"),
    )
    return (
        ranked.select(
            "lang",
            F.when(
                F.col("r") * 100 <= F.col("n_lang") * TRAIN_PCT, F.lit("train")
            )
            .otherwise(F.lit("eval"))
            .alias("split"),
            "doc_id",
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids"))
    )


FRAME_STRIDE = 5

_FRAMES_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


@query(
    "multimodal_framesample",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) % 30 + 1 AS INTEGER) AS n_frames
      FROM documents WHERE doc_id % 6 = 0
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           md5(text || '#' || CAST(f AS VARCHAR)) AS frame_hash
    FROM vids, LATERAL unnest(generate_series(0, n_frames - 1, {FRAME_STRIDE}))
         AS t(f)
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary video column: every {FRAME_STRIDE}th
    frame of each payload becomes its own output row — the 1->N row
    expansion a real sampler does, expressed as Arrow-batched mapInPandas
    (payload crosses into Python ONCE per doc; frames are derived rows,
    exactly how a cv2/ffmpeg sampler batches). Frame count comes from the
    same deterministic fake decode as multimodal_decode; the frame 'pixel'
    hash is md5(payload + '#' + idx) so output parity is pinned
    byte-for-byte."""
    import hashlib

    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 6 == 0)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for r in pdf.itertuples(index=False):
                if r.payload is None:
                    # oracle: generate_series(0, NULL-1) emits nothing —
                    # a NULL payload contributes no frames (and must not
                    # crash bytes(None))
                    continue
                payload = bytes(r.payload)
                _, _, n_frames = _bmp_dims(len(payload))
                for f in range(0, n_frames, FRAME_STRIDE):
                    ids.append(int(r.doc_id))
                    idxs.append(f)
                    hashes.append(
                        hashlib.md5(
                            payload + b"#" + str(f).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return d.mapInPandas(sample_batches, _FRAMES_OUT)


CTX_TOKENS = 256  # target training context length, in whitespace tokens


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS cum_before
      FROM toks
    )
    SELECT source,
           CAST(cum_before // {CTX_TOKENS} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum
    GROUP BY source, CAST(cum_before // {CTX_TOKENS} AS BIGINT)
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING for LLM training: documents are concatenated in
    deterministic (source, doc_id) order and cut into fixed CTX_TOKENS
    context windows; each doc is assigned to the window its first token
    falls in (`seq_id = floor(tokens_before / CTX)` — the running-sum
    formulation of concat-and-chunk packing). Output is the packing
    manifest per (source, sequence): doc count, token count and the doc-id
    range, which is exactly what a training dataloader needs to material-
    ize shard files.

    Scale: one window (shuffle on `source` + in-partition sort by doc_id)
    and one reassociative groupBy that reuses the same partitioning — no
    UDF, no driver loop. `source` is a coarse partition key; at 100 TB you
    sub-partition it (e.g. (source, doc_id bucket) with per-bucket token
    offsets re-based map-side) so no single packing partition exceeds an
    executor — the running-sum shape is unchanged."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / CTX_TOKENS).alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "text_idf_rarity",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
      FROM documents
    ), dfreq AS (
      SELECT w, COUNT(*) AS df FROM words GROUP BY w
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(FLOOR(SUM(FLOOR(10000 / df)) / COUNT(*)) AS BIGINT) AS rarity_bp
    FROM words JOIN dfreq USING (w)
    GROUP BY doc_id
    """,
)
def text_idf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring: per-document mean inverse
    document frequency in basis points — docs made of corpus-rare words
    score high, boilerplate-heavy docs score low (the IDF half of TF-IDF
    as a training-data quality filter). Two passes over the distinct
    (doc, word) relation: a document-frequency aggregate, then a join
    back and a per-doc reduce. INTEGER-EXACT by construction:
    floor(10000/df) and the floored mean avoid float log/division
    portability hazards entirely (exact for any df < 2^53 — a correctly
    rounded double quotient can only cross an integer boundary when the
    true quotient IS that integer).

    Scale: df fits the vocabulary (~Heaps' law, millions of rows at
    100 TB, not billions) so the join's df side broadcasts (plan-checked);
    both groupBys partial-aggregate map-side. The word explode itself is
    map-side work recomputed per pass — cheaper than materializing the
    exploded relation; at 100 TB you'd cache/checkpoint it only if the
    corpus scan dominates the two passes."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower("text"), " "))
        ).alias("w"),
    )
    dfreq = words.groupBy("w").agg(F.count("*").alias("df"))
    return (
        words.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.floor(
                F.sum(F.floor(F.lit(10000) / F.col("df"))) / F.count("*")
            )
            .cast("bigint")
            .alias("rarity_bp"),
        )
    )


# --- benchmark decontamination ----------------------------------------------

# Deterministic "benchmark" designation: every 37th doc_id plays the
# held-out eval set (~2.7% of the corpus) so the operator is exactly
# reproducible in both engines. In production this side is the actual
# benchmark suite's text (MMLU/GSM8K/...), which is TINY relative to the
# training corpus — the asymmetry the plan exploits.
DECONTAM_BENCH_MOD = 37
DECONTAM_BP = 2000  # flag docs with >= 20% of shingles seen in benchmarks


@query(
    "text_decontaminate",
    oracle=f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(sh) AS s FROM shingled
      WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ),
    probe AS (
      SELECT doc_id, unnest(sh) AS s FROM shingled
      WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
    ),
    hits AS (
      SELECT p.doc_id, COUNT(*) AS n_hits
      FROM probe p JOIN bench b USING (s)
      GROUP BY p.doc_id
    )
    SELECT s.doc_id,
           CAST(len(s.sh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) * 10000 // len(s.sh) AS BIGINT)
             AS contamination_bp,
           COALESCE(h.n_hits, 0) * 10000 // len(s.sh) >= {DECONTAM_BP}
             AS contaminated
    FROM shingled s LEFT JOIN hits h USING (doc_id)
    WHERE s.doc_id % {DECONTAM_BENCH_MOD} <> 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the training-pipeline step that keeps
    eval questions out of the training set: score every training doc by
    the share of its word 3-gram shingles that appear anywhere in the
    benchmark set, and flag docs over the threshold for removal. (The
    published practice: n-gram-overlap decontamination as in the GPT-3 /
    The Pile / FineWeb reports, reduced to its exact countable core.)

    Scale shape: the benchmark side is DISTINCT shingles of a tiny
    corpus slice — broadcast it; the training side streams map-side
    through ONE shingle+explode pass into a broadcast LEFT join, and a
    single partial-agg groupBy(doc_id) computes n_shingles (count of
    exploded rows — exact, shingles are distinct) and n_hits (count of
    benchmark matches) together, so every probe doc survives to the
    output without a second pass over the corpus (shingling is the
    CPU-bound cost; measured 2x on the whole query vs the
    inner-join-then-join-back formulation). One shuffle, no candidate
    pair blow-up, nothing driver-side: at 100 TB the benchmark shingle
    set is a few MB against TBs of probes."""
    from .dedup import _shingles

    # shingling is the CPU-bound cost (io.cpu_spread); the output is
    # per-doc aggregates, so partitioning cannot move it
    d = cpu_spread(load(spark, sf_dir, "documents"), "doc_id")
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    shingle_rows = d.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("s")
    )
    # the benchmark filter sits below the projection, so only the tiny
    # slice pays shingling on this side
    bench = (
        shingle_rows.where(is_bench)
        .select(F.col("s").alias("s_b"))
        .distinct()
    )
    per_doc = (
        shingle_rows.where(~is_bench)
        .join(F.broadcast(bench), F.col("s") == F.col("s_b"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("s_b").alias("n_hits"),
        )
    )
    bp = F.expr("(n_hits * 10000) div n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        bp.alias("contamination_bp"),
        (bp >= DECONTAM_BP).alias("contaminated"),
    )


# --- deterministic weighted sampling -----------------------------------------

SAMPLE_K = 100


@query(
    "sample_weighted_priority",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           CAST(((doc_id % 2147483648 * 1000 + 13) % 2147483648
                 * 1103515245 + 12345) % 2147483648
                // greatest(n_chars, 1) AS BIGINT) AS sample_key
    FROM documents
    ORDER BY sample_key, doc_id
    LIMIT {SAMPLE_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sampling: each doc draws a portable
    LCG pseudo-random priority and divides it by its weight (n_chars —
    longer docs are proportionally more likely to win); the K smallest
    keys are the sample. This is the priority-sampling family
    (Duffield/Lund/Thorup) with the RNG replaced by the same portable LCG
    the split operators use, so the drawn sample is bit-reproducible
    across engines and re-runs — the property a training pipeline needs
    to make "the sampled corpus" a stable artifact, not a lottery.
    Integer arithmetic throughout (seed bounded mod 2^31 before the LCG
    step, BIGINT `div` by the weight — the same exact-division
    convention as graph_pagerank, no double-quotient floor hazard).

    Scale shape: key computation is map-side codegen; global top-K
    compiles to TakeOrderedAndProject (per-partition heaps + driver merge
    of K rows, never a global sort) — the same plan at any corpus size.
    Tie-break on doc_id makes the K-th seat deterministic."""
    from ..sources.datagen import lcg

    d = load(spark, sf_dir, "documents")
    seed = (F.col("doc_id") % 2147483648 * 1000 + 13) % 2147483648
    return (
        d.select("doc_id", "n_chars", lcg(seed).alias("pri"))
        .select(
            "doc_id",
            "n_chars",
            F.expr("pri div greatest(n_chars, 1)").alias("sample_key"),
        )
        .orderBy("sample_key", "doc_id")
        .limit(SAMPLE_K)
    )


# --- binary-file directory ingest --------------------------------------------


def _bmp_dir(spark: SparkSession, sf_dir: str) -> str:
    """Seed a directory of REAL .bmp files (one per sampled doc, written
    executor-side over Arrow batches) — the 'image lake landed on disk'
    precondition for the binaryFile scan. Filenames carry the doc_id so
    the scan's output is differentiable against the documents table.

    The directory is an `io.seeded_landing` artifact: `_SUCCESS` is
    touched only after every file is written, and the landing lock
    serializes first writers, so a concurrent session's binaryFile
    listing never sees a half-seeded directory. The fingerprint covers
    this module (`_encode_bmp` and the sampling predicate), io.py,
    whose load() normalization the payload flows through, and the
    documents file."""
    import os
    import shutil
    import sys

    from .. import io as _io_module
    from ..io import module_fingerprint, scratch_dir, seeded_landing

    out = scratch_dir(sf_dir, "bmp_files")

    def write_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os

        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # a NULL payload cannot become a file; skip it
                    # (fixtures carry no NULL text — defensive only)
                    continue
                p = bytes(payload)
                width, height, _ = _bmp_dims(len(p))
                bmp = _encode_bmp(p, width, height)
                path = _os.path.join(out, f"doc_{int(doc_id)}.bmp")
                with open(path, "wb") as fh:
                    fh.write(bmp)
            yield pd.DataFrame({"n": [len(pdf)]})

    def write() -> None:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        (
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 6 == 0)
            .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
            .mapInPandas(write_files, "n int")
            .agg(F.sum("n"))
            .collect()
        )
        open(os.path.join(out, "_SUCCESS"), "w").close()

    src = f"{sf_dir}/documents.parquet"
    fp = module_fingerprint(_io_module, sys.modules[__name__], sources=(src,))
    return seeded_landing(out, fp, write)


@query(
    "scan_binaryfile",
    oracle="""
    SELECT 'doc_' || doc_id || '.bmp' AS file_name,
           CAST(octet_length(encode(text)) + 54 AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS height
    FROM documents WHERE doc_id % 6 = 0
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file DIRECTORY ingest — the real-world multimodal shape the
    inline-bytes decode (`multimodal_decode`) doesn't cover: a directory
    of image files lands on the lake, `spark.read.format("binaryFile")`
    lists and partitions them across tasks (pathGlobFilter prunes the
    listing server-side), and the same real BMP header parser recovers
    dimensions from the bytes READ BACK OFF DISK. The oracle recomputes
    every field from the documents table and the codec's layout math, so
    the grade proves the bytes round-tripped through the filesystem —
    writer, file scan, and parser all agree.

    Scale shape: binaryFile splits the file listing across tasks and
    caps partition payload via spark.sql.files.maxPartitionBytes (small
    files group, huge files isolate); decode is per-item Python inside
    Arrow batches — the shape a PIL/ffmpeg codec runs in — partition-
    parallel with no shuffle at all."""
    src = _bmp_dir(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(src)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").cast("bigint").alias("n_bytes"),
            "content",
        )
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_decode_image_real(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "file_name": pdf["file_name"],
                    "n_bytes": pdf["n_bytes"].astype("int64"),
                    "width": pd.Series([w for w, _ in dims], dtype="int32"),
                    "height": pd.Series([h for _, h in dims], dtype="int32"),
                }
            )

    return files.mapInPandas(
        decode, "file_name string, n_bytes bigint, width int, height int"
    )


NGRAM_TOP_K = 50


@query(
    "text_ngram_freq",
    oracle=f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    ), exploded AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled
    )
    SELECT shingle, COUNT(*) AS doc_freq
    FROM exploded GROUP BY shingle
    ORDER BY doc_freq DESC, shingle
    LIMIT {NGRAM_TOP_K}
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram FREQUENCY table — the vocabulary-analysis staple
    (stop-phrase discovery, boilerplate detection, the document-frequency
    side of IDF): top-{NGRAM_TOP_K} word 3-grams by document frequency
    (each doc counts a shingle once — shingle sets are distinct), ties
    broken lexicographically for a deterministic tail seat.

    Scale shape: explode -> partial-aggregated groupBy(shingle) -> global
    top-K via TakeOrderedAndProject (per-partition heaps, driver merges K
    rows). The aggregate output is bounded by vocabulary (~Heaps' law),
    not corpus size; no sort of the full frequency table ever happens."""
    d = load(spark, sf_dir, "documents")
    from .dedup import _shingles

    return (
        d.select(F.explode(_shingles(F.col("text"))).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(NGRAM_TOP_K)
    )


BOOT_REPS = 10
BOOT_DRAWS = 1000


@query(
    "sample_bootstrap_means",
    oracle=f"""
    WITH m AS (SELECT MAX(doc_id) + 1 AS mod FROM documents),
    draws AS (
      SELECT i // {BOOT_DRAWS} AS rep,
             ((i % 2147483648) * 1103515245 + 12345) % 2147483648
               % (SELECT mod FROM m) AS doc_id
      FROM generate_series(0, {BOOT_REPS * BOOT_DRAWS - 1}) AS t(i)
    )
    SELECT d.rep,
           COUNT(*) AS n_draws,
           CAST(SUM(doc.n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc.n_chars) * 100 // COUNT(*) AS BIGINT)
             AS mean_chars_x100
    FROM draws d JOIN documents doc USING (doc_id)
    GROUP BY d.rep
    """,
)
def sample_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BOOTSTRAP resampling — {BOOT_REPS} replicates of
    {BOOT_DRAWS} draws WITH replacement, each reporting the resampled
    mean doc length (x100, integer): the spread across replicates is the
    bootstrap confidence interval for the corpus statistic — the
    resampling-based error bar a data-quality dashboard puts next to
    every metric. Draw i targets doc_id = LCG(i) mod (max_id + 1) — the
    same portable LCG as the split/sampling family, so every replicate
    is bit-reproducible in any engine; ids that don't exist simply drop
    on both sides identically (no density assumption).

    Scale shape: the draw table is REPS x DRAWS rows built from
    `spark.range` — tiny and data-independent — and BROADCASTS into the
    corpus join (the corpus never reshuffles); the modulus comes from a
    broadcast 1-row aggregate, not a driver collect. Per-replicate sums
    partial-aggregate map-side. At 100 TB: same plan, same draw table."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mod = d.agg((F.max("doc_id") + 1).alias("mod"))
    from ..sources.datagen import lcg

    draws = (
        spark.range(BOOT_REPS * BOOT_DRAWS)
        .join(F.broadcast(mod))
        .select(
            F.expr(f"id div {BOOT_DRAWS}").alias("rep"),
            (lcg(F.col("id") % 2147483648) % F.col("mod")).alias("doc_id"),
        )
    )
    return (
        d.join(F.broadcast(draws), "doc_id")
        .groupBy("rep")
        .agg(
            F.count("*").alias("n_draws"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.expr("(sum(n_chars) * 100) div count(*)")
            .cast("bigint")
            .alias("mean_chars_x100"),
        )
    )


# --- temperature-scaled corpus mixing ----------------------------------------

# Targets ∝ sqrt(n_s) — temperature T=2 flattening (alpha = 1/T = 0.5).
# sqrt is the one power IEEE 754 requires correctly rounded, so both
# engines derive bit-identical targets; pow(n, 0.7)-style alphas are NOT
# correctly rounded and could flip a floor() at a boundary.
TEMP_MIX_C = 3


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), targets AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * {TEMP_MIX_C}) AS BIGINT)
               AS target_n
      FROM counts
    ), ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483648 * 1000 + 29) % 2147483648
                         * 1103515245 + 12345) % 2147483648, doc_id) AS rn
      FROM documents
    )
    SELECT r.source,
           t.n_docs,
           LEAST(t.target_n, t.n_docs) AS target_n,
           COUNT(*) AS n_kept,
           CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum
    FROM ranked r JOIN targets t USING (source)
    WHERE r.rn <= t.target_n
    GROUP BY r.source, t.n_docs, t.target_n
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing — the GPT-3/Llama data-mixing
    step: per-source sampling targets ∝ n_s^(1/T) so low-resource
    sources are up-weighted relative to their share (T=2 here, i.e.
    targets ∝ sqrt(n_s)). Selection is EXACT-COUNT and bit-reproducible:
    docs rank within their source by a portable-LCG priority and the
    top target_n survive — no Bernoulli coin flips, so the mixed corpus
    is a stable artifact (the same property `sample_weighted_priority`
    pins for weighted sampling). The emitted manifest carries per-source
    kept counts plus the kept-id checksum, so the grade proves WHICH
    docs were chosen, not just how many.

    Scale shape: counts are one partial-agg groupBy(source); ranking is
    one window over the same key (the shuffle is reused); the final
    manifest regroups on it again. The targets relation is sources-sized
    (tiny) and broadcast into the rank filter. At 100 TB the only thing
    that grows is the ranked scan — the classic per-group top-K shape,
    WindowGroupLimit-prunable since the rank bound is a per-source
    constant."""
    from ..sources.datagen import lcg

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    targets = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * TEMP_MIX_C)
        .cast("bigint")
        .alias("target_n"),
    )
    seed = (F.col("doc_id") % 2147483648 * 1000 + 29) % 2147483648
    w = Window.partitionBy("source").orderBy(lcg(seed), "doc_id")
    ranked = d.select(
        "source", "doc_id", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.join(F.broadcast(targets), "source")
        .where(F.col("rn") <= F.col("target_n"))
        .groupBy(
            "source",
            "n_docs",
            F.least("target_n", "n_docs").alias("target_n"),
        )
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
        )
    )


# --- within-document repetition (Gopher filters) ------------------------------

REP_BP = 3000  # flag docs whose duplicated-3-gram share exceeds 30%


def repetition_stats(d: DataFrame) -> DataFrame:
    """Core of `text_repetition_gopher` over any (doc_id, text) frame;
    see the registered query's docstring for semantics.

    Gram explosion is CPU-bound (io.cpu_spread), and hash-partitioning
    on doc_id satisfies BOTH downstream groupings (doc_id is a prefix of
    (doc_id, g)), so the plan is scan -> one exchange -> explode + count
    + reduce. keep_exchange: this exchange replaces the (doc_id, g) one,
    which carries exploded 3-grams (more bytes than the raw docs), so it
    stays on a wide scan too. Counts are partitioning-independent."""
    d = cpu_spread(d, "doc_id", keep_exchange=True)
    from .dedup import _word_ngrams

    grams = d.select(
        "doc_id", F.explode(_word_ngrams(F.split("text", " "), 3)).alias("g")
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    dup_occ = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
    total = F.sum("c")
    return counts.groupBy("doc_id").agg(
        total.cast("bigint").alias("n_grams"),
        dup_occ.cast("bigint").alias("n_dup_occ"),
        F.expr(
            "CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 10000"
            " div SUM(c) AS BIGINT)"
        ).alias("dup_bp"),
        F.expr("CAST(MAX(c) * 10000 div SUM(c) AS BIGINT)").alias("top_bp"),
        (dup_occ * 10000 >= F.lit(REP_BP) * total).alias("repetitive"),
    )





@query(
    "text_repetition_gopher",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[i:i+2], ' ') AS g
      FROM documents,
           UNNEST(generate_series(1,
             greatest(len(string_split(text, ' ')) - 2, 1))) AS t(i)
    ), counts AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_occ,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 10000
                // SUM(c) AS BIGINT) AS dup_bp,
           CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS top_bp,
           SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 10000
             >= {REP_BP} * SUM(c) AS repetitive
    FROM counts
    GROUP BY doc_id
    """,
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition filters (the Gopher/MassiveText rule
    family: "fraction of characters in duplicate n-grams" /"fraction in
    most common n-gram", reduced to the exact countable word-3-gram
    core): per doc, the share of 3-gram OCCURRENCES whose text repeats
    inside the same document, and the share claimed by the single most
    frequent 3-gram — both in integer basis points — plus the >=30%
    repetitive verdict. Complements the CROSS-document dedup family: a
    boilerplate-looped document has no twin to pair with, but its
    internal n-gram histogram gives it away.

    Scale shape: gram explode is map-side; one partial-agg groupBy on
    (doc_id, gram); the per-doc reduce regroups on the doc_id prefix of
    the same key. All-integer arithmetic end to end."""
    return repetition_stats(load(spark, sf_dir, "documents"))


# --- BPE tokenizer-merge induction ------------------------------------------

BPE_VOCAB = 200  # train on the top-N word-frequency table (standard BPE)
BPE_MERGES = 8  # learned merge rules emitted


def _bpe_round_ctes(r: int) -> str:
    # every symbol is wrapped in its OWN pair of spaces (' a  b ' has a
    # double space at the junction), so the pair pattern ' a  b ' never
    # shares a delimiter with the next occurrence and ONE replace pass
    # merges adjacent repeats exactly like canonical left-to-right
    # non-overlapping BPE application (ADVICE r7 #4)
    prev = f"seg{r - 1}"
    return f"""
, p{r} AS MATERIALIZED (
  SELECT s.sa, s.sb, SUM(s.cnt) AS w FROM (
    SELECT syms[i] AS sa, syms[i + 1] AS sb, cnt
    FROM (
      SELECT cnt, string_split(trim(seg), '  ') AS syms,
             unnest(generate_series(1, len(string_split(trim(seg), '  ')) - 1)) AS i
      FROM {prev}
    )
  ) s GROUP BY s.sa, s.sb
), t{r} AS MATERIALIZED (
  SELECT sa, sb, w FROM p{r} ORDER BY w DESC, sa, sb LIMIT 1
), seg{r} AS MATERIALIZED (
  SELECT word, cnt,
         replace(seg,
                 ' ' || (SELECT sa FROM t{r}) || '  ' || (SELECT sb FROM t{r}) || ' ',
                 ' ' || (SELECT sa FROM t{r}) || (SELECT sb FROM t{r}) || ' ') AS seg
  FROM {prev}
)"""


# The training CTE chain alone (shared by the train oracle and the
# tokenize-apply oracle, which appends its own application CTEs).
_BPE_TRAIN_CTES = (
    f"""
WITH words AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
  ORDER BY cnt DESC, word LIMIT {BPE_VOCAB}
), seg0 AS MATERIALIZED (
  SELECT word, cnt,
         ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seg
  FROM words
)"""
    + "".join(_bpe_round_ctes(r) for r in range(1, BPE_MERGES + 1))
)

_BPE_ORACLE = (
    _BPE_TRAIN_CTES
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, sa, sb, sa || sb AS merged,"
        f" CAST(w AS BIGINT) AS pair_weight FROM t{r}"
        for r in range(1, BPE_MERGES + 1)
    )
)


def bpe_train(
    d: DataFrame, n_merges: int = BPE_MERGES, vocab: int = BPE_VOCAB
) -> DataFrame:
    """BPE TOKENIZER-MERGE INDUCTION (Sennrich et al. 2016 — the training
    step behind every GPT/Llama tokenizer): starting from characters,
    repeatedly count adjacent symbol pairs over the word-frequency
    table and merge the most frequent pair, emitting the learned merge
    rules with their weights. Merge application is a delimited-string
    replace over segments where EVERY symbol carries its own pair of
    spaces (' a  b ' -> ' ab ': junctions are double spaces, so no two
    occurrences share a delimiter and one replace pass merges adjacent
    repeats exactly like canonical non-overlapping left-to-right BPE).
    Both engines scan the same representation; ties break
    lexicographically so the rule sequence is a pure function of the
    corpus.

    Scale shape: BPE trains on the WORD-FREQUENCY table, not the
    corpus — one corpus scan builds the weighted vocab ({BPE_VOCAB}
    rows here; bounded in production by frequency truncation) and the
    merge induction runs over that bounded table. Corpus size only
    affects the initial scan.

    r21 optimization (guide §1.2 step 1 — don't schedule distributed
    work for driver-sized data): the pre-r21 loop ran every merge round
    as Spark jobs over the ≤vocab-row cached segment table — 8
    pair-count TakeOrdered collects plus 9 cache/unpersist cycles, ~17
    scheduled jobs to process a few kilobytes, measured ~1.5-2 s of
    pure job overhead per invocation. Now ONE TakeOrdered job collects
    the truncated word-frequency table (the same bounded designed
    collect as the IVF centroid seeds) and the merge induction runs in
    plain Python over it — exactly how production BPE trainers work
    (the truncated frequency table is single-node data at any corpus
    size). Semantics are replicated operation for operation: Spark's
    split(word, '') is Python list(word) (probed: no trailing empties,
    code-point chars), its all-occurrences left-to-right F.replace is
    str.replace, its (w DESC, sa, sb) tie-break is Python tuple order
    on (-w, sa, sb) (UTF-8 binary order == code-point order), and the
    DuckDB oracle independently re-derives the whole merge table every
    graded run, so any drift fails the hash."""
    spark = d.sparkSession
    merges = _bpe_train_merges(d, n_merges, vocab)
    return spark.createDataFrame(
        merges,
        "merge_round int, sa string, sb string, merged string,"
        " pair_weight bigint",
    )


def _bpe_train_merges(
    d: DataFrame, n_merges: int = BPE_MERGES, vocab: int = BPE_VOCAB
) -> list[tuple]:
    """(merge_round, sa, sb, merged, pair_weight) merge rules — one
    corpus-scan TakeOrdered collect of the truncated word-frequency
    table, then driver-side induction (see bpe_train). Shared by
    bpe_train (rules as a DataFrame) and bpe_tokenize (rules inlined
    as codegen literals — no DataFrame round-trip)."""
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(vocab)
        .collect()
    )
    # ' a  b ' segment representation: every symbol wrapped in its own
    # space pair (see docstring — one replace pass applies a merge
    # exactly like canonical left-to-right non-overlapping BPE)
    segs = [
        (" " + "  ".join(list(r.word)) + " ", int(r.cnt)) for r in words
    ]
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        weights: dict[tuple[str, str], int] = {}
        for seg, cnt in segs:
            # strip(" ") not strip(): F.trim removes SPACES only, and a
            # word-edge tab/newline char must stay a symbol
            syms = seg.strip(" ").split("  ")
            for sa, sb in zip(syms, syms[1:]):
                weights[(sa, sb)] = weights.get((sa, sb), 0) + cnt
        if not weights:  # vocabulary fully merged before n_merges rounds
            break
        top_w = max(weights.values())
        sa, sb = min(k for k, w in weights.items() if w == top_w)
        merges.append((r, sa, sb, sa + sb, top_w))
        old, new = f" {sa}  {sb} ", f" {sa}{sb} "
        segs = [(s.replace(old, new), cnt) for s, cnt in segs]
    return merges


@query("text_bpe_train", oracle=_BPE_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface for `bpe_train` over the documents corpus —
    see bpe_train's docstring for semantics and the bounded-storage
    merge loop."""
    return bpe_train(load(spark, sf_dir, "documents"))


_ZIPF_ORACLE = """
WITH vocab AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
), ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rnk
  FROM vocab
), pts AS (
  SELECT CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
  FROM ranked
), s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy,
         (SELECT SUM(freq) FROM vocab) AS tok
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       CAST(tok AS BIGINT) AS n_tokens,
       CAST((1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
         AS zipf_slope_milli
FROM s
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW FIT of the corpus vocabulary: the slope of log-rank vs
    log-frequency (natural text sits near -1; a badly skewed or
    template-heavy corpus drifts away — a cheap corpus-health check
    next to text_quality/profile_columns). Logs are INTEGER bit-lengths
    (floor(log2) = length(bin(x)) - 1, identical in both engines) and
    the fit is the closed-form OLS on those integer moments with
    truncating division — so a statistic that is normally float-fuzzy
    grades bit-exact.

    Scale shape: one corpus scan to the vocabulary (Heaps'-law sized),
    one global rank over it, one reduce to the five sufficient
    statistics — the same sufficient-statistics discipline as
    agg_regression_ols. The global window is safe BECAUSE it runs on
    the collapsed vocab, never the corpus."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "word")
    pts = vocab.select(
        "freq", F.row_number().over(w).alias("rnk")
    ).select(
        (F.length(F.bin("rnk")) - 1).cast("bigint").alias("x"),
        (F.length(F.bin("freq")) - 1).cast("bigint").alias("y"),
    )
    tok = vocab.agg(F.sum("freq").alias("tok"))
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.crossJoin(tok).select(
        F.col("n").cast("bigint").alias("n_vocab"),
        F.col("tok").cast("bigint").alias("n_tokens"),
        F.expr("(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
        .cast("bigint")
        .alias("zipf_slope_milli"),
    )


def _bpe_apply_oracle() -> str:
    """Oracle: re-derive the merge table with the training CTE chain,
    then apply the merges as nested replace() calls per word (scalar
    subqueries against the MATERIALIZED t{r} CTEs evaluate once).

    Each round's replace is guarded on the round having LEARNED a rule:
    when the vocabulary fully merges before BPE_MERGES rounds, the dead
    t{r} CTEs are empty, their scalar subqueries are NULL, and an
    unguarded replace(seg, NULL, NULL) would NULL-propagate through the
    chain and zero every token count — silently diverging from the
    Spark engine, whose merge list is simply shorter (bpe_train breaks
    on an exhausted vocabulary). Known caveat: the chr(1) sentinel
    assumes U+0001 never occurs inside a word — true of any sane text
    corpus (and verified for the generated fixtures); a corpus that
    both exhausts its vocabulary early AND embeds control characters
    in words would need a longer sentinel."""
    wrapped = "' ' || array_to_string(string_split(w, ''), '  ') || ' '"
    seg = wrapped
    for r in range(1, BPE_MERGES + 1):
        # COALESCE to a never-matching control char keeps a dead round a
        # no-op with LINEAR expression growth (a CASE WHEN guard would
        # duplicate the inner expression per round -> 2^rounds blowup);
        # chr(1) cannot occur in a segment, which contains only word
        # characters and space delimiters
        pat = (
            f"COALESCE(' ' || (SELECT sa FROM t{r}) || '  ' ||"
            f" (SELECT sb FROM t{r}) || ' ', chr(1))"
        )
        rep = (
            f"COALESCE(' ' || (SELECT sa FROM t{r}) ||"
            f" (SELECT sb FROM t{r}) || ' ', '')"
        )
        seg = f"replace({seg}, {pat}, {rep})"
    tc = f"len(string_split(trim({seg}), '  '))"
    return f"""{_BPE_TRAIN_CTES}
, wpd AS MATERIALIZED (
  SELECT source, doc_id, w, {tc} AS tc FROM (
    SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
  ) WHERE w <> ''
), per_doc AS (
  SELECT source, doc_id, COUNT(*) AS n_words, SUM(tc) AS n_tokens
  FROM wpd GROUP BY source, doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(p.n_tokens, 0)) AS BIGINT) AS n_tokens,
       CAST(SUM(length(d.text)) AS BIGINT) AS n_chars,
       CAST(CASE WHEN SUM(COALESCE(p.n_tokens, 0)) = 0 THEN 0
                 ELSE (10000 * SUM(length(d.text)))
                      // SUM(COALESCE(p.n_tokens, 0)) END AS BIGINT)
         AS chars_per_token_bp
FROM documents d LEFT JOIN per_doc p
  ON d.source = p.source AND d.doc_id = p.doc_id
GROUP BY d.source
"""


@query("text_bpe_tokenize", oracle=_bpe_apply_oracle())
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER APPLICATION at corpus scale — the other half of
    text_bpe_train: the learned merge rules are applied to EVERY corpus
    word and the per-source token economics reported (docs, words,
    tokens, chars, chars-per-token in basis points — the numbers that
    size a training run and price an API corpus). Merges apply in
    training order as a chain of replace() calls over the double-space
    segment representation (canonical non-overlapping left-to-right
    application, identical in both engines).

    Scale shape: training is bounded (word-frequency table + driver-side
    top-1 per round, see bpe_train); APPLICATION is one corpus scan with
    the merge chain fully inlined as codegen string expressions inside a
    transform/aggregate HOF — no UDF, no shuffle before the final
    per-source partial agg, no per-word join. Token counting at 100 TB
    is exactly this: a map-side expression the optimizer pipelines with
    the scan. The merge list rides the plan as literals (the IVF-seed
    bounded-metadata pattern)."""
    return bpe_tokenize(load(spark, sf_dir, "documents"))


def bpe_tokenize(
    d: DataFrame, n_merges: int = BPE_MERGES, vocab: int = BPE_VOCAB
) -> DataFrame:
    """Train merges on `d`'s word table, then tokenize `d` map-side —
    see text_bpe_tokenize for the full design rationale. r21: reads the
    merge list straight off the driver-side trainer (already in
    training order) instead of round-tripping it through a DataFrame
    and a second collect."""
    merges = [
        (sa, sb) for _r, sa, sb, _m, _w in _bpe_train_merges(d, n_merges, vocab)
    ]

    def token_count(w):
        seg = F.concat(
            F.lit(" "), F.array_join(F.split(w, ""), "  "), F.lit(" ")
        )
        for sa, sb in merges:
            seg = F.replace(
                seg, F.lit(f" {sa}  {sb} "), F.lit(f" {sa}{sb} ")
            )
        return F.size(F.split(F.trim(seg), "  "))

    words = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    # NULL text contributes 0 words/tokens (the oracle's LEFT JOIN +
    # COALESCE(..., 0) shape): without the guards, size()/aggregate()
    # NULL-propagate (or return -1 for size under legacy conf) and an
    # all-NULL-text source reports NULL sums where the oracle says 0.
    # n_chars deliberately stays NULL-propagating — both engines' SUM
    # skips NULLs identically there.
    per_doc = d.select(
        "source",
        F.length("text").alias("n_chars"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(words))
        .alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform(words, token_count),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).alias("n_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.when(
            F.sum("n_tokens") == 0, F.lit(0)
        )
        .otherwise(
            F.expr("(10000 * sum(n_chars)) div sum(n_tokens)")
        )
        .cast("bigint")
        .alias("chars_per_token_bp"),
    )
