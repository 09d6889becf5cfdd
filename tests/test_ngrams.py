"""Word n-grams (`dedup._word_ngrams`): the shingle, paragraph and
repetition builders split each document once, so their cost grows
linearly with its length, and their output matches the plain definition
of a word n-gram on edge inputs."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from fintech_data_lake_as_code_spark.operators.dedup import (
    PARA_WORDS,
    _shingles,
    paragraph_dedup,
)
from fintech_data_lake_as_code_spark.operators.text import repetition_stats

EDGE_TEXTS = [
    None, "", "a", "a b", "a b c", "a b c d", "a  b", " a b ", "x x x x x",
    *(" ".join(f"w{j % 7}" for j in range(m)) for m in (24, 25, 26, 50, 51)),
]


def _lambda_bodies(expr: str):
    """The text inside every `lambdafunction(...)` of an expression or plan
    string, nested ones included."""
    start = expr.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(expr[i], 0)
            if depth == 0:
                break
            i += 1
        yield expr[start:i]
        start = expr.find("lambdafunction(", start + 1)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_ngram_lambdas_never_split_the_document(spark):
    d = _docs(spark, ["a b c d"])
    exprs = {
        "shingles": d.select(_shingles(F.col("text")))._jdf.queryExecution(),
        "repetition": repetition_stats(d)._jdf.queryExecution(),
        "paragraph": paragraph_dedup(d)._jdf.queryExecution(),
    }
    for name, qe in exprs.items():
        plan = qe.analyzed().toString()
        bodies = list(_lambda_bodies(plan))
        assert bodies, name
        for body in bodies:
            assert "split(" not in body, (name, body)


def _reference(text, n, step):
    if text is None:
        return [""] if step == 1 else None
    words = text.split(" ")
    starts = range(max(len(words) - n, 0) + 1) if step == 1 else range(0, len(words), n)
    return [" ".join(words[i:i + n]) for i in starts]


@pytest.mark.parametrize("n,step", [(3, 1), (PARA_WORDS, PARA_WORDS)])
def test_word_ngrams_match_the_definition_on_edge_inputs(spark, n, step):
    from fintech_data_lake_as_code_spark.operators.dedup import _word_ngrams

    rows = (
        _docs(spark, EDGE_TEXTS)
        .select("doc_id", _word_ngrams(F.split("text", " "), n, step).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    for text, row in zip(EDGE_TEXTS, rows):
        assert row.g == _reference(text, n, step), repr(text)


def test_word_ngram_cost_grows_linearly_with_document_length(spark):
    def builders(d):
        return {
            "shingles": d.select(F.size(_shingles(F.col("text")))),
            "repetition": repetition_stats(d),
            "paragraph": paragraph_dedup(d),
        }

    def best_seconds(df):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    def timed(n_words):
        text = " ".join(f"w{j % 997}" for j in range(n_words))
        d = _docs(spark, [text]).cache()
        d.count()
        out = {name: best_seconds(df) for name, df in builders(d).items()}
        d.unpersist()
        return out

    timed(500)  # compile the generated code before timing
    short, long_ = timed(5_000), timed(20_000)
    for name in short:
        # 4x the words: about 4x the time when linear, 16x when quadratic
        assert long_[name] < 8 * short[name], (name, short[name], long_[name])
