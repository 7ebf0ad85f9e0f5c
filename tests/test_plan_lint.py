"""Plan lint: every curation op tokenizes each document once per array it
defines.

Catalyst re-inlines a column expression at every reference, lambda
bodies included, so an op that reads an inline ``split`` array twice
tokenizes the text twice per row (and once per element when the read
sits inside a ``transform``). Ops therefore select each token or n-gram
array into a column before reading it. This counts ``split(`` in the
optimized plan of each op over tiny in-memory frames; the LM tables are
built with ``createDataFrame`` so only the document side tokenizes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "A dog  and a cat\tran")],
        "doc_id long, text string",
    )


def _splits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("split(")


def test_bigram_score_tokenizes_once(spark, docs):
    from docling_spark.ops.lm_quality import bigram_score

    bi = spark.createDataFrame(
        [("the", "cat", 0.5)], "prev string, cur string, nll2 double"
    )
    uni = spark.createDataFrame([("cat", 2.0)], "token string, nll double")
    assert _splits(bigram_score(docs, bi, uni)) == 1


def test_lm_score_tokenizes_once(spark, docs):
    from docling_spark.ops.lm_quality import lm_score

    lm = spark.createDataFrame([("cat", 2.0)], "token string, nll double")
    assert _splits(lm_score(docs, lm)) == 1


def test_bm25_tokenizes_once_per_scan(docs):
    from docling_spark.ops.bm25 import bm25_scores

    # the corpus is scanned twice (the stats agg and the scoring pass):
    # one token array per scan, whatever the number of query terms
    assert _splits(bm25_scores(docs, ["cat", "dog"])) == 2


def test_entropy_signals_two_arrays(docs):
    from docling_spark.ops.entropy import entropy_signals

    # chars and words
    assert _splits(entropy_signals(docs)) == 2


def test_dsir_feature_select_tokenizes_once(docs):
    from docling_spark.ops.dsir import _features
    from docling_spark.ops.textstats import tokens

    feats = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__words")
    ).select("doc_id", _features(F.col("__words"), 64).alias("fs"))
    assert _splits(feats) == 1


def test_decontaminate_tokenizes_once(spark, docs):
    from docling_spark.ops.decontam import decontaminate

    bench = spark.createDataFrame([("0" * 32,)], "gram string")
    assert _splits(decontaminate(docs, bench, n=3)) == 1


def test_repetition_signals_three_arrays(spark):
    from docling_spark.ops.webtext import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b c\nd e f\n\na b c")], "doc_id long, wtext string"
    )
    # lines, paragraphs and words; the n-gram arrays are built from the
    # word column, never from a fresh split
    assert _splits(repetition_signals(df)) == 3
