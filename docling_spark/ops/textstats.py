"""Text-analysis operators for the training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All operators are pure JVM-side expressions (whole-stage codegen; no Python
in the hot path) and have exact ANSI-SQL oracles.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens(text: Column) -> Column:
    """The one whitespace tokenizer: the non-empty ``\\s+`` splits of
    ``text`` (the oracles' ``list_filter(string_split_regex(.., '\\s+'),
    ..)``). Callers lower-case by passing ``F.lower(...)``. An op that
    reads the array more than once selects it into a column first:
    Catalyst re-inlines the expression at every reference, lambda
    bodies included."""
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def bigrams(toks: Column) -> Column:
    """In-row (prev, cur) structs of adjacent elements of the token
    column ``toks``."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("prev"),
                F.element_at(toks, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def value_counts(arr: Column) -> Column:
    """``array<struct<value, n>>``: each distinct element of ``arr``
    (first-occurrence order) with its occurrence count — one counting
    scan per distinct value, O(distinct × len). ``arr`` is read once
    per distinct value, so pass a column, not an expression."""
    return F.transform(
        F.array_distinct(arr),
        lambda v: F.struct(
            v.alias("value"), F.size(F.filter(arr, lambda x: x == v)).alias("n")
        ),
    )


def _occurrences(text: Column, word: str) -> Column:
    """Count of whole-word occurrences via length-delta (portable SQL)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def _stop_ratio(text: Column) -> tuple[Column, Column, Column]:
    """(hits, ratio, lang_pred): whole-word STOPWORDS hits, their share of
    the single-space tokens (4 places) and the >= 0.05 -> 'en' call."""
    hits = functools.reduce(
        operator.add, [_occurrences(text, w) for w in STOPWORDS]
    )
    ratio = F.round(hits.cast("double") / F.size(F.split(text, " ")), 4)
    return hits, ratio, F.when(ratio >= 0.05, "en").otherwise("unknown")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokenization + counts."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / diversity / mean-word-length heuristics (rounded for
    engine-portable float comparison)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.col("n_chars").alias("n_chars"),
        n.alias("n_tokens"),
        F.round(nd.cast("double") / n, 4).alias("distinct_ratio"),
        F.round((F.length("text") - n + 1).cast("double") / n, 4).alias(
            "avg_word_len"
        ),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit-ratio language ID (n-gram-free heuristic; at crawl scale
    the same shape extends to char-trigram frequency profiles)."""
    hits, ratio, pred = _stop_ratio(F.col("text"))
    return docs.select(
        "doc_id",
        hits.alias("stop_hits"),
        ratio.alias("stop_ratio"),
        pred.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprints: full-text md5 + sha256, and a
    prefix fingerprint for fast near-equality prefiltering."""
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        F.sha2(F.col("text"), 256).alias("fp_sha256"),
        F.md5(F.substring(F.col("text"), 1, 64)).alias("fp_prefix64"),
    )


def vocab_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level vocabulary profile — the Zipf sanity dashboard a
    100 TB ingest checks before training (a crawl whose top terms are
    'cookie'/'javascript' has an extraction bug; a vocabulary that
    stopped growing has a dedup bug).

    Output: top-``k`` tokens by global frequency with rank (ties broken
    by token for determinism) plus the corpus constants every row
    carries: total token count and distinct vocabulary size.

    Scale shape: one explode → (token) agg with map-side combine — the
    word-count shuffle, AQE-skew-eligible; the top-k is TakeOrdered
    (per-partition heaps, no global sort materialization); the two
    corpus constants ride a 1-row broadcast crossJoin. Zero Python.
    """
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    consts = tf.agg(
        F.sum("tf").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("tok")).limit(k)
    w = Window.orderBy(F.col("tf").desc(), F.col("tok"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(consts))
        .select("rank", "tok", "tf", "total_tokens", "vocab_size")
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the routing
    audit a multilingual crawl runs before trusting EITHER label: a
    crawl whose declared `lang` disagrees with detection en masse has
    a metadata problem (wrong <html lang>, mislabeled source) or a
    detector gap; per-language disagreement rates say which shard to
    re-route. Prediction uses the same stopword-ratio law as
    :func:`lang_id` (>= 0.05 → 'en').

    Output per (lang, lang_pred) cell: n and the within-lang rate.
    Scale shape: in-row prediction, one (lang, pred) agg with map-side
    combine, per-lang totals off the tiny cell frame via broadcast.
    """
    _, _, pred = _stop_ratio(F.col("text"))
    cell = (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    totals = cell.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return cell.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.col("lang_total").cast("double")).alias(
            "rate"
        ),
    )


def size_histogram(docs: DataFrame) -> DataFrame:
    """Log2-bucketed document-size distribution — the partition-sizing
    dashboard: `spark.sql.files.maxPartitionBytes`, Arrow batch sizes
    and the giant-blob skew lane (job.py) are all tuned off exactly
    this table, and a fat tail bucket is the early warning for
    straggler tasks.

    Bucket = floor(log2(n_chars)) + 1, computed as the LENGTH OF THE
    BINARY REPRESENTATION (``conv``/``bin`` string length) — integer-
    exact on both engines, never a floating log that could round a
    power of two across the boundary. Empty docs land in bucket 0.

    Output per bucket: lo/hi char bounds, n_docs, total_chars.
    One map-side-combining agg; ~40 rows out at any corpus scale.
    """
    n = F.col("n_chars")
    bucket = (
        F.when(n <= 0, F.lit(0))
        .otherwise(F.length(F.conv(n.cast("string"), 10, 2)))
        .cast("int")
    )
    return (
        docs.select(bucket.alias("bucket"), n)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket") - 1))
            .cast("bigint")
            .alias("lo_chars"),
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket")) - 1)
            .cast("bigint")
            .alias("hi_chars"),
            "n_docs",
            "total_chars",
        )
    )
