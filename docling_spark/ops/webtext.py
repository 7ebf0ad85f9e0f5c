"""Gopher-style repetition / quality signals over multi-line web text.

The reference pipeline stops at extraction (DoclingDocument out); a
crawl-scale training-data pipeline additionally FILTERS the extracted text.
This module implements the COMPLETE repetition and quality rule set of the
Gopher paper (Rae et al., arXiv 2112.11446, Appendix A1.1) — duplicate
line/paragraph fractions and character fractions, top-{2,3,4}-gram character
coverage, duplicated-{5..10}-gram character fractions, bullet/ellipsis line
ratios, symbol-to-word ratio, alphabetic-word fraction, mean word length,
stop-word gate, word-count bounds — plus a first-failing-reason keep/reject
gate in the style of ``ops/curate.py``.

Scale shape: every signal is computed IN-ROW with JVM higher-order
functions (``transform`` / ``filter`` / ``aggregate`` over the line and
word arrays) — zero joins, zero shuffles, zero Python in the hot path. At
100 TB the plan is scan -> project, embarrassingly parallel.

The synthetic corpus is a deterministic law over ``documents.doc_id``
(``/root/testdata`` documents are single-line, so multi-line text is
synthesized the same way ``ops/multimodal.py`` synthesizes media blobs):
lines are word sequences from a 16-word vocabulary, grouped 3-per-paragraph
(see ``synth_webtext`` and ``_word`` for the per-class duplication laws:
line dups, paragraph dups, repeated phrases, clean prose). A line gets a
``"- "`` bullet prefix when ``(doc_id + src*2) % 5 == 0`` and a ``"..."``
suffix when ``(doc_id*3 + src) % 7 == 0``. The law is expressible in both
Spark SQL and DuckDB list lambdas, so the value oracle rebuilds the
identical corpus byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .textstats import value_counts

VOCAB = [
    "data", "spark", "table", "query", "scan", "join", "filter", "agg",
    "the", "and", "that", "with", "sort", "merge", "stream", "window",
]

# Gopher's stop-word list (A1.1): a doc must contain >= 2 occurrences.
STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


# ------------------------------------------------------------------ corpus
def _vocab_at(idx: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(w) for w in VOCAB]), (idx + 1).cast("int")
    )


def _word(doc_id: Column, src: Column, j: Column) -> Column:
    """Word law with five doc classes so every Gopher rule is exercised:
    doc_id % 46 == 0 -> 2-char numeric words (mean_word_len < 3);
    doc_id % 23 == 0 -> 3-char numeric words (alpha_word_frac < 0.8);
    doc_id % 19 == 0 -> two alternating words (top-bigram coverage ~0.5);
    doc_id % 29 == 0 -> repeated-phrase class: every line opens with
      "the" (stop-word gate), odd-src lines share a 6-word prefix (the
      duplicated-5-gram signal) and all other words are 2-vocab-word
      concatenations (256 combos, so bigrams do NOT saturate);
    doc_id % 31 == 0 -> clean-prose class: stop-word line openers plus
      unique-ish concat words -> passes every repetition rule, so `keep`
      (enough lines) and `word_count` (short docs) both surface;
    otherwise a 16-word vocabulary walk."""
    pair_idx = (doc_id * 7 + src * 11 + j * 5) % 256
    return (
        # C4-trigger word swaps (ops/c4.py): a "javascript" word on every
        # third line (%37), a "lorem ipsum" bigram on line 1 (%41), and a
        # "{" token on line 2 (%43) — tiny classes, no overlap with the
        # numeric/alternating classes below at test scale
        F.when((doc_id % 37 == 0) & (src % 3 == 1) & (j == 2), F.lit("javascript"))
        .when((doc_id % 41 == 0) & (src == 1) & (j == 2), F.lit("lorem"))
        .when((doc_id % 41 == 0) & (src == 1) & (j == 3), F.lit("ipsum"))
        .when((doc_id % 43 == 0) & (src == 2) & (j == 1), F.lit("{"))
        .when(
            doc_id % 46 == 0,
            ((doc_id + src * 3 + j * 7) % 90 + 10).cast("string"),
        )
        .when(
            doc_id % 23 == 0,
            ((doc_id + src * 3 + j * 7) % 900 + 100).cast("string"),
        )
        .when(doc_id % 19 == 0, _vocab_at((doc_id + (j % 2) * 5) % 16))
        .when(
            doc_id % 29 == 0,
            F.when(j == 0, F.lit("the"))
            .when((src % 2 == 1) & (j <= 5), _vocab_at((doc_id + j * 3) % 16))
            .otherwise(
                F.concat(
                    _vocab_at(F.floor(pair_idx / 16)), _vocab_at(pair_idx % 16)
                )
            ),
        )
        .when(
            doc_id % 31 == 0,
            F.when(
                j == 0,
                F.when(src % 2 == 0, F.lit("the")).otherwise(F.lit("and")),
            ).otherwise(
                F.concat(
                    _vocab_at(F.floor(pair_idx / 16)), _vocab_at(pair_idx % 16)
                )
            ),
        )
        .otherwise(_vocab_at((doc_id * 7 + src * 11 + j * 5) % 16))
    )


def _line(doc_id: Column, src: Column) -> Column:
    """One deterministic line keyed ENTIRELY off (doc_id, src) so that a
    duplicated src yields a byte-identical line."""
    n_words = F.when(doc_id % 29 == 0, F.lit(8).cast("long")).otherwise(
        F.lit(4) + (doc_id * 5 + src * 3) % 6
    )
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1), lambda j: _word(doc_id, src, j)
    )
    bullet = F.when(
        (doc_id % 13 == 0) | ((doc_id + src * 2) % 5 == 0), F.lit("- ")
    ).otherwise("")
    # terminal punctuation law: ellipsis lines keep "..."; of the rest,
    # 3 in 4 end with a period (C4's terminal-punct line filter needs
    # both kinds observable), the remainder end bare
    ellipsis = F.when(
        (doc_id % 17 == 0) | ((doc_id * 3 + src) % 7 == 0), F.lit("...")
    ).otherwise(F.when((doc_id + src * 3) % 4 != 0, F.lit(".")).otherwise(""))
    return F.concat(bullet, F.array_join(words, " "), ellipsis)


def synth_webtext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line webtext corpus: (doc_id, wtext).

    Structure: lines are grouped 3-per-paragraph; paragraphs are joined
    with a blank line ("\\n\\n"), lines inside a paragraph with "\\n".
    Duplication laws: ``doc_id % 11 == 0`` folds every line index >= 3
    back to ``i % 3`` (every paragraph repeats paragraph 0 — the
    duplicate-PARAGRAPH signal); otherwise line ``i >= 3`` with
    ``(doc_id + i) % 3 == 0`` copies line ``i % 3`` (duplicate LINES
    without duplicate paragraphs).

    Pure JVM column expressions over the documents scan — the corpus
    builder itself is shuffle-free and Python-free.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    n_lines = F.lit(6) + d % 9

    def line_at(i: Column) -> Column:
        # %11: every paragraph repeats paragraph 0 (dup_paras);
        # %59: ONLY paragraph 1 repeats paragraph 0 — one big duplicated
        # paragraph among >= 4 stays under the dup_para_frac threshold so
        # the dup_para_CHAR_frac rule is the first to fire
        i2 = (
            F.when((d % 11 == 0) & (i >= 3), i % 3)
            .when((d % 59 == 0) & (i >= 3) & (i <= 5), i - 3)
            .otherwise(i)
        )
        # the %29 repeated-phrase and %31 clean-prose classes must NOT
        # duplicate whole lines (%29's signal is the shared 6-word prefix
        # below the dup-line radar; %31 must pass every repetition rule)
        src = (
            F.when((d % 29 == 0) | (d % 31 == 0), i2)
            .when((i2 >= 3) & ((d + i2) % 3 == 0), i2 % 3)
            .otherwise(i2)
        )
        return _line(d, src)

    n_paras = F.floor((n_lines + 2) / 3)
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda p: F.array_join(
            F.transform(
                F.sequence(
                    p * 3, F.least(p * 3 + 2, n_lines - 1)
                ),
                line_at,
            ),
            "\n",
        ),
    )
    return docs.select(
        d.alias("doc_id"), F.array_join(paras, "\n\n").alias("wtext")
    )


def _cte_sql() -> str:
    """DuckDB mirror of synth_webtext, generated so the src-substitution
    stays mechanical (same law, list-lambda dialect)."""
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    s = (
        "(CASE WHEN doc_id % 11 = 0 AND i >= 3 THEN i % 3"
        " WHEN doc_id % 59 = 0 AND i >= 3 AND i <= 5 THEN i - 3"
        " WHEN doc_id % 29 = 0 OR doc_id % 31 = 0 THEN i"
        " WHEN i >= 3 AND (doc_id + i) % 3 = 0 THEN i % 3 ELSE i END)"
    )
    pair = f"(doc_id * 7 + {s} * 11 + j * 5) % 256"
    word = f"""CASE
      WHEN doc_id % 37 = 0 AND {s} % 3 = 1 AND j = 2 THEN 'javascript'
      WHEN doc_id % 41 = 0 AND {s} = 1 AND j = 2 THEN 'lorem'
      WHEN doc_id % 41 = 0 AND {s} = 1 AND j = 3 THEN 'ipsum'
      WHEN doc_id % 43 = 0 AND {s} = 2 AND j = 1 THEN '{{'
      WHEN doc_id % 46 = 0
        THEN CAST((doc_id + {s} * 3 + j * 7) % 90 + 10 AS VARCHAR)
      WHEN doc_id % 23 = 0
        THEN CAST((doc_id + {s} * 3 + j * 7) % 900 + 100 AS VARCHAR)
      WHEN doc_id % 19 = 0
        THEN list_extract({vocab},
               CAST((doc_id + (j % 2) * 5) % 16 + 1 AS INTEGER))
      WHEN doc_id % 29 = 0
        THEN CASE
          WHEN j = 0 THEN 'the'
          WHEN {s} % 2 = 1 AND j <= 5
            THEN list_extract({vocab},
                   CAST((doc_id + j * 3) % 16 + 1 AS INTEGER))
          ELSE list_extract({vocab},
                 CAST(({pair}) // 16 + 1 AS INTEGER))
               || list_extract({vocab},
                 CAST(({pair}) % 16 + 1 AS INTEGER))
        END
      WHEN doc_id % 31 = 0
        THEN CASE
          WHEN j = 0 THEN CASE WHEN {s} % 2 = 0 THEN 'the' ELSE 'and' END
          ELSE list_extract({vocab},
                 CAST(({pair}) // 16 + 1 AS INTEGER))
               || list_extract({vocab},
                 CAST(({pair}) % 16 + 1 AS INTEGER))
        END
      ELSE list_extract({vocab},
             CAST((doc_id * 7 + {s} * 11 + j * 5) % 16 + 1 AS INTEGER))
    END"""
    n_words = (
        "CASE WHEN doc_id % 29 = 0 THEN 8"
        f" ELSE 4 + (doc_id * 5 + {s} * 3) % 6 END"
    )
    line = f"""concat(
      CASE WHEN doc_id % 13 = 0 OR (doc_id + {s} * 2) % 5 = 0
           THEN '- ' ELSE '' END,
      array_to_string(list_transform(
        range(0, {n_words}), j -> {word}), ' '),
      CASE WHEN doc_id % 17 = 0 OR (doc_id * 3 + {s}) % 7 = 0
           THEN '...'
           WHEN (doc_id + {s} * 3) % 4 <> 0 THEN '.' ELSE '' END)"""
    return f"""
wt AS (
  SELECT doc_id,
         array_to_string(list_transform(range(0, (6 + doc_id % 9 + 2) // 3),
           p -> array_to_string(list_transform(
                  range(p * 3, least(p * 3 + 3, 6 + doc_id % 9)),
                  i -> {line}), chr(10))), chr(10) || chr(10)) AS wtext
  FROM documents)
"""


WEBTEXT_CTE_SQL = _cte_sql()


# ------------------------------------------------------------------ signals
# the full Gopher A1.1 repetition ladder: (signal-kind, n, threshold)
TOP_NGRAMS = [(2, 0.20), (3, 0.18), (4, 0.16)]
DUP_NGRAMS = [(5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10)]


def repetition_signals(df: DataFrame, col: str = "wtext") -> DataFrame:
    """The COMPLETE Gopher A1.1 repetition + quality signal set
    (Rae et al., arXiv 2112.11446), all in-row JVM higher-order
    functions — zero joins, zero shuffles, zero Python.

    Definitions (documented because the paper leaves some latitude):
    - lines split on "\\n+", paragraphs on the blank line "\\n\\n".
    - dup_{line,para}_frac: 1 - distinct / total.
    - dup_{line,para}_char_frac: characters on the 2nd+ occurrences of a
      repeated line/paragraph, over total line/para characters.
    - top_{2,3,4}gram_char_frac: (count * chars-excluding-separators) of
      the word n-gram with the highest character coverage, over total
      word chars.
    - dup_{5..10}gram_char_frac: summed (count * chars) of every n-gram
      occurring >= 2 times, over total word chars (overlap-insensitive:
      each occurrence's characters count once per containing n-gram).
    - symbol_word_ratio: occurrences of "..." or "#" per word.
    - alpha_word_frac: fraction of whitespace words containing [a-z].
    - stop_word_hits: occurrences of Gopher's 8 English stop words.
    """
    t = F.col(col)
    n_sym = (F.length(t) - F.length(F.replace(t, F.lit("...")))) / 3 + (
        F.length(t) - F.length(F.replace(t, F.lit("#")))
    )
    arr = df.select(
        "doc_id",
        F.split(t, "\n+").alias("_lines"),
        F.split(t, "\n\n").alias("_paras"),
        F.split(F.regexp_replace(t, "\n+", " "), " ").alias("_words"),
        n_sym.alias("_n_sym"),
    )
    lines, paras, words = F.col("_lines"), F.col("_paras"), F.col("_words")
    nl, np_, nw = F.size(lines), F.size(paras), F.size(words)

    def chars(a: Column) -> Column:
        return F.aggregate(a, F.lit(0), lambda acc, x: acc + F.length(x))

    def total(a: Column) -> Column:
        return F.aggregate(a, F.lit(0), lambda acc, x: acc + x)

    def dup_frac(a: Column) -> Column:
        return F.round(
            F.lit(1.0) - F.size(F.array_distinct(a)).cast("double") / F.size(a),
            4,
        )

    def dup_char_frac(a: Column) -> Column:
        d = total(
            F.transform(
                value_counts(a), lambda vc: (vc["n"] - 1) * F.length(vc["value"])
            )
        )
        return F.round(d.cast("double") / chars(a), 4)

    # each n-gram array (and the word-character total every ratio
    # divides by) is selected once: built inline, the array would be
    # rebuilt inside every counting lambda that reads it
    gram_ns = [n for n, _ in TOP_NGRAMS + DUP_NGRAMS]
    arr = arr.select(
        "*",
        chars(words).alias("_word_chars"),
        *[
            F.when(
                nw >= n,
                F.transform(
                    F.sequence(F.lit(0), nw - n),
                    lambda i: F.array_join(F.slice(words, i + 1, n), " "),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias(f"_g{n}")
            for n in gram_ns
        ],
    )
    word_chars = F.col("_word_chars")

    def gram_chars(vc: Column, n: int) -> Column:  # count * chars sans separators
        return vc["n"] * (F.length(vc["value"]) - (n - 1))

    def top_gram_frac(n: int) -> Column:
        top = F.array_max(
            F.transform(value_counts(F.col(f"_g{n}")), lambda vc: gram_chars(vc, n))
        )
        return F.when(
            nw >= n, F.round(top.cast("double") / word_chars, 4)
        ).otherwise(0.0)

    def dup_gram_frac(n: int) -> Column:
        s = total(
            F.transform(
                value_counts(F.col(f"_g{n}")),
                lambda vc: F.when(vc["n"] >= 2, gram_chars(vc, n)).otherwise(0),
            )
        )
        return F.when(
            nw >= n, F.round(s.cast("double") / word_chars, 4)
        ).otherwise(0.0)

    ngram_cols = [
        top_gram_frac(n).alias(f"top_{n}gram_char_frac") for n, _ in TOP_NGRAMS
    ] + [
        dup_gram_frac(n).alias(f"dup_{n}gram_char_frac") for n, _ in DUP_NGRAMS
    ]
    return arr.select(
        "doc_id",
        nl.alias("n_lines"),
        np_.alias("n_paras"),
        nw.alias("n_words"),
        dup_frac(lines).alias("dup_line_frac"),
        dup_char_frac(lines).alias("dup_line_char_frac"),
        dup_frac(paras).alias("dup_para_frac"),
        dup_char_frac(paras).alias("dup_para_char_frac"),
        *ngram_cols,
        F.round(
            F.size(F.filter(lines, lambda l: l.startswith("- "))).cast("double")
            / nl,
            4,
        ).alias("bullet_line_frac"),
        F.round(
            F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
            / nl,
            4,
        ).alias("ellipsis_line_frac"),
        F.round(F.col("_n_sym") / nw, 4).alias("symbol_word_ratio"),
        F.round(
            F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("double")
            / nw,
            4,
        ).alias("alpha_word_frac"),
        F.round(word_chars.cast("double") / nw, 4).alias("mean_word_len"),
        F.size(
            F.filter(words, lambda w: w.isin(*STOP_WORDS))
        ).alias("stop_word_hits"),
    )


# Gopher's published cut-offs (arXiv 2112.11446 A1.1), the COMPLETE set.
# Attribution is first-failing-rule; the order front-loads the more
# specific rules and places the paragraph/line dup rules before n-gram
# coverage (duplicate lines imply repeated n-grams, so the reverse order
# would shadow them entirely) — with this order every reason code is
# observable on the synthetic corpus (the n-gram ladders share one code
# per family: a repeated (n+1)-gram always contains repeated n-grams, so
# per-n codes could never all surface). Gopher drops a failing doc
# regardless; the reason code is a reporting choice.
GOPHER_RULES = (
    [
        ("bullet_line_frac", ">", 0.90, "bullets"),
        ("symbol_word_ratio", ">", 0.10, "symbols"),
        ("mean_word_len", "<", 3.0, "word_len"),
        ("mean_word_len", ">", 10.0, "word_len"),
        ("alpha_word_frac", "<", 0.80, "non_alpha"),
        ("stop_word_hits", "<", 2, "stop_words"),
        ("ellipsis_line_frac", ">", 0.30, "ellipsis"),
        ("dup_para_frac", ">", 0.30, "dup_paras"),
        ("dup_para_char_frac", ">", 0.20, "dup_para_chars"),
        ("dup_line_frac", ">", 0.30, "dup_lines"),
        ("dup_line_char_frac", ">", 0.20, "dup_line_chars"),
    ]
    + [
        (f"top_{n}gram_char_frac", ">", thr, "top_ngram")
        for n, thr in TOP_NGRAMS
    ]
    + [
        (f"dup_{n}gram_char_frac", ">", thr, "dup_ngram")
        for n, thr in DUP_NGRAMS
    ]
    + [
        ("n_words", "<", 50, "word_count"),
        ("n_words", ">", 100000, "word_count"),
    ]
)


def gopher_filter(signals: DataFrame) -> DataFrame:
    """First-failing-rule keep/reject gate (reason-code style of
    ops/curate.py). Pure in-row CASE chain."""
    # built innermost-out so the FIRST failing rule wins the CASE chain
    reason = F.lit("keep")
    for name, op, thr, code in reversed(GOPHER_RULES):
        cond = F.col(name) > thr if op == ">" else F.col(name) < thr
        reason = F.when(cond, code).otherwise(reason)
    return signals.select(
        "*",
        reason.alias("reject_reason"),
        (reason == "keep").alias("keep"),
    )


def _rules_case_sql() -> str:
    parts = []
    for name, op, thr, code in GOPHER_RULES:
        parts.append(f"WHEN {name} {op} {thr} THEN '{code}'")
    return "CASE " + " ".join(parts) + " ELSE 'keep' END"


def _signals_sql() -> str:
    """DuckDB mirror of repetition_signals, generated from the same
    TOP_NGRAMS / DUP_NGRAMS ladders (list-lambda dialect)."""

    def chars(a: str) -> str:
        return f"list_aggregate(list_transform({a}, _c -> length(_c)), 'sum')"

    def dup_frac(a: str) -> str:
        return f"round(1.0 - len(list_distinct({a})) / len({a}), 4)"

    def dup_char_frac(a: str) -> str:
        return (
            f"round(list_aggregate(list_transform(list_distinct({a}), _x ->"
            f" (len(list_filter({a}, _y -> _y = _x)) - 1) * length(_x)),"
            f" 'sum') / {chars(a)}, 4)"
        )

    def grams(n: int) -> str:
        return (
            f"list_transform(range(0, len(wd) - {n} + 1), _i ->"
            f" array_to_string(list_slice(wd, _i + 1, _i + {n}), ' '))"
        )

    def top_gram_frac(n: int) -> str:
        g = grams(n)
        return (
            f"CASE WHEN len(wd) >= {n} THEN"
            f" round(list_max(list_transform(list_distinct({g}), _x ->"
            f" len(list_filter({g}, _y -> _y = _x))"
            f" * (length(_x) - {n - 1}))) / {chars('wd')}, 4)"
            f" ELSE 0.0 END"
        )

    def dup_gram_frac(n: int) -> str:
        g = grams(n)
        return (
            f"CASE WHEN len(wd) >= {n} THEN"
            f" round(list_aggregate(list_transform(list_distinct({g}), _x ->"
            f" CASE WHEN len(list_filter({g}, _y -> _y = _x)) >= 2 THEN"
            f" len(list_filter({g}, _y -> _y = _x)) * (length(_x) - {n - 1})"
            f" ELSE 0 END), 'sum') / {chars('wd')}, 4)"
            f" ELSE 0.0 END"
        )

    ngram_cols = [
        f"{top_gram_frac(n)} AS top_{n}gram_char_frac" for n, _ in TOP_NGRAMS
    ] + [
        f"{dup_gram_frac(n)} AS dup_{n}gram_char_frac" for n, _ in DUP_NGRAMS
    ]
    stop_list = "[" + ",".join(f"'{w}'" for w in STOP_WORDS) + "]"
    cols = [
        "doc_id",
        "len(ln) AS n_lines",
        "len(pr) AS n_paras",
        "len(wd) AS n_words",
        f"{dup_frac('ln')} AS dup_line_frac",
        f"{dup_char_frac('ln')} AS dup_line_char_frac",
        f"{dup_frac('pr')} AS dup_para_frac",
        f"{dup_char_frac('pr')} AS dup_para_char_frac",
        *ngram_cols,
        "round(len(list_filter(ln, _l -> _l LIKE '- %')) / len(ln), 4)"
        " AS bullet_line_frac",
        "round(len(list_filter(ln, _l -> _l LIKE '%...')) / len(ln), 4)"
        " AS ellipsis_line_frac",
        "round(((length(wtext) - length(replace(wtext, '...', ''))) / 3"
        " + (length(wtext) - length(replace(wtext, '#', ''))))"
        " / len(wd), 4) AS symbol_word_ratio",
        "round(len(list_filter(wd, _w -> regexp_matches(_w, '[a-z]')))"
        " / len(wd), 4) AS alpha_word_frac",
        f"round({chars('wd')} / len(wd), 4) AS mean_word_len",
        f"len(list_filter(wd, _w -> list_contains({stop_list}, _w)))"
        " AS stop_word_hits",
    ]
    return (
        "arr AS (SELECT doc_id, wtext,"
        " regexp_split_to_array(wtext, '\\n+') AS ln,"
        " string_split(wtext, chr(10) || chr(10)) AS pr,"
        " string_split(regexp_replace(wtext, '\\n+', ' ', 'g'), ' ') AS wd"
        " FROM wt),\n"
        "sig AS (SELECT " + ",\n       ".join(cols) + " FROM arr)"
    )


SIGNALS_ORACLE_SQL = (
    "WITH "
    + WEBTEXT_CTE_SQL
    + ",\n"
    + _signals_sql()
    + "\nSELECT sig.*, "
    + _rules_case_sql()
    + " AS reject_reason, ("
    + _rules_case_sql()
    + ") = 'keep' AS keep FROM sig"
)


# ------------------------------------------------------------ lexicon gate
# C4 §2.2's remaining page gate: reject pages containing any word from a
# blocklist ("Dirty, Naughty, Obscene..." in the paper; the list here is
# a small neutral default — the OPERATOR is the mechanism, the deployed
# lexicon is configuration, like ops/urlfilter's keyword lists).
DEFAULT_LEXICON = ["casino", "viagra", "xxx", "jackpot"]


def lexicon_gate(
    docs: DataFrame,
    words: "list[str] | None" = None,
    col: str = "text",
) -> DataFrame:
    """Word-boundary blocklist page gate (the C4 bad-words filter).

    Counts case-insensitive whole-word hits of ``words`` in ``col``;
    any hit rejects the page. Whole-word matters: the classic
    false-positive class ("Essex", "Scunthorpe") comes from substring
    matching — ``\\b`` anchors make "xxx" match the token, not
    "maxxx...". One alternation regex, evaluated once per row.

    Output: (doc_id, lex_hits, keep). Scale shape: a single in-row
    ``regexp_extract_all`` count — zero shuffles, zero Python; the
    compiled alternation is a closure constant, not a join (a lexicon
    is KBs; a broadcast join would be slower than codegen).
    """
    ws = words if words is not None else DEFAULT_LEXICON
    pat = r"\b(" + "|".join(ws) + r")\b"
    hits = F.size(
        F.regexp_extract_all(F.lower(F.col(col)), F.lit(pat), 0)
    ).cast("bigint")
    return docs.select(
        "doc_id",
        hits.alias("lex_hits"),
        (hits == 0).alias("keep"),
    )


def lexicon_gate_oracle_sql(
    docs_cte: str, words: "list[str] | None" = None, col: str = "text"
) -> str:
    """DuckDB mirror of :func:`lexicon_gate` over a (doc_id, {col})
    CTE body."""
    ws = words if words is not None else DEFAULT_LEXICON
    pat = r"\b(" + "|".join(ws) + r")\b"
    return f"""
        WITH docs AS ({docs_cte})
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower({col}), '{pat}'))
                    AS BIGINT) AS lex_hits,
               len(regexp_extract_all(lower({col}), '{pat}')) = 0 AS keep
        FROM docs
    """
