"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale shape (the part that matters at 100 TB):
- exact dedup = one hash-shuffle on a 64-hex digest, not on the text;
- MinHash = explode(shingles) → per-(doc, seed) min-agg — map-side partial
  aggregation keeps the shuffle at |docs|×|seeds| rows, independent of text
  length;
- LSH banding turns all-pairs O(n²) into a self-join on band keys — the join
  key space grows with n so AQE skew-join handles hot bands;
- SimHash majority-vote per bit is a single groupBy(doc) after a words
  explode.

Hashes are md5-hex (lexicographic min), portable across engines for the
DuckDB oracle — at production scale you'd swap to xxhash64 for speed; the
operator shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEEDS = [1, 2, 3, 4, 5, 6, 7, 8]


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Duplicate groups by full-content digest; canonical = min doc_id."""
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
        .select("digest", "canonical_id", "dup_count")
    )


def _shingles(k: int):
    """array of k-char shingles of ``text`` (distinct, for set semantics)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substr(F.col("text"), i, F.lit(k)))
    )


def minhash_signatures(
    docs: DataFrame, k: int = 8, seeds: list[int] = DEFAULT_SEEDS
) -> DataFrame:
    """(doc_id, seed, minhash): lexicographic min of md5(shingle || seed)."""
    sh = docs.select("doc_id", F.explode(_shingles(k)).alias("sh"))
    seeds_df = sh.select(
        "doc_id", "sh", F.explode(F.array(*[F.lit(s) for s in seeds])).alias("seed")
    )
    return (
        seeds_df.groupBy("doc_id", "seed")
        .agg(F.min(F.md5(F.concat("sh", F.lit(":"), "seed"))).alias("minhash"))
        .select("doc_id", "seed", "minhash")
    )


def lsh_bands(
    docs: DataFrame, k: int = 8, seeds: list[int] = DEFAULT_SEEDS, band_size: int = 2
) -> DataFrame:
    """(doc_id, band_id, band_key): the persistable LSH index rows — what
    an incremental deployment stores per crawl and probes new batches
    against (:func:`lsh_incremental_dups`)."""
    sig = minhash_signatures(docs, k=k, seeds=seeds)
    return (
        sig.withColumn("band_id", ((F.col("seed") - 1) / band_size).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(F.concat_ws("|", F.sort_array(F.collect_list("minhash"))).alias("band_key"))
    )


def lsh_incremental_dups(
    new: DataFrame,
    history_bands: DataFrame,
    k: int = 8,
    seeds: list[int] = DEFAULT_SEEDS,
    band_size: int = 2,
) -> DataFrame:
    """Incremental NEAR-dup: flag new-batch docs that LSH-collide with
    the persisted history index or with an EARLIER doc of the same batch
    (lower doc_id wins, so the verdict set is deterministic and exactly
    one copy of a novel near-dup group survives).

    The near-dup companion to ops/bloom's exact incremental probe: the
    history is touched only through (band_id, band_key) equi-joins —
    never rescanned, never all-pairs. At 10^12 docs the history index is
    bucketed by band_key, making the probe join shuffle-free on the
    history side; within-batch collisions join only the (small) batch
    against itself.

    Returns (doc_id, n_hist_hits, n_batch_hits, maybe_dup) per new doc.
    """
    nb = lsh_bands(new, k=k, seeds=seeds, band_size=band_size)
    hist_hits = (
        nb.alias("n")
        .join(
            history_bands.alias("h"),
            (F.col("n.band_id") == F.col("h.band_id"))
            & (F.col("n.band_key") == F.col("h.band_key"))
            # a re-crawled page arriving under its OWN historical doc_id
            # must not flag against itself — only collisions with OTHER
            # documents make it a duplicate
            & (F.col("n.doc_id") != F.col("h.doc_id")),
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.count_distinct(F.col("h.doc_id")).alias("n_hist_hits"))
    )
    batch_hits = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.count_distinct(F.col("b.doc_id")).alias("n_batch_hits"))
    )
    return (
        new.select("doc_id")
        .join(hist_hits, "doc_id", "left")
        .join(batch_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hist_hits", F.lit(0)).alias("n_hist_hits"),
            F.coalesce("n_batch_hits", F.lit(0)).alias("n_batch_hits"),
            (
                (F.coalesce("n_hist_hits", F.lit(0)) > 0)
                | (F.coalesce("n_batch_hits", F.lit(0)) > 0)
            ).alias("maybe_dup"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame, k: int = 8, seeds: list[int] = DEFAULT_SEEDS, band_size: int = 2
) -> DataFrame:
    """MinHash-LSH: band the signature, self-join on (band_id, band_key)."""
    banded = lsh_bands(docs, k=k, seeds=seeds, band_size=band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _capped_overlaps(docs: DataFrame, k: int, max_doc_freq: int) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for every doc pair sharing a
    distinct k-char shingle: the capped inverted index. Shingles in more
    than ``max_doc_freq`` docs leave BOTH the join and the set sizes, so
    one common shingle never becomes a quadratic hot join key."""
    sh = docs.select("doc_id", F.explode(_shingles(k)).alias("sh"))
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("sh")
    )
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(
    docs: DataFrame, k: int = 8, threshold: float = 0.8, max_doc_freq: int = 1000
) -> DataFrame:
    """Exact n-gram Jaccard over shingle sets (the verifier for LSH recall).

    All-pairs via shingle-inverted-index join — the standard
    'explode and join on token' shape; at scale the LSH variant prefilters.

    ``max_doc_freq`` caps the inverted index: shingles appearing in more
    than this many documents are dropped from BOTH the join and the set
    sizes (consistent capped-Jaccard semantics). Without the cap, one
    high-document-frequency shingle (a common 8-gram) creates a quadratic
    hot join key; with it, the operator degrades gracefully if pointed at
    real data instead of the capped oracle corpus.
    """
    return (
        _capped_overlaps(docs, k, max_doc_freq)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens: per-bit majority vote of word hashes.

    Bit b of md5(word) is taken from hex nibble b//4; vote +1/-1, sign →
    bit. Output is a ``bits``-char bitstring (portable across engines).
    """
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).withColumn("h", F.md5("w"))
    votes = []
    for b in range(bits):
        hexch = F.substring("h", 1 + b // 4, 1)
        val = F.instr(F.lit(_HEX), hexch) - 1
        bit = F.floor(val / F.lit(2 ** (3 - b % 4))).cast("int") % 2
        votes.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{b}")
        )
    agg = words.groupBy("doc_id").agg(*votes)
    bitstr = F.concat(
        *[F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(bits)]
    )
    return agg.select("doc_id", bitstr.alias("simhash"))


# a 64-bit perceptual hash as banded_hamming_pairs reads it: two uint32
# halves (exact BIGINT arithmetic on every engine) and 4 x 16-bit bands
HASH64_COLUMNS = ("doc_id", "h_hi", "h_lo", "band0", "band1", "band2", "band3")
HASH64_SCHEMA = ", ".join(f"{c} long" for c in HASH64_COLUMNS)


def hash64_row(doc_id: int, bits: int) -> tuple:
    """One HASH64_COLUMNS row of the 64-bit hash ``bits``."""
    bands = [(bits >> (16 * j)) & 0xFFFF for j in range(4)]
    return (doc_id, bits >> 32, bits & 0xFFFFFFFF, *bands)


def banded_hamming_pairs(hashes: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) for pairs of ``hashes`` rows sharing >= 1
    band value within ``max_hamming`` bits — the Hamming-ball pair join
    of SimHash text, dHash images and audio fingerprints. ``hashes``:
    doc_id, the hash as ``h_*`` long words, its bands as ``band<j>``
    longs. Band explode, ONE equi-join on (band index, band value)
    instead of all-pairs, in-row ``bit_count(xor)`` verify, distinct."""
    # the self-join reads the frame twice: persist it so an upstream
    # Python codec (image and audio hashes) runs once
    hashes = hashes.persist()
    words = [c for c in hashes.columns if c.startswith("h_")]
    bands = [c for c in hashes.columns if c.startswith("band")]
    banded = hashes.select(
        "doc_id",
        *words,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("bj"), F.col(c).alias("bv"))
                    for j, c in enumerate(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", *words, "band.bj", "band.bv")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.{w}").bitwiseXOR(F.col(f"b.{w}"))) for w in words
    )
    return (
        a.join(
            b,
            (F.col("a.bj") == F.col("b.bj"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_candidate_pairs(
    docs: DataFrame, bits: int = 16, bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs, banded: the scale path for hamming-ball
    search. The ``bits``-char signature is read as one integer
    (``conv(simhash, 2, 10)``) cut into ``bands`` equal bit bands; any
    shared band → candidate (a pair within hamming distance bands-1
    must agree on at least one band, pigeonhole), then the exact
    hamming distance filters to ``max_hamming``
    (:func:`banded_hamming_pairs`)."""
    if bits % bands or bits > 63:
        raise ValueError("need bits divisible by bands and bits <= 63")
    width = bits // bands
    h = F.conv("simhash", 2, 10).cast("long")
    hashes = simhash(docs, bits).select(
        "doc_id",
        h.alias("h_sig"),
        *[
            F.shiftright(h, bits - (i + 1) * width)
            .bitwiseAND((1 << width) - 1)
            .alias(f"band{i}")
            for i in range(bands)
        ],
    )
    return banded_hamming_pairs(hashes, max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def containment_pairs(
    docs: DataFrame,
    k: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Asymmetric shingle containment — the syndication/quotation signal
    symmetric Jaccard misses.

    A news wire inside a portal page, a quoted post inside a thread, a
    paper abstract inside an aggregator: Jaccard on the PAIR is low
    (the container is much bigger) but containment of the smaller doc
    is ~1.0. Deduplicating on Jaccard alone keeps both copies;
    RefinedWeb-style pipelines therefore check ``|A∩B| / |A|`` per side
    (Broder's containment, the ExactSubstr motivation) and route the
    contained side to the keep/drop policy.

    Same capped inverted-index shape as :func:`jaccard_pairs` (explode
    distinct k-char shingles, drop shingles with document frequency >
    ``max_doc_freq`` from BOTH the join and the sizes, equi-join on
    shingle, per-pair intersection counts — never all-pairs); emits
    per-side containment, Jaccard and a relation verdict::

        near_exact       jaccard >= 0.9
        a_in_b           containment_a >= 0.9 (A is mostly inside B)
        b_in_a           containment_b >= 0.9
        partial_overlap  otherwise (pair kept when either side >=
                         ``threshold``)

    Ratios are emitted UNROUNDED: both engines divide the same exact
    integers, and round(x, 4) would reintroduce tie divergence (e.g.
    inter/sz = 1/32 = 0.03125 rounds differently under HALF_UP vs
    half-even).
    """
    c_a = F.col("inter") / F.col("sz_a")
    c_b = F.col("inter") / F.col("sz_b")
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        _capped_overlaps(docs, k, max_doc_freq)
        .filter(F.greatest(c_a, c_b) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_a",
            "sz_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
            jac.alias("jaccard"),
            F.when(jac >= 0.9, "near_exact")
            .when(c_a >= 0.9, "a_in_b")
            .when(c_b >= 0.9, "b_in_a")
            .otherwise("partial_overlap")
            .alias("relation"),
        )
    )


def edit_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.9,
    prefix: int = 1000,
) -> DataFrame:
    """Edit-distance verification of candidate near-dup pairs — the
    precision stage after LSH/SimHash recall: normalized similarity
    1 - levenshtein(a, b) / max(len(a), len(b)) over a bounded prefix,
    ``is_dup`` iff similarity >= ``threshold``.

    Levenshtein is O(len_a * len_b) PER PAIR, so this runs on the
    candidate-pair output (bounded by the LSH band design rate), never
    all-pairs, and each side is capped at ``prefix`` chars — the same
    truncation real pipelines use (a 100 MB blob must not cost 10^16
    cell updates; near-dup verdicts on the first KBs are the accepted
    proxy). Plan shape: two slim hash joins on doc_id to fetch the
    prefixes, then an in-row JVM levenshtein — zero Python, no window,
    AQE-skew-eligible joins.
    """
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, prefix).alias("__ta"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, prefix).alias("__tb"),
    )
    dist = F.levenshtein("__ta", "__tb")
    maxlen = F.greatest(F.length("__ta"), F.length("__tb"), F.lit(1))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            F.round(F.lit(1.0) - dist / maxlen, 6).alias("edit_sim"),
        )
        .withColumn("is_dup", F.col("edit_sim") >= threshold)
    )


def source_overlap(docs: DataFrame, k: int = 8) -> DataFrame:
    """Cross-source contamination matrix: pairwise shingle-set overlap
    BETWEEN corpus sources.

    The corpus-level audit behind mix planning: two "different" sources
    with high set overlap (a mirror of the same dump, a re-crawl under
    a new name) double-count in the training mix and silently defeat
    per-source dedup budgets. Reports, per source pair, the distinct
    k-gram intersection with Jaccard and the Szymkiewicz–Simpson
    overlap coefficient ``inter / min(|A|, |B|)`` — overlap ~1.0 with
    modest Jaccard is the containment signature (one source is a
    subset dump of the other; cf. containment_pairs at doc grain).

    Scale shape: one (source, shingle) distinct (the big exchange —
    uniform shingle keys), then a shingle-keyed self-join whose per-key
    blowup is bounded by sources², and sources number in the dozens at
    any corpus scale — the output is a sources²-row matrix. Ratios
    unrounded (engine-exact doubles).
    """
    sh = docs.select(
        "source", F.explode(_shingles(k)).alias("sh")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("sz").alias("sz_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("sz").alias("sz_b")
    )
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter",
            "sz_a",
            "sz_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
            (F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b"))).alias(
                "overlap_coef"
            ),
        )
    )


def ngram_novelty(docs: DataFrame, k: int = 8) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    k-grams that appear in no other document.

    The scalar originality signal between exact dedup (whole-doc) and
    span excision (ExactSubstr/C4): a document whose shingles are
    mostly corpus-shared is boilerplate/syndication even when no
    single pair crosses a near-dup threshold — Dolma-style pipelines
    gate or down-weight on exactly this fraction. Emits the audit
    counts alongside the ratio.

    Output: (doc_id, n_shingles, n_shared, novelty) with novelty =
    1 - n_shared/n_shingles (1.0 = fully original).

    Scale shape: one shingle-keyed df aggregation (map-side combine)
    plus a join BACK on the same shingle key — co-partitioned with the
    agg's exchange, so the second hop reuses the first's partitioning;
    then a doc-keyed count rollup. Uniform shingle keys, nothing
    all-pairs. Ratios unrounded (exact integer division per doc).
    """
    sh = docs.select("doc_id", F.explode(_shingles(k)).alias("sh"))
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        (
            F.lit(1.0)
            - F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )
