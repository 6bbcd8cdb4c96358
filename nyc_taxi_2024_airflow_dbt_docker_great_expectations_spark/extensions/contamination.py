"""Benchmark decontamination: flag training documents sharing word n-grams
with an evaluation/benchmark set.

The GPT-3-style decontamination check: any training document that shares at
least one long word n-gram (13-gram in the paper; configurable here) with a
benchmark document is flagged, with the collision count and the share of the
document's n-grams that collide — enough signal for both hard-drop and
soft-review policies downstream.

Scale shape (100 TB train, MB-scale benchmark): the benchmark n-gram set is
tiny by construction — distinct-ed and broadcast, so the check is one
map-side semi-join over the training corpus's exploded n-gram postings plus
one partial+final aggregate per doc.  No shuffle of the training corpus
beyond the posting aggregate: each document's distinct n-grams come from
one narrow Arrow pass (``text.shingled_arrays``) and explode into posting
rows in the same stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import shingled_arrays


def _postings(df: DataFrame, text_col: str, id_col: str,
              n: int) -> DataFrame:
    """(id, shingle): one row per distinct word n-gram of each document."""
    return shingled_arrays(df, text_col, id_col, n).select(
        id_col, F.explode("shingles").alias("shingle"))


def ngram_contamination(train: DataFrame, benchmark: DataFrame, n: int = 13,
                        text_col: str = "text", id_col: str = "doc_id",
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Per contaminated training doc: (id, n_hits, n_shingles, hit_ratio).

    ``n_hits`` counts the doc's distinct n-grams that appear anywhere in the
    benchmark; ``hit_ratio`` = n_hits / n_shingles.  Docs with zero hits are
    omitted (at scale the clean set is the overwhelming majority — emitting
    it would be a full-corpus join output).  ``broadcast_benchmark`` is the
    default because benchmark suites are small; pass ``False`` if yours is
    not and let the n-gram join shuffle-partition.
    """
    train_posts = _postings(train, text_col, id_col, n)
    bench_grams = (
        _postings(benchmark, text_col, id_col, n).select("shingle").distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)

    per_doc = train_posts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles")  # postings are distinct per doc
    )
    hits = (
        train_posts.join(bench_grams, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(per_doc, id_col)
        .select(
            id_col,
            "n_hits",
            "n_shingles",
            (F.col("n_hits").cast("double")
             / F.col("n_shingles").cast("double")).alias("hit_ratio"),
        )
    )


def _bloom_positions(col, m_bits: int, k_hashes: int):
    """``k_hashes`` bit positions from ONE md5: disjoint 10-hex-char
    (40-bit) slices of the digest, each mod ``m_bits``.  One hash per
    shingle instead of k — the digest has 128 independent bits and each
    position consumes 40, so the slices are as independent as k separate
    salted hashes at a third of the hot-path hashing cost (the train
    side evaluates this inside whole-stage codegen for every shingle).
    The SQL oracle reproduces the same slices verbatim."""
    if k_hashes * 10 > 32:
        raise ValueError(f"k_hashes={k_hashes} needs {k_hashes * 10} hex "
                         "chars; md5 provides 32")
    h = F.md5(F.concat(F.lit("bf:"), col))
    return [
        F.pmod(
            F.conv(F.substring(h, 1 + 10 * j, 10), 16, 10).cast("long"),
            F.lit(m_bits),
        ).cast("int")
        for j in range(k_hashes)
    ]


def bloom_build_mask(benchmark: DataFrame, n: int = 13,
                     m_bits: int = 1 << 16, k_hashes: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> list[int]:
    """Build the benchmark bitset as a Python list of 64-bit words —
    bounded by ``m_bits`` BY CONSTRUCTION, so collecting it is driver
    metadata at any benchmark size.  A pure function of the benchmark
    split: callers serving repeated decontamination queries memoize it
    per session (the build pays one shingle explode over the benchmark
    that the apply path then never repeats)."""
    bench_pos = (
        _postings(benchmark, text_col, id_col, n)
        .select(F.explode(F.array(
            *_bloom_positions(F.col("shingle"), m_bits, k_hashes)
        )).alias("pos"))
        .distinct()
    )
    mask = [0] * ((m_bits + 63) // 64)
    for r in bench_pos.collect():
        p = r["pos"]
        mask[p >> 6] |= 1 << (p & 63)
    return mask


def bloom_contamination(train: DataFrame, benchmark: DataFrame = None,
                        n: int = 13,
                        m_bits: int = 1 << 16, k_hashes: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        mask: list[int] | None = None) -> DataFrame:
    """Bloom-filter decontamination: the O(1)-memory form of
    :func:`ngram_contamination` for benchmark sets too large to broadcast
    as strings — a 10B-n-gram suite is ~1 TB of text but fits any
    ``m_bits`` budget as a bitset (the classic production trade: a
    bounded, tunable false-positive rate — ~``(k/ (m/n_grams))^k``, FPs
    only ever OVER-flag, never miss).

    Construction: each benchmark n-gram sets ``k_hashes`` md5-derived bit
    positions; the DISTINCT position set is bounded by ``m_bits`` BY
    CONSTRUCTION — collecting it is bounded driver metadata regardless of
    benchmark size, and it compiles into a literal long[] bitmask inside
    the train-side filter expression: membership is pure whole-stage
    codegen (two shifts + a compare per hash), zero joins, zero shuffle
    of the training corpus beyond the per-doc aggregate.

    The hash family is the engine-portable md5 idiom, so the SQL oracle
    reproduces the exact bitset and the exact (false-positive-inclusive)
    flag counts.  Returns (id, n_flagged, n_shingles, flag_ratio) for
    docs with >= 1 flagged n-gram — same shape as ngram_contamination,
    whose exact result is a subset (pytest-asserted).
    """
    def positions(col):
        return _bloom_positions(col, m_bits, k_hashes)

    if mask is None:
        mask = bloom_build_mask(benchmark, n=n, m_bits=m_bits,
                                k_hashes=k_hashes, text_col=text_col,
                                id_col=id_col)
    # two's-complement to fit Spark's signed long literals
    mask_lit = F.array(*[
        F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
        for w in mask
    ])

    posts = _postings(train, text_col, id_col, n)
    member = None
    for p in positions(F.col("shingle")):
        # bit (p mod 64) of word (p div 64), LSB-first — bit_get takes a
        # COLUMN position (the python shiftright wrappers only take ints)
        word = F.element_at(mask_lit, F.floor(p / F.lit(64)).cast("int") + 1)
        bit = F.bit_get(word, (p % F.lit(64)).cast("int")) == F.lit(1)
        member = bit if member is None else member & bit
    flagged = posts.withColumn("__hit", member.cast("int"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("__hit").cast("long").alias("n_flagged"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .filter(F.col("n_flagged") > 0)
        .select(
            id_col, "n_flagged", "n_shingles",
            (F.col("n_flagged").cast("double")
             / F.col("n_shingles").cast("double")).alias("flag_ratio"),
        )
    )
