"""Text-analysis operators for training-data pipelines.

All built-in column expressions (JVM-side, codegen-friendly): tokenize,
token stats, quality scoring, language ID, fingerprinting.  No row-at-a-time
Python UDFs — at 100 TB the difference between a codegen'd regexp and a
per-row UDF is the whole job budget.  Word k-grams are the exception: a
document's grams are per-document string work that no expression builds
without re-running the split per gram position, so they come from ONE
narrow Arrow ``mapInPandas`` body (``_gram_rows``) over ONE Python copy
of the ``tokens()`` split (``_word_grams``), with two views:
``shingled_arrays`` (each document's distinct grams) and
``positional_shingles`` (every occurrence with its start).

Determinism: every score is integer-count arithmetic / fixed-order double
ops, so results are bit-stable and oracle-checkable.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from ..execution import materialize_once

# Small distinctive stopword families for the lang-ID heuristic.  Deliberately
# disjoint sets (no 'la' which is es+fr, etc.).
LANG_STOPWORDS = {
    "en": ("the", "and", "with", "from", "this"),
    "es": ("el", "los", "las", "que", "una"),
    "de": ("der", "die", "und", "nicht", "ein"),
    "fr": ("le", "les", "et", "dans", "une"),
}

CJK_PATTERN = "[\\u4e00-\\u9fff]"

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# the \s character set of Java/RE2 regexes: space, \t, \n, \x0b, \f, \r
_WS_CHARS = " \t\n\x0b\f\r"
# tokens()'s split on the Python side: an explicit class, because Python's
# own \s also splits on unicode whitespace (U+00A0, U+2003, ...) and Java's
# does not
_WS_RE = re.compile("[" + re.escape(_WS_CHARS) + "]+")


def _word_grams(text: str, k: int) -> list[str]:
    """The word ``k``-grams of one document in order, over exactly the
    tokens :func:`tokens` yields (none when there are fewer than ``k``)."""
    toks = _WS_RE.split(text.strip(_WS_CHARS))
    return [" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)]


def _wtrim(col: Column) -> Column:
    # trim ALL whitespace, not just spaces: F.trim strips ' ' only, which
    # makes a tab-leading document grow a phantom empty token through
    # split() (caught by tests/test_properties.py).  btrim with an explicit
    # char set, NOT regexp_replace('^\\s+|\\s+$') — the regex form costs an
    # NFA scan per evaluation and measurably slowed every shingle pipeline
    # (minhash bench 2.8s -> 8.0s); btrim is the same cheap two-pointer scan
    # as trim.  The oracle-side DUCK_TOKS uses trim(text, <same chars>).
    return F.btrim(col, F.lit(_WS_CHARS))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of whitespace-trimmed text -> array<string>."""
    return F.split(_wtrim(_c(col)), "\\s+")


def token_count(col: Column | str) -> Column:
    """Token count; empty/blank text counts 0 (split('') yields [''])."""
    t = _wtrim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, "\\s+")))


# GPT-2-style pre-tokenizer pattern, restricted to syntax shared by Java
# regex (Spark) and RE2 (DuckDB): no lookaheads.  Alternatives: common
# English contraction suffixes, letter runs, digit runs, punctuation runs.
BPE_TOKEN_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"
)


def bpe_token_count(col: Column | str) -> Column:
    """Subword-style token count via the BPE pre-tokenizer regex — the
    LLM-budget estimator (whitespace counting undercounts punctuation-heavy
    text).  ``regexp_count`` is a codegen'd scan-local expression."""
    return F.regexp_count(_c(col), F.lit(BPE_TOKEN_PATTERN))


# Fixture merges table for exact BPE encoding: a deterministic, ranked list
# of (left, right) symbol merges over characters (GPT-2-style cascades —
# 'th'+'e' requires the earlier 't'+'h').  A production deployment swaps in
# a learned merges file; the ALGORITHM below is what the engine provides.
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("in", "g"), ("a", "l"), ("s", "t"),
    ("o", "u"), ("a", "r"), ("i", "s"), ("i", "t"), ("o", "f"),
    ("l", "e"), ("c", "o"), ("m", "e"), ("d", "e"), ("h", "e"),
    ("u", "s"), ("p", "a"), ("s", "e"), (" ", "t"), (" t", "he"),
    (" ", "a"), (" ", "s"), (" ", "o"), (" ", "w"), (" ", "c"),
    (" ", "p"),
)

# joins encoded pieces within a document; \x01 cannot appear in \s-split or
# BPE pre-tokens, so the joined string round-trips unambiguously
BPE_PIECE_SEP = "\x01"


def bpe_encode(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
               ) -> DataFrame:
    """Exact BPE encoding against a fixed merges table — the real token
    budget behind ``bpe_token_count``'s pre-tokenizer estimate: (doc_id,
    n_bpe_tokens, bpe_tokens) where ``bpe_tokens`` is every encoded piece
    in document order joined by ``BPE_PIECE_SEP``.

    Algorithm (per pre-token, characters as initial symbols): repeatedly
    merge the LEFTMOST occurrence of the best-ranked adjacent symbol pair
    until no pair is in the merges table — the *incremental leftmost-best*
    variant of BPE, chosen because one merge per step makes the loop a
    plain structural recursion that a SQL engine replays exactly (the
    DuckDB oracle is a recursive CTE); with cascade-ordered merges tables
    (every learned BPE merges file is) it coincides with the classic
    merge-all-occurrences form on real text.

    Scale shape: pre-tokenization (``regexp_extract_all``) is a codegen'd
    scan-local expression; the Python merge loop runs once per DISTINCT
    pre-token (Zipf: vocabulary << corpus — the encode work is
    vocabulary-sized while the corpus-sized joins stay JVM-side), with the
    merges table a closure broadcast into the Arrow workers.  Reassembly
    is one equi-join on the pre-token plus a per-document sort of
    O(pre-tokens) structs — no global window, no driver collect.
    """
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(batches):
        def enc_word(w: str) -> list[str]:
            syms = list(w)
            while len(syms) > 1:
                best = None
                bi = -1
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, bi = r, i  # strict < keeps the LEFTMOST min
                if best is None:
                    break
                syms[bi:bi + 2] = [syms[bi] + syms[bi + 1]]
            return syms

        for pdf in batches:
            yield pd.DataFrame({
                "w": pdf["w"],
                "pieces": [enc_word(w) for w in pdf["w"]],
            })

    pt = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(_c(text_col), F.lit(BPE_TOKEN_PATTERN),
                                 F.lit(0))
        ).alias("pos", "w"),
    )
    vocab = pt.select("w").distinct()
    enc = vocab.mapInPandas(encode, "w string, pieces array<string>")
    return (
        pt.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum(F.size("pieces")).cast("long").alias("n_bpe_tokens"),
            F.concat_ws(
                BPE_PIECE_SEP,
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                        lambda s: s["pieces"],
                    )
                ),
            ).alias("bpe_tokens"),
        )
    )


def repetition_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Repetition signal: the share of a document's word k-grams taken by
    its single most frequent k-gram.  Boilerplate/templated/looping text
    scores high — a standard pre-training quality filter.  One narrow
    gram pass (:func:`positional_shingles`) + a two-level aggregate."""
    per_gram = (
        positional_shingles(df, text_col, id_col, k)
        .groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.max("c").alias("top_kgram_count"),
        F.sum("c").alias("n_kgrams"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "repetition_ratio"
        ),
    )


def _gram_rows(df: DataFrame, text_col: str, k: int,
               positional: bool) -> DataFrame:
    """The word ``k``-grams of every row of ``df`` as ONE narrow Arrow
    pass (``mapInPandas``, no shuffle).  Each output row is its input row
    minus ``text_col``, plus either ``shingles`` (the document's DISTINCT
    grams in first-occurrence order) or, ``positional``, one row per gram
    occurrence as ``(gpos, gram)`` with ``gpos`` its 0-based start.  NULL
    text and documents with fewer than ``k`` tokens yield no rows.

    The expression form (``transform(sequence(...), i -> concat_ws(' ',
    slice(tokens(text), i, k)))``) re-runs the regex split once per gram
    position — Catalyst does not common-subexpression-eliminate across
    lambda bodies — so it is O(tokens²) regex work per document and was
    measured 7x slower at sf0.1; the lead-window form shuffles the token
    mass.  Here each document is split once, by :func:`_word_grams`.
    Output rows are taken from the input batch, so every carried column
    keeps its pandas dtype whatever its Spark type."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    grams_fields = (
        [StructField("gpos", IntegerType(), False),
         StructField("gram", StringType(), False)] if positional
        else [StructField("shingles", ArrayType(StringType()), False)]
    )
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != text_col] + grams_fields
    )

    def gen(batches):
        for pdf in batches:
            rows, gpos, grams = [], [], []
            for r, txt in enumerate(pdf[text_col]):
                g = [] if txt is None else _word_grams(txt, k)
                if positional:
                    rows += [r] * len(g)
                    gpos += range(len(g))
                    grams += g
                elif g:
                    rows.append(r)
                    grams.append(list(dict.fromkeys(g)))
            out = pdf.drop(columns=text_col).take(rows).reset_index(drop=True)
            if positional:
                out["gpos"] = pd.Series(gpos, dtype="int32")
            out["gram" if positional else "shingles"] = pd.Series(
                grams, dtype=object)
            yield out

    return df.mapInPandas(gen, out_schema)


def shingled_arrays(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingles array<string>): each document's distinct word
    ``k``-grams — the set view of :func:`_gram_rows`.  Every consumer
    (explode, array_intersect size, MinHash min) is order-insensitive.
    Documents with NULL text or fewer than ``k`` tokens yield no row."""
    return _gram_rows(df.select(id_col, text_col), text_col, k,
                      positional=False)


def positional_shingles(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, gpos, gram): every word ``k``-gram occurrence with its 0-based
    start — the positional view of :func:`_gram_rows`, for consumers
    that count occurrences or map grams back onto token spans.
    Documents with NULL text or fewer than ``k`` tokens yield no rows."""
    return _gram_rows(df.select(id_col, text_col), text_col, k,
                      positional=True)


def _count_matching(toks: Column, values: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token/char statistics (token counting operator).

    PERF: staged — the token array, the length-sum fold, and the distinct
    count are materialized once; the single-select form re-ran the regex
    split inside each HOF reference (array_distinct twice, the fold once)
    because Catalyst does not CSE across lambda bodies."""
    s1 = df.select(
        F.col(id_col),
        F.trim(F.col(text_col)).alias("__ts_t"),
        _wtrim(F.col(text_col)).alias("__ts_w"),
        tokens(text_col).alias("__ts_toks"),
    )
    toks1 = F.col("__ts_toks")
    s2 = s1.select(
        F.col(id_col),
        F.length("__ts_t").alias("n_chars"),
        F.when(F.col("__ts_w") == "", F.lit(0))
        .otherwise(F.size(toks1)).alias("n_tokens"),
        F.aggregate(
            F.transform(toks1, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("__ts_lensum"),
        F.size(F.array_distinct(toks1)).alias("n_unique_tokens"),
    )
    nt = F.col("n_tokens")
    return s2.select(
        id_col,
        "n_chars",
        "n_tokens",
        (F.col("__ts_lensum").cast("double") / nt.cast("double"))
        .alias("avg_token_len"),
        "n_unique_tokens",
        (F.col("n_unique_tokens").cast("double") / nt.cast("double"))
        .alias("unique_ratio"),
    )


def _quality_counts(t: Column, w: Column, toks: Column) -> dict[str, Column]:
    """The integer count layer of the quality signals, over the three text
    primitives (``trim``'d text, whitespace-trim'd text, token array).
    Split out so staged callers can materialize the counts ONCE: the
    stopword filter is a lambda HOF, and Catalyst neither codegens nor
    common-subexpression-eliminates lambda bodies, so the inline
    expression form re-runs the regex split per reference (the same
    O(duplication) trap ``_gram_rows`` documents)."""
    n_chars = F.length(t)
    return {
        "n_chars": n_chars,
        "n_tokens": F.when(w == "", F.lit(0)).otherwise(F.size(toks)),
        "punct": n_chars - F.length(F.regexp_replace(t, "[^a-zA-Z0-9\\s]", "")),
        "digits": n_chars - F.length(F.regexp_replace(t, "[0-9]", "")),
        "stop_hits": _count_matching(toks, EN_STOPWORDS),
    }


def _quality_signals(counts: dict[str, Column]) -> dict[str, Column]:
    """Ratios + combined score from the count layer — exactly the
    arithmetic the SQL oracle mirrors, unchanged by the staging."""
    punct_ratio = counts["punct"].cast("double") / counts["n_chars"].cast("double")
    digit_ratio = counts["digits"].cast("double") / counts["n_chars"].cast("double")
    stop_ratio = counts["stop_hits"].cast("double") / counts["n_tokens"].cast("double")
    score = (
        F.lit(1.0)
        - F.least(F.lit(1.0), punct_ratio * 4.0)
        * F.lit(0.25)
        - F.least(F.lit(1.0), digit_ratio * 4.0) * F.lit(0.25)
    ) * (F.lit(0.5) + F.least(F.lit(0.5), stop_ratio * 2.0))
    return {
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def _quality_components(text_col: str) -> dict[str, Column]:
    """The shared quality-signal expressions — ONE definition feeds both
    the per-component report and the combined score, so they can never
    drift apart (or from the SQL oracle).  Inline (un-staged) column form
    for embedding in arbitrary selects; DataFrame-level callers should
    prefer :func:`quality_scores` / :func:`with_quality_score`, whose
    staged projections evaluate each regex/HOF primitive once."""
    c = _c(text_col)
    counts = _quality_counts(F.trim(c), _wtrim(c), tokens(text_col))
    sig = _quality_signals(counts)
    return {
        "n_chars": counts["n_chars"],
        "n_tokens": counts["n_tokens"],
        **sig,
    }


def quality_score_col(text_col: str = "text") -> Column:
    """The combined [0,1]-ish quality score as a reusable column
    expression (see ``quality_scores`` for the component signals)."""
    return _quality_components(text_col)["quality_score"]


_QS_TMP = ("__qs_t", "__qs_w", "__qs_toks",
           "__qs_nc", "__qs_nt", "__qs_pu", "__qs_di", "__qs_st")


def _quality_staged(df: DataFrame, text_col: str) -> DataFrame:
    """df + the ``__qs_*`` count columns, via two staged projections so the
    trim/split/regex/HOF primitives are each evaluated ONCE per row.  The
    multi-reference aliases are non-cheap expressions, so CollapseProject
    leaves the staging in place (plan-asserted in tests)."""
    c = _c(text_col)
    s1 = df.withColumns({
        "__qs_t": F.trim(c),
        "__qs_w": _wtrim(c),
        "__qs_toks": F.split(_wtrim(c), "\\s+"),
    })
    counts = _quality_counts(
        F.col("__qs_t"), F.col("__qs_w"), F.col("__qs_toks"))
    return s1.withColumns({
        "__qs_nc": counts["n_chars"],
        "__qs_nt": counts["n_tokens"],
        "__qs_pu": counts["punct"],
        "__qs_di": counts["digits"],
        "__qs_st": counts["stop_hits"],
    }).drop("__qs_t", "__qs_w", "__qs_toks")


def _staged_signals() -> dict[str, Column]:
    return _quality_signals({
        "n_chars": F.col("__qs_nc"),
        "n_tokens": F.col("__qs_nt"),
        "punct": F.col("__qs_pu"),
        "digits": F.col("__qs_di"),
        "stop_hits": F.col("__qs_st"),
    })


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality signals (length, punctuation density,
    digit density, stopword ratio) + a combined [0,1]-ish score.  The usual
    pre-training corpus filter: cheap, scan-local, shuffle-free.

    PERF: staged projections (text primitives -> integer counts ->
    ratios/score) so the regex split and the stopword-filter HOF run once
    per row — the previous single-select form re-evaluated the lambda HOF
    per referencing output column (Catalyst does not CSE across lambda
    bodies)."""
    staged = _quality_staged(df.select(F.col(id_col), _c(text_col)), text_col)
    sig = _staged_signals()
    return staged.select(
        id_col,
        F.col("__qs_nc").alias("n_chars"),
        F.col("__qs_nt").alias("n_tokens"),
        sig["punct_ratio"].alias("punct_ratio"),
        sig["digit_ratio"].alias("digit_ratio"),
        sig["stopword_ratio"].alias("stopword_ratio"),
        sig["quality_score"].alias("quality_score"),
    )


def with_quality_score(df: DataFrame, text_col: str = "text",
                       out_col: str = "quality_score") -> DataFrame:
    """``df`` + a staged ``quality_score`` column (same value as
    :func:`quality_score_col`, each text primitive evaluated once) —
    the form for callers that need the score next to other columns
    without paying the inline expression's duplicated regex/HOF work."""
    staged = _quality_staged(df, text_col)
    return staged.withColumn(
        out_col, _staged_signals()["quality_score"]
    ).drop(*[c for c in _QS_TMP if c in staged.columns])


def filter_funnel(df: DataFrame,
                  stages: list[tuple[str, Column]]) -> DataFrame:
    """Cumulative survivor counts for a sequence of named filter stages —
    the observability layer of a corpus-cleaning pipeline ("how many
    documents did each cut remove?").

    ONE scan, one 1-row aggregate: stage predicates AND-chain cumulatively
    (stage i counts rows passing stages 1..i), so the columns are
    monotonically non-increasing by construction.  NULL predicates count
    as failing, matching SQL's CASE WHEN.  Returns
    (n_total, n_<stage1>, n_<stage2>, ...).

    PERF: the cumulative AND-chain references stage i's predicate in
    every later stage's conjunction, so predicates are materialized as
    boolean columns in ONE staged projection first (an expensive stage-1
    predicate — e.g. the quality score — would otherwise be evaluated
    once per stage: Catalyst neither dedups lambda HOFs nor collapses
    the duplicated trees away).
    """
    staged = df.select(*[
        pred.alias(f"__ff_{i}") for i, (_, pred) in enumerate(stages)
    ])
    aggs = [F.count(F.lit(1)).alias("n_total")]
    cum = F.lit(True)
    for i, (name, _) in enumerate(stages):
        cum = cum & F.col(f"__ff_{i}")
        aggs.append(
            F.sum(F.when(cum, 1).otherwise(0)).cast("long").alias(f"n_{name}")
        )
    return staged.agg(*aggs)


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: CJK codepoints -> zh; else the stopword family
    with the most hits (deterministic preference order en > es > de > fr on
    ties; 'und' = undetermined when nothing hits).

    PERF: staged — tokenize+lowercase once into a temp array column, count
    each family's hits into integer columns, and only then run the
    preference cascade over the plain columns.  The single-select form
    re-evaluated each ``size(filter(split(...)))`` HOF at every reference
    (4 output columns + 11 references inside the cascade = 15 regex splits
    per row; Catalyst does not CSE across lambda bodies)."""
    lowtoks = F.transform(tokens(text_col), F.lower)
    s1 = df.select(
        F.col(id_col), _c(text_col).alias("__li_text"),
        lowtoks.alias("__li_lt"),
    )
    # tokens are pre-lowered, so the per-family count is a plain
    # array_contains filter — same counts as _count_matching (which lowers
    # per reference) because lower() is idempotent and the word lists are
    # lowercase
    def _hits(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("__li_lt"),
                               lambda t: F.array_contains(arr, t)))

    s2 = s1.select(
        F.col(id_col), F.col("__li_text"),
        *[_hits(words).alias(f"hits_{lang}")
          for lang, words in LANG_STOPWORDS.items()],
    )
    h = {lang: F.col(f"hits_{lang}") for lang in LANG_STOPWORDS}
    best = (
        F.when(F.col("__li_text").rlike(CJK_PATTERN), F.lit("zh"))
        .when(
            (h["en"] >= h["es"]) & (h["en"] >= h["de"])
            & (h["en"] >= h["fr"]) & (h["en"] > 0), F.lit("en"))
        .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"])
              & (h["es"] > 0), F.lit("es"))
        .when((h["de"] >= h["fr"]) & (h["de"] > 0), F.lit("de"))
        .when(h["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return s2.select(
        id_col,
        best.alias("detected_lang"),
        *[f"hits_{lang}" for lang in LANG_STOPWORDS],
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 5) -> DataFrame:
    """Document fingerprints:

    - ``content_md5``: md5 of whitespace-normalized lowercase text (exact-dup
      key);
    - ``min_shingle_hash``: minimum md5 over word k-gram shingles — a 1-perm
      MinHash, the building block of the winnowing/LSH family.  NULL for
      documents shorter than k tokens.

    The shingle min explodes :func:`shingled_arrays` into a codegen'd
    hash aggregate with map-side combine, instead of an interpreted
    higher-order-function ``array_min(transform(...))`` — same values,
    ~5x throughput.
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    content = df.select(F.col(id_col), F.md5(norm).alias("content_md5"))
    min_sh = (
        shingled_arrays(df, text_col, id_col, k)
        .select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .groupBy(id_col)
        .agg(F.min(F.md5("shingle")).alias("min_shingle_hash"))
    )
    return content.join(min_sh, id_col, "left")

def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    — the MOSS scheme): hash every POSITIONAL word ``k``-gram, slide a
    window of ``w`` consecutive hashes, select each window's minimum
    (ties -> rightmost occurrence), and dedup the selections.

    The local guarantee :func:`fingerprints`' single min-hash cannot
    offer: any verbatim match of at least ``w + k - 1`` tokens between
    two documents shares >= 1 selected fingerprint, while storing only
    ~2/(w+1) of the gram hashes — (k, w) is the storage/recall dial for
    plagiarism/boilerplate detection at corpus scale.

    Plan shape: the positional grams come from ONE narrow Arrow pass
    (:func:`positional_shingles`), then ONE exchange keyed on the
    document id feeds a single sliding window that computes both the
    min and the full-window test (the window holds ``w`` grams); the
    rightmost-tie rule rides the same window via lexicographic struct
    order on (hash, -pos) — no second pass, no self-join.  O(n_grams *
    w) comparisons per document, map-heavy and shuffle-light.
    Documents with fewer than ``w + k - 1`` tokens have no full window
    and yield no rows (their exact-dup key is :func:`fingerprints`'
    job).  Returns (id_col, fp_pos, fp_hash), fp_pos 0-based.

    **Multiplicity collapse**: fingerprints are a pure function of the
    text, so only one rep per distinct text (min member id) runs the
    gram/window machinery; a member join fans the selections back out to
    every copy — byte-identical output.
    """
    from ..execution import materialize_once, rep_tags

    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")
    tagged = materialize_once(
        rep_tags(df.select(F.col(id_col), F.col(text_col)),
                 text_col, id_col, with_mult=False)
    )
    reps = tagged.filter(F.col(id_col) == F.col("__rep"))
    rep_fps = _rep_winnow_fps(reps, text_col, id_col, k, w)
    return (
        tagged.select(F.col("__rep"), F.col(id_col).alias("__member"))
        .join(rep_fps.withColumnRenamed(id_col, "__rep"), "__rep")
        .select(F.col("__member").alias(id_col), "fp_pos", "fp_hash")
    )


def _rep_winnow_fps(reps: DataFrame, text_col: str, id_col: str,
                    k: int, w: int) -> DataFrame:
    """Winnowing fingerprint selection for a PRE-COLLAPSED corpus (one rep
    row per distinct text) — the shared core of
    :func:`winnowing_fingerprints` (inline expansion) and
    :func:`build_winnowing_index` (persisted rep/member layout).  Returns
    (id_col, fp_pos, fp_hash); plan shape as documented on the public
    function."""
    from pyspark.sql import Window

    wspec = (
        Window.partitionBy(id_col).orderBy("gpos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    pick = F.min(
        F.struct(F.md5("gram").alias("h"),
                 (-F.col("gpos")).cast("long").alias("np"))
    ).over(wspec)
    return (
        positional_shingles(reps, text_col, id_col, k)
        .select(F.col(id_col), pick.alias("__pick"),
                F.count(F.lit(1)).over(wspec).alias("__n"))
        # full windows only: the guarantee is defined over complete
        # w-windows, and partial tail windows would select duplicates
        .filter(F.col("__n") == w)
        .select(
            F.col(id_col),
            (-F.col("__pick.np")).alias("fp_pos"),
            F.col("__pick.h").alias("fp_hash"),
        )
        .distinct()
    )


#: index table suffix -> bucket keys
WINNOW_INDEX_TABLES = {"fps": ["fp_hash"], "members": ["rep_id"]}


def build_winnowing_index(corpus: DataFrame, table_prefix: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          k: int = 3, w: int = 4,
                          num_buckets: int = 8) -> dict[str, str]:
    """Persist :func:`winnowing_fingerprints` in the build-once rep/member
    warehouse layout (mirrors ``dedup.build_gram_profile``): the gram
    explode + sliding-window selection — all of the operator's cost, and
    pure fixed cost per corpus — is paid once; every subsequent
    fingerprint read is two bucketed scans and a member-expansion join.

    Tables (``props`` sidecar carries (k, w) so stale or
    differently-parameterized dirs refuse adoption — operators/layout.py):

    - ``<prefix>_fps (id, fp_pos, fp_hash)`` — rep documents only,
      bucketed on ``fp_hash``: cross-document fingerprint matching (the
      MOSS use case) is then a bucket-local equi-join on the hash;
    - ``<prefix>_members (rep_id, member_id)`` — the multiplicity-collapse
      expansion map, bucketed on ``rep_id``.
    """
    from ..execution import materialize_once, rep_tags
    from ..operators.layout import write_bucketed

    names = {t: f"{table_prefix}_{t}" for t in WINNOW_INDEX_TABLES}
    props = {"kind": "winnow_index", "k": k, "w": w, "collapsed": True}
    tagged = materialize_once(
        rep_tags(corpus.select(F.col(id_col), F.col(text_col)),
                 text_col, id_col, with_mult=False)
    )
    write_bucketed(
        tagged.select(F.col("__rep").alias("rep_id"),
                      F.col(id_col).alias("member_id")),
        names["members"], WINNOW_INDEX_TABLES["members"], num_buckets,
        props=props,
    )
    reps = tagged.filter(F.col(id_col) == F.col("__rep"))
    write_bucketed(
        _rep_winnow_fps(reps, text_col, id_col, k, w),
        names["fps"], WINNOW_INDEX_TABLES["fps"], num_buckets, props=props,
    )
    return names


def winnow_match_from_index(spark, table_prefix: str,
                            id_col: str = "doc_id", min_shared: int = 2,
                            max_df: int | None = None) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` distinct winnowing
    fingerprints — the MOSS match step (SIGMOD'03 §4) served entirely
    from a persisted :func:`build_winnowing_index`: by the local
    guarantee, any verbatim run of ``w + k - 1`` tokens yields a shared
    selected fingerprint, so ``n_shared`` lower-bounds the number of
    disjoint shared runs.  Returns ``(id_a, id_b, n_shared)``,
    ``id_a < id_b``.

    Scale shape: the ``fps`` table is bucketed on ``fp_hash`` — the
    self-join key — so candidate generation is bucket-local; the pair
    mass is bounded by fingerprint-bucket sizes (~2/(w+1) of gram mass),
    and ``max_df`` drops boilerplate fingerprints appearing in more than
    ``max_df`` documents before the join (the inverted-index df-cut,
    same trade as ``ngram_jaccard_pairs(max_df=...)``).

    **Multiplicity collapse**: the index stores rep documents only; a
    duplicate group shares ALL of its rep's fingerprints, so groups of
    two or more emit a self marker carrying the rep's fingerprint count
    and member joins expand rep pairs back to id level — byte-identical
    to matching every copy."""
    from pyspark.sql import Window

    names = {t: f"{table_prefix}_{t}" for t in WINNOW_INDEX_TABLES}
    # distinct (doc, hash): the same fingerprint selected at several
    # positions counts once toward the pair score
    fps = spark.table(names["fps"]).select(F.col(id_col), "fp_hash").distinct()
    if max_df is not None:
        fps = fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp_hash"))
        ).filter(F.col("__df") <= max_df).drop("__df")
    a = fps.select(F.col(id_col).alias("id_a"), "fp_hash")
    b = fps.select(F.col(id_col).alias("id_b"), "fp_hash")
    rep_pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    members = spark.table(names["members"])
    # self markers: a dup group's members share every rep fingerprint
    n_fps = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared"))
    multi = (
        members.groupBy("rep_id").agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
    )
    self_pairs = (
        multi.join(n_fps.withColumnRenamed(id_col, "rep_id"), "rep_id")
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("rep_id").alias("id_a"),
                F.col("rep_id").alias("id_b"), "n_shared")
    )
    from ..execution import expand_member_pairs

    return expand_member_pairs(
        rep_pairs.unionByName(self_pairs), members, ["n_shared"],
        rep_col="rep_id", member_col="member_id",
    )


def winnowing_from_index(spark, table_prefix: str,
                         id_col: str = "doc_id") -> DataFrame:
    """Serve :func:`winnowing_fingerprints` from a persisted
    :func:`build_winnowing_index` — member expansion over two bucketed
    scans, byte-identical to the from-scratch operator at the same
    (k, w) (pytest-asserted)."""
    names = {t: f"{table_prefix}_{t}" for t in WINNOW_INDEX_TABLES}
    fps = spark.table(names["fps"])
    return (
        spark.table(names["members"])
        .join(fps.withColumnRenamed(id_col, "rep_id"), "rep_id")
        .select(F.col("member_id").alias(id_col), "fp_pos", "fp_hash")
    )



# --- PII redaction ---------------------------------------------------------

# Patterns restricted to the regex subset with identical semantics in Java
# (Spark), RE2, and PCRE-style engines: character classes, +/{m,n}
# quantifiers, alternation — no lookaround, no backreferences — so the SAME
# pattern string runs verbatim in the SQL oracle and any other engine.
def collocations(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_count: int = 5,
                 k: int = 20) -> DataFrame:
    """Corpus-level collocation mining — the phrase/multi-word-expression
    discovery step of tokenizer and vocab construction: adjacent token
    pairs ranked by PMI-style *lift* = p(xy) / (p(x) p(y)) =
    (n_xy * N * N) / (M * n_x * n_y), where N = total tokens and
    M = total bigrams.

    Exactness: counts are integer aggregates; the lift is computed in ONE
    fixed left-to-right double expression ``((n_xy * N) * N) /
    ((M * n_x) * n_y)`` — every operand an int64-exact double (counts
    < 2^53), every operation IEEE — so the score is bit-identical across
    engines and rankable without tolerance.  (log2(lift) would be the
    textbook PMI; the log is monotone, so ranking by lift is ranking by
    PMI without a transcendental.)

    Shape: two explode+count aggregates (tokens, bigrams: shuffle =
    distinct-term mass, partial aggs map-side), two broadcast-able joins
    of the bigram table against unigram counts, one 1-row scalar
    cross-join, TakeOrdered top-k.  ``min_count`` prunes the long tail
    before the joins — the df-cut that keeps the bigram table sparse at
    100 TB.
    PERF note (r14, measured): serving the unigram side from the persisted
    posting table (the r14 ``tok_postings`` artifact) was tried and
    REVERTED — head-to-head warm A/B at sf0.1/local[32] read 0.84–0.88 s
    for this form vs 1.0–1.3 s for the posting-fed split: the bigram
    branch needs the token arrays regardless, so the one checkpointed
    tokenize already serves every consumer and the posting reads were
    pure extra work.  See OPTIMIZATION_r14.md.
    """
    # tokenize ONCE: the unigram and bigram aggregates both read the
    # materialized token arrays instead of re-running the split over the
    # raw text per consumer (tokenization is the scan-side cost here)
    arrs = materialize_once(
        df.filter(token_count(text_col) >= 1)
        .select(tokens(text_col).alias("__toks"))
    )
    toks = arrs.select(F.explode("__toks").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    n_total = uni.agg(F.sum("n_w").alias("n_tokens"))
    # bigram occurrences (a multiset) from the token arrays already
    # materialized for the unigram side, not a second gram pass
    bigram_arr = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__toks")) - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 2)),
    )
    big = arrs.filter(F.size("__toks") >= 2).select(
        F.explode(bigram_arr).alias("gram")
    )
    grams = big.groupBy("gram").agg(F.count(F.lit(1)).alias("n_xy"))
    m_total = grams.agg(F.sum("n_xy").alias("n_bigrams"))
    split = grams.filter(F.col("n_xy") >= min_count).select(
        F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        "n_xy",
    )
    joined = (
        split
        # unigram joins stay plain equi-joins: the vocab is usually
        # broadcast-sized and AQE will pick that, but it is not guaranteed
        # dimension-sized at web scale — only the 1-row scalars get a
        # forced broadcast
        .join(uni.withColumnRenamed("w", "w1")
              .withColumnRenamed("n_w", "n_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2")
              .withColumnRenamed("n_w", "n_y"), "w2")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(m_total))
    )
    lift = (
        (F.col("n_xy").cast("double") * F.col("n_tokens").cast("double"))
        * F.col("n_tokens").cast("double")
    ) / (
        (F.col("n_bigrams").cast("double") * F.col("n_x").cast("double"))
        * F.col("n_y").cast("double")
    )
    return (
        joined.select("w1", "w2", "n_xy", "n_x", "n_y", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(k)
    )


def strip_markup(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Boilerplate/markup scrub — the HTML-to-text step of a web-crawl
    training pipeline: drop tags, decode the common HTML entities,
    collapse whitespace, and keep a per-doc markup ratio for quality
    filtering downstream.

    Pure codegen'd ``regexp_replace``/``length`` chains — scan-local, zero
    shuffle, runs at parquet-scan speed at any corpus size.  Entity order
    matters: ``&amp;`` decodes LAST so ``&amp;lt;`` becomes the literal
    ``&lt;`` instead of ``<`` (the classic double-decode bug).  The
    markup_ratio guard returns 0.0 for empty input rather than NULL/NaN.

    Returns (id, clean_text, n_tags, markup_ratio).
    """
    raw = F.col(text_col)
    n_tags = F.regexp_count(raw, F.lit(r"<[^>]*>"))
    no_tags = F.regexp_replace(raw, r"<[^>]*>", " ")
    ent = no_tags
    for pat, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        ent = F.replace(ent, F.lit(pat), F.lit(rep))
    clean = F.trim(F.regexp_replace(ent, r"\s+", " "))
    raw_len = F.length(raw)
    # exact cross-engine float: one subtraction + one division on integer
    # lengths, both IEEE-exact
    ratio = F.when(raw_len > 0,
                   (raw_len - F.length(clean)).cast("double")
                   / raw_len.cast("double")).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_tags.cast("int").alias("n_tags"),
        ratio.alias("markup_ratio"),
    )


PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}",
}


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Training-corpus PII scrub: replace email/phone spans with typed
    placeholder tokens, keeping per-doc match counts for audit.

    Pure codegen'd ``regexp_replace``/``regexp_count`` — no UDF, scan-local,
    zero shuffle; at 100 TB this runs at parquet-scan speed.  Order matters:
    emails first (an address can contain digit runs a phone pattern would
    mangle mid-token).  Returns (id, redacted_text, n_emails, n_phones).
    """
    emails_gone = F.regexp_replace(
        F.col(text_col), PII_PATTERNS["email"], "<EMAIL>"
    )
    all_gone = F.regexp_replace(
        emails_gone, PII_PATTERNS["phone"], "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        all_gone.alias("redacted_text"),
        F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS["email"]))
        .alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS["phone"]))
        .alias("n_phones"),
    )


# --- tf-idf ----------------------------------------------------------------

def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5,
                    postings: DataFrame | None = None) -> DataFrame:
    """Top-k terms per document by tf-idf (tf * ln(N/df)).

    Three codegen'd hash aggregates (term counts, document frequencies, and
    the final window top-k) — the inverted-index shape: the shuffle volume
    is the distinct (doc, term) mass, never the token stream.  N (corpus
    size) is the one scalar driver action, same class as the watermark MAX.
    Deterministic: ln over identical doubles on every engine, total order
    via (tfidf desc, term).

    ``postings`` (optional): a pre-tokenized posting list carrying
    ``(id_col, term, tf)`` — one row per distinct (doc, term) with its
    occurrence count, exactly ``explode(tokens(text)).groupBy.count``.
    When given, the term-count aggregate reads it instead of re-exploding
    the corpus (the r13 plan scanned ``df`` 4x: the tf subtree was
    re-planned for the df branch and the join side).  N still counts
    ``df`` — the posting list drops NULL-text docs the same way the
    inline explode did, but corpus size must not.
    """
    from pyspark.sql import Window

    if postings is not None:
        tf = postings.select(F.col(id_col), "term", "tf")
    else:
        toks = df.select(F.col(id_col),
                         F.explode(tokens(text_col)).alias("term"))
        tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = float(df.count())
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rk")
    )


def build_vocab(df: DataFrame, text_col: str = "text",
                min_count: int = 2, max_size: int = 1000) -> DataFrame:
    """Frequency vocabulary — the tokenizer-training primitive: (term,
    n_occurrences, vocab_id) for the ``max_size`` most frequent terms with
    at least ``min_count`` occurrences, ids dense in (count desc, term)
    order.

    Scale shape: one explode + hash aggregate over the token mass (partial
    map-side combine), then ``orderBy().limit(max_size)`` — a distributed
    TakeOrdered, never a global sort.  The final id-assigning window IS a
    single partition, but over at most ``max_size`` rows — bounded by the
    parameter, not the data, which is the one place a global window is
    legitimate."""
    toks = df.select(F.explode(tokens(text_col)).alias("term")).filter(
        F.col("term") != ""
    )
    counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "term").limit(max_size)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("n_occurrences").desc(), "term")
    return top.withColumn(
        "vocab_id", (F.row_number().over(w) - 1).cast("int")
    )


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 128,
                    overlap: int = 32) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding ingestion
    primitive: each document splits into windows of ``chunk_tokens`` tokens
    advancing by ``chunk_tokens - overlap``, the last chunk clipped to the
    document end.  One row per (doc, chunk): (doc_id, chunk_id, start_tok,
    n_chunk_tokens, chunk_text).

    Entirely narrow (tokenize, integer arithmetic, explode, array slice —
    all JVM expressions): chunking 100 TB is a map-only job.  Chunk-count
    ceil is TRUE 64-bit integer division (``div``, like packing.py's
    global offsets) — ``1 + (n - chunk + step - 1) div step`` — exact at
    any token count, never a double round-trip.  Documents with zero
    tokens yield no rows.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    n = token_count(text_col).cast("long")
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"),
    ).filter(F.col("__n") > 0).withColumn(
        "__nc",
        F.when(F.col("__n") <= chunk_tokens, F.lit(1).cast("long")).otherwise(
            F.lit(1)
            + F.expr(f"(__n - {chunk_tokens} + {step} - 1) div {step}")
        ),
    )
    start = F.col("chunk_id") * step
    clen = F.least(F.lit(chunk_tokens).cast("long"), F.col("__n") - start)
    return base.select(
        id_col, "__toks", "__n",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1))
        .alias("chunk_id"),
    ).select(
        F.col(id_col),
        F.col("chunk_id"),
        start.alias("start_tok"),
        clen.alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), (start + 1).cast("int"),
                         clen.cast("int"))
        ).alias("chunk_text"),
    )


def bigram_novelty(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document novelty signal: the share of a document's DISTINCT
    bigrams that occur in no other document.  Low novelty = boilerplate /
    near-duplicate mass; high = unique content — a cheap corpus-level
    quality dimension next to repetition_scores' within-doc signal.

    One narrow shingle pass (``shingled_arrays`` k=2) + explode + two hash
    aggregates; all counts integer, the ratio one division — portable.
    Documents with < 2 tokens have no bigrams and yield no row."""
    grams = shingled_arrays(df, text_col, id_col, k=2).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    dfreq = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        grams.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn(
            "novelty_ratio",
            F.col("n_novel").cast("double") / F.col("n_bigrams").cast("double"),
        )
    )


def _bpe_merge_apply(seg: list[str], left: str, right: str) -> list[str]:
    """Non-overlapping left-to-right merge of every (left, right) adjacency
    — as a FOLD with whole-symbol equality, so a SQL ``list_reduce`` over
    the same symbol list replays it exactly.  The fold never re-merges a
    just-produced symbol: the merged symbol is ``left + right``, which can
    equal ``left`` only if ``right`` were empty."""
    out = [seg[0]]
    for x in seg[1:]:
        if out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def bpe_train(df: DataFrame, n_merges: int = 12, max_words: int = 64,
              text_col: str = "text") -> DataFrame:
    """Learn a BPE merges table from the corpus — the training half of
    :func:`bpe_encode` (which consumes a merges table): classic
    Sennrich-style byte-pair learning over the word-frequency dictionary.

    Distributed part: ONE aggregation — pre-tokenize
    (``regexp_extract_all``, codegen'd), count occurrences per distinct
    pre-token, keep the ``max_words`` most frequent (ties: lexicographic)
    via a distributed TakeOrdered.  This is the only corpus-sized work;
    BPE learning classically runs on the word-frequency dict, which is
    vocabulary-sized (Zipf) and capped by ``max_words`` by construction,
    so the merge loop itself runs driver-side on the collected dict —
    the same metadata-sized-sample argument as the IVF Lloyd refinement.

    Each of the ``n_merges`` steps: count every adjacent symbol pair
    weighted by word frequency, take the argmax (ties: highest count,
    then smallest ``left+SEP+right`` string — a total order), merge all
    non-overlapping occurrences left-to-right (``_bpe_merge_apply``).
    Deterministic end-to-end: integer counts, total tie orders, no RNG —
    the SQL oracle replays the loop step-for-step with ``list_reduce``.

    Returns ``(merge_rank, lhs, rhs)``, ``merge_rank`` starting at 1 in
    learned order — cascade-ordered, directly consumable by
    :func:`bpe_encode`.  Stops early if no pair repeats.
    """
    wf = (
        df.select(
            F.explode(
                F.regexp_extract_all(_c(text_col), F.lit(BPE_TOKEN_PATTERN),
                                     F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(max_words)
    )
    words = [(r["w"], r["cnt"]) for r in wf.collect()]
    segs = {w: list(w) for w, _ in words}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, cnt in words:
            seg = segs[w]
            for i in range(len(seg) - 1):
                pc[(seg[i], seg[i + 1])] = pc.get((seg[i], seg[i + 1]), 0) + cnt
        if not pc:
            break
        best = min(pc.items(),
                   key=lambda kv: (-kv[1], kv[0][0] + BPE_PIECE_SEP + kv[0][1]))
        (left, right), _cnt = best
        merges.append((left, right))
        for w in segs:
            if len(segs[w]) > 1:
                segs[w] = _bpe_merge_apply(segs[w], left, right)
    return df.sparkSession.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string",
    )


def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Content-defined chunking — the rolling-hash boundary scheme of
    dedup systems (LBFS/rsync/restic, and chunk-level corpus dedup): a
    chunk boundary opens at token position ``p`` whenever the md5 of the
    k-token window starting at ``p`` begins with hex '0' (rate 1/16 ->
    mean chunk ~16 tokens).  Because boundaries depend only on LOCAL
    window content, an edit reflows only its own chunk (vs fixed-size
    chunking, where one inserted token shifts every later chunk) — so
    chunk digests dedup shared passages across documents regardless of
    position.  Locality is pytest-asserted.

    Shape: posexplode the tokens, then ONE (doc, pos)-keyed window pass
    computes the k-token window (lead), the boundary flag, and the
    running chunk id — every expression whole-stage codegen (the
    array-HOF formulation evaluated an interpreted md5 lambda per
    position and an inlined re-split per element: measured 230s at
    sf0.1; this form is ~3s).  A final (doc, chunk) aggregate assembles
    chunk text from position-sorted structs.  Cost: two exchanges over
    the token mass.  Documents shorter than ``k`` tokens are a single
    chunk.  md5 boundaries are engine-portable, so the whole operator
    replays in SQL.
    """
    from pyspark.sql import Window as W

    toks = df.filter(token_count(text_col) >= 1).select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = W.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", i).over(w) for i in range(1, k)]
    )
    # the k-window exists iff the last lead is non-null; boundary at
    # pos >= 1 (0-based: position 2 in the 1-based oracle view)
    flagged = toks.select(
        F.col(id_col), "pos", "tok",
        (
            (F.col("pos") == 0)
            | (
                F.lead("tok", k - 1).over(w).isNotNull()
                & F.md5(gram).startswith("0")
            )
        ).cast("int").alias("__is_start"),
    )
    chunked = flagged.select(
        F.col(id_col), "pos", "tok",
        F.sum("__is_start").over(
            W.partitionBy(id_col).orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("chunk_idx"),
    )
    assembled = chunked.groupBy(id_col, "chunk_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("chunk_text"),
    )
    return assembled.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
        "chunk_text",
    )


def truncation_loss(df: DataFrame, budget: int, group_col: str = "source",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-group context-window truncation accounting: if every document
    is clipped to ``budget`` tokens, how many tokens does each source
    lose?  The number that decides whether to raise the window, chunk
    long docs (:func:`chunk_documents`), or drop the tail — computed in
    the engine BEFORE paying for tokenization-and-truncation at scale.

    Output per group: ``n_docs``, ``n_over`` (docs over budget),
    ``total_tokens``, ``lost_tokens`` (sum of each doc's excess), and
    ``loss_ratio`` = lost/total (NULL on an empty group's 0/0 rather
    than a crash under ANSI).  All counts integer-exact; the ratio is
    ONE double division of two exact longs — bit-identical on any
    engine.

    Scale shape: one partial/final hash aggregate keyed on the group —
    the per-doc token count and excess fold map-side, so the exchange
    carries |groups| rows.
    """
    n = token_count(text_col)
    excess = F.greatest(n - F.lit(int(budget)), F.lit(0))
    per_doc = df.select(
        F.col(group_col),
        n.cast("long").alias("__toks"),
        excess.cast("long").alias("__lost"),
    )
    agg = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("__lost") > 0).cast("long")).cast("long")
        .alias("n_over"),
        F.sum("__toks").cast("long").alias("total_tokens"),
        F.sum("__lost").cast("long").alias("lost_tokens"),
    )
    return agg.withColumn(
        "loss_ratio",
        F.try_divide(F.col("lost_tokens").cast("double"),
                     F.col("total_tokens").cast("double")),
    )


# Rae et al. 2021 ("Scaling Language Models: Methods, Analysis & Insights
# from Training Gopher", arXiv:2112.11446, Appendix A) — the published
# quality-filter rule set.  Word membership is checked on DISTINCT
# lowercased tokens ("contains at least 2 of the following"), not hits.
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have",
                         "with")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_word_frac: float = 0.80,
                 max_bullet_frac: float = 0.90,
                 max_ellipsis_frac: float = 0.30,
                 min_required_words: int = 2) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, Appendix A)
    as per-document boolean flags + the combined ``keep`` decision — the
    named, citable ruleset a pre-training pipeline applies before any
    learned filter (vs ``quality_scores``' soft heuristic score).

    Rules (thresholds parameterized, defaults = the published values):

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio <= max_symbol_ratio (symbols: ``#``, ``…``,
      and ASCII ``...`` — non-overlapping left-to-right counts, identical
      in Spark and the SQL oracle's ``replace``)
    - fraction of words containing an alphabetic char >= min_alpha_word_frac
    - bullet-led line fraction <= max_bullet_frac and ellipsis-ended line
      fraction <= max_ellipsis_frac (lines split on ``\\n``; a
      single-line corpus passes both trivially)
    - at least min_required_words DISTINCT members of
      ``GOPHER_REQUIRED_WORDS`` present (lowercased)

    Empty documents fail every rule (NULL-free booleans: each rule
    carries an explicit ``n_words > 0`` / ``n_lines > 0`` conjunct so a
    NULL ratio can never leak 3-valued logic into ``keep``).

    Plan shape: pure per-row codegen (string ops + array HOFs), NO
    shuffle/join/UDF — scan-local at any scale, the same embarrassingly
    parallel shape as quality_scores.  Output: one row per document with
    the measured signals, each rule's boolean, and ``keep``.
    """
    # PERF: staged projections — text primitives (one wtrim, one split,
    # one line split), then the integer count layer (each lambda HOF
    # evaluated ONCE), then ratios/rules over plain columns.  The previous
    # single-select form re-ran each HOF (and its embedded regex split)
    # per referencing output/predicate: Catalyst does not CSE across
    # lambda bodies.
    s1 = df.select(
        F.col(id_col),
        _wtrim(_c(text_col)).alias("__g_t"),
        tokens(text_col).alias("__g_toks"),
        F.split(_wtrim(_c(text_col)), "\n").alias("__g_lines"),
    )
    t1, toks1, lines1 = F.col("__g_t"), F.col("__g_toks"), F.col("__g_lines")
    nc1 = F.length(t1)
    s2 = s1.select(
        F.col(id_col),
        F.when(t1 == "", F.lit(0)).otherwise(F.size(toks1)).alias("__g_n"),
        F.aggregate(
            F.transform(toks1, lambda x: F.length(x)), F.lit(0),
            lambda acc, x: acc + x,
        ).alias("__g_wls"),
        (nc1 - F.length(F.replace(t1, F.lit("#"), F.lit("")))).alias("__g_hash"),
        (nc1 - F.length(F.replace(t1, F.lit("…"), F.lit("")))).alias("__g_uell"),
        # chars removed by replacing '...' = 3 x occurrence count; keeping
        # the x3 on the integer side makes the ratio ONE exactly-rounded
        # division (engine-bit-exact) instead of a sum of two roundings
        (nc1 - F.length(F.replace(t1, F.lit("..."), F.lit("")))).alias("__g_aell3"),
        F.size(F.filter(toks1, lambda x: x.rlike("[A-Za-z]"))).alias("__g_alpha"),
        F.size(lines1).alias("__g_nl"),
        F.size(F.filter(lines1, lambda l: F.ltrim(l).rlike("^[-*•]")))
        .alias("__g_bull"),
        F.size(F.filter(lines1, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .alias("__g_ell"),
        F.size(F.array_intersect(
            F.transform(toks1, lambda x: F.lower(x)),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        )).alias("__g_req"),
    )
    n = F.col("__g_n")
    nd = n.cast("double")
    word_len_sum = F.col("__g_wls")
    mean_wl = word_len_sum.cast("double") / nd
    hash_cnt = F.col("__g_hash")
    uni_ell = F.col("__g_uell")
    ascii_ell3 = F.col("__g_aell3")
    symbol_ratio = ((hash_cnt + uni_ell) * F.lit(3) + ascii_ell3) \
        .cast("double") / (nd * F.lit(3.0))
    alpha_frac = F.col("__g_alpha").cast("double") / nd
    n_lines = F.col("__g_nl")
    bullet_frac = F.col("__g_bull").cast("double") / n_lines.cast("double")
    ellipsis_frac = F.col("__g_ell").cast("double") / n_lines.cast("double")
    required_hits = F.col("__g_req")
    nonempty = n > 0
    p_count = (n >= min_words) & (n <= max_words)
    p_wl = nonempty & (mean_wl >= min_mean_word_len) \
        & (mean_wl <= max_mean_word_len)
    p_sym = nonempty & (symbol_ratio <= max_symbol_ratio)
    p_alpha = nonempty & (alpha_frac >= min_alpha_word_frac)
    p_lines = nonempty & (n_lines > 0) & (bullet_frac <= max_bullet_frac) \
        & (ellipsis_frac <= max_ellipsis_frac)
    p_req = nonempty & (required_hits >= min_required_words)
    return s2.select(
        id_col,
        n.cast("int").alias("n_words"),
        F.when(nonempty, mean_wl).alias("mean_word_len"),
        F.when(nonempty, symbol_ratio).alias("symbol_ratio"),
        F.when(nonempty, alpha_frac).alias("alpha_word_frac"),
        F.when(nonempty, bullet_frac).alias("bullet_frac"),
        F.when(nonempty, ellipsis_frac).alias("ellipsis_frac"),
        required_hits.cast("int").alias("required_hits"),
        p_count.alias("pass_word_count"),
        p_wl.alias("pass_word_len"),
        p_sym.alias("pass_symbol_ratio"),
        p_alpha.alias("pass_alpha_words"),
        p_lines.alias("pass_line_shape"),
        p_req.alias("pass_required_words"),
        (p_count & p_wl & p_sym & p_alpha & p_lines & p_req).alias("keep"),
    )


def distinct_ngrams(df: DataFrame, text_col: str = "text",
                    group_col: str = "source") -> DataFrame:
    """Per-group distinct-1 / distinct-2 lexical diversity (the
    distinct-n metric of Li et al., NAACL 2016 — the standard
    low-diversity / mode-collapse gauge, applied per corpus slice): the
    share of token positions, and of bigram positions, that are unique
    types within the group.  A source whose distinct-2 collapses is
    boilerplate- or template-heavy even when every document passes
    per-doc quality rules — this is the cross-document redundancy signal
    next to ``bigram_novelty``'s per-document one.

    Totals come from per-row token counts (no explode — one narrow
    aggregate over the corpus); unigram types explode tokens into a
    hash aggregate with map-side partials; bigram types ride
    :func:`shingled_arrays` (ONE narrow Arrow pass — the expression
    form re-evaluates the regex split once per gram position, O(tokens²)
    regex work per document, measured 8x slower at sf0.1).  The group
    table is tiny, so the three-way combine is a broadcast join.
    Everything is an integer count except the two final divisions, so
    engines agree bit-for-bit.

    Returns ``(group_col, n_tokens, n_distinct_tokens, distinct_1,
    n_bigrams, n_distinct_bigrams, distinct_2)`` — one row per group;
    groups whose text is all blank keep ``n_tokens = 0`` and NULL
    ratios (0/0).
    """
    base = df.select(group_col, text_col)
    ntok = token_count(text_col)
    totals = base.groupBy(group_col).agg(
        F.sum(ntok).cast("long").alias("n_tokens"),
        F.sum(F.greatest(ntok - F.lit(1), F.lit(0))).cast("long")
        .alias("n_bigrams"),
    )
    nonblank = base.filter(_wtrim(F.col(text_col)) != "")
    uni = nonblank.select(
        group_col, F.explode(tokens(text_col)).alias("__tok")
    ).groupBy(group_col).agg(
        F.countDistinct("__tok").cast("long").alias("n_distinct_tokens")
    )
    # shingled_arrays keys by its id_col — passing the GROUP column
    # yields (group, per-doc distinct grams), exactly the explode input
    # (blank/short/NULL docs are skipped inside: no bigrams to count)
    bi = shingled_arrays(base, text_col, group_col, k=2).select(
        group_col, F.explode("shingles").alias("__gram")
    ).groupBy(group_col).agg(
        F.countDistinct("__gram").cast("long").alias("n_distinct_bigrams")
    )
    zero = F.lit(0).cast("long")
    ratio = (lambda num, den:
             F.when(F.col(den) > 0,
                    F.col(num).cast("double") / F.col(den).cast("double")))
    return (
        totals.join(F.broadcast(uni), group_col, "left")
        .join(F.broadcast(bi), group_col, "left")
        .select(
            group_col,
            "n_tokens",
            F.coalesce("n_distinct_tokens", zero)
            .alias("n_distinct_tokens"),
            ratio("n_distinct_tokens", "n_tokens").alias("distinct_1"),
            "n_bigrams",
            F.coalesce("n_distinct_bigrams", zero)
            .alias("n_distinct_bigrams"),
            ratio("n_distinct_bigrams", "n_bigrams").alias("distinct_2"),
        )
    )
