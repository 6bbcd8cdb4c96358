"""Full-text ranked retrieval (BM25) over the document corpus.

A training-data platform needs keyword search over its corpus — for
targeted quality audits ("show me the docs matching this contamination
probe"), for building eval slices, and as the retrieval half of
retrieval-augmented pipelines.  The classic ranking function is Okapi
BM25 (Robertson & Walker, SIGIR '94; the Lucene default).

Spark-first shape — two scans, zero wide shuffles:

1. **Corpus-statistics pass**: one aggregate producing a single row with
   ``N`` (doc count), ``sum(dl)`` (total token count, for ``avgdl``) and
   one document-frequency counter per query term.  Per-term tf is a
   codegen'd ``size(filter(tokens, t -> t = term))`` — an array scan
   inside the row, no explode, no shuffle; the agg is a map-side partial
   reduced to one row.  On a real deployment these statistics are the
   thing you persist (they change slowly); the operator recomputes them
   because the testdata has no warehouse lifetime.
2. **Scoring pass**: broadcast the 1-row stats (Catalyst plans the cross
   join as ``BroadcastNestedLoopJoin`` over literally one row), compute
   the BM25 sum per document map-side, and take the global top-k via
   ``TakeOrderedAndProject`` (per-partition heaps, no global sort).

Determinism (hash-exact vs the SQL oracle): tf/df/dl are integers; avgdl
is an exact long sum over an IEEE double division; the per-term score
contributions are summed in the fixed literal order of ``terms`` (IEEE
addition is order-sensitive, so both engines spell the same left-
associated chain).  idf is the RATIONAL Robertson form
``(N - df + 0.5) / (df + 0.5)`` WITHOUT the usual ``ln``: transcendental
functions are not correctly rounded and measurably differ between the
JVM and libm (ln of these idf arguments came back 1 ulp apart on 7 of
20 top-k rows when tried), while +,-,*,/ are exactly rounded by
IEEE 754 and therefore bit-identical on any engine.  The rational form
keeps idf's monotonicity in df (rarer terms weigh more, terms in >half
the corpus weigh <1) and only stretches the scale; rankings for
single-term queries are identical, multi-term rankings down-weight
common terms more aggressively than the log form.  Ties on score break
by doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import tokens, token_count


def bm25_topk(df: DataFrame, terms: tuple[str, ...], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` documents by BM25 for the bag-of-words query ``terms``.

    Returns ``(id_col, n_tokens, score)``; only documents matching at
    least one term are candidates.  ``terms`` must be lowercase and
    distinct (idf is per unique term).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")

    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    dl = token_count(text_col).cast("long")

    def tf(term: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("long")

    # pass 1: one row of corpus statistics (N, total length, per-term df)
    stats = df.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum(dl).alias("__sum_dl"),
        *[
            F.sum((tf(t) > 0).cast("long")).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )

    # pass 2: score each doc against the broadcast stats row
    scored = df.select(
        F.col(id_col),
        dl.alias("n_tokens"),
        *[tf(t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
    ).crossJoin(F.broadcast(stats))

    n = F.col("__n_docs").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("n_tokens").cast("double") / avgdl
    )
    score = None
    for i in range(len(terms)):
        dfi = F.col(f"__df_{i}").cast("double")
        idf = (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        tfi = F.col(f"__tf_{i}").cast("double")
        contrib = idf * (tfi * F.lit(float(k1) + 1.0)) / (tfi + norm)
        score = contrib if score is None else score + contrib

    matched = None
    for i in range(len(terms)):
        hit = F.col(f"__tf_{i}") > 0
        matched = hit if matched is None else matched | hit

    return (
        scored.filter(matched)
        .select(F.col(id_col), F.col("n_tokens"), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


#: index table suffix -> bucket keys (stats is a 1-row unbucketed table)
BM25_INDEX_TABLES = {"postings": ["term"], "stats": None,
                     "members": ["rep_id"]}


def _bm25_table_names(prefix: str) -> dict[str, str]:
    return {t: f"{prefix}_{t}" for t in BM25_INDEX_TABLES}


def build_bm25_index(corpus: DataFrame, table_prefix: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_buckets: int = 8) -> dict[str, str]:
    """Tokenize the corpus ONCE and persist the classic search-engine
    inverted index as warehouse tables: ``postings`` (term, id, dl, tf —
    bucketed on the term, so every probe's term lookup is a bucket-local
    scan; the doc length rides denormalized in the posting, the standard
    Lucene layout, so scoring never joins back to the corpus) and the
    1-row ``stats`` (n_docs, sum_dl).  The build-once/probe-many analog
    of :func:`bm25_topk`'s two-scan direct form — the same
    incremental-materialization pattern as the n-gram near-dup index
    (extensions/dedup.py:build_ngram_index).

    **Multiplicity collapse**: tf and dl are pure functions of the text,
    so verbatim copies share every posting.  The index tokenizes one rep
    per distinct text and stores the copy count on the posting
    (``mult``); corpus-level statistics stay copy-exact (``n_docs`` =
    Σ mult, ``sum_dl`` = Σ dl·mult, per-term df = Σ mult over matching
    reps — all integer-identical to counting copies), and
    ``<prefix>_members`` (rep_id, member_id) lets the probe expand
    matched reps back to doc ids before the top-k, so scores and
    tie-breaks are bit-identical to the uncollapsed form.
    """
    from ..execution import rep_tags
    from ..operators.layout import write_bucketed, write_unbucketed

    names = _bm25_table_names(table_prefix)
    # k1/b are PROBE-time score parameters (the index stores only tf/dl/df
    # inputs), so beyond the kind only the collapsed layout needs
    # recording — pre-collapse dirs refuse adoption and rebuild
    props = {"kind": "bm25_index", "collapsed": True}
    tagged = rep_tags(
        corpus.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("__txt")),
        "__txt", "id",
    ).withColumnRenamed("__mult", "mult")
    write_bucketed(
        tagged.select(F.col("__rep").alias("rep_id"),
                      F.col("id").alias("member_id")),
        names["members"], BM25_INDEX_TABLES["members"], num_buckets,
        props=props,
    )
    base = tagged.filter(F.col("id") == F.col("__rep")).select(
        "id", "__txt", "mult"
    )
    toks = base.select(
        "id", "mult",
        token_count("__txt").cast("long").alias("dl"),
        F.explode_outer(F.transform(tokens("__txt"),
                                    lambda t: F.lower(t))).alias("term"),
    )
    write_bucketed(
        toks.filter(F.col("term").isNotNull())
        .groupBy("term", "id", "dl", "mult")
        .agg(F.count(F.lit(1)).alias("tf")),
        names["postings"], BM25_INDEX_TABLES["postings"], num_buckets,
        props=props,
    )
    stats = base.agg(
        F.sum("mult").cast("long").alias("n_docs"),
        F.sum(token_count("__txt").cast("long") * F.col("mult"))
        .cast("long").alias("sum_dl"),
    )
    # 1-row table: no bucketing, but the stale-location cleanup + meta
    # sidecar still apply (write_unbucketed handles both)
    write_unbucketed(stats, names["stats"], props=props)
    return names


def probe_bm25_index(spark, table_prefix: str, terms: tuple[str, ...],
                     k: int = 20, k1: float = 1.2, b: float = 0.75,
                     id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` BM25 against the PERSISTED index — no corpus scan, no
    re-tokenization: the probe touches only the query terms' posting
    rows (term filter pushed into the bucketed scan), the matched docs'
    lengths, and the 1-row stats.

    Bit-identical to :func:`bm25_topk` on the same corpus: per-term tf
    pivots into FIXED columns (a conditional aggregate per term — a
    groupBy SUM of contributions would add in shuffle order) and the
    score chain replays the direct form's literal order, so the shared
    SQL oracle hash-matches both paths.  A term absent from a doc has no
    posting row; its pivoted tf coalesces to 0 and contributes exactly
    ``idf * 0 / norm = 0.0``, matching the direct form's zero count.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")
    from ..operators.layout import require_build_props

    names = _bm25_table_names(table_prefix)
    require_build_props(spark, names["postings"],
                        f"bm25 index `{table_prefix}`", {"collapsed": True},
                        "reads a pre-collapse layout (no mult/members)")
    posts = spark.table(names["postings"]).filter(
        F.col("term").isin(*terms)
    )
    # the stats table IS one row, but re-aggregating it (max over 1 row ==
    # identity) makes the <=1-row property visible to the PLAN: the
    # crossJoin below is then provably a scalar broadcast, which the
    # registry-wide nested-loop guard (tests/test_plans.py) enforces.
    # A global agg over an EMPTY (corrupt) stats table yields one all-NULL
    # row, which would silently propagate NULL scores — the isNotNull
    # filter restores the pre-aggregation edge case (empty stats -> empty
    # probe result) while keeping the <=1-row plan property.
    stats = spark.table(names["stats"]).agg(
        F.max("n_docs").alias("n_docs"),
        F.max("sum_dl").alias("sum_dl"),
    ).filter(F.col("n_docs").isNotNull())
    members = spark.table(names["members"])
    # df counts DOCUMENTS: each rep posting stands for `mult` copies
    dfs = posts.groupBy("term").agg(
        F.sum(F.when(F.col("tf") > 0, F.col("mult")))
        .cast("long").alias("df_cnt")
    )

    cand = posts.groupBy("id", "dl").agg(*[
        F.coalesce(
            F.sum(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
        ).cast("long").alias(f"__tf_{i}")
        for i, t in enumerate(terms)
    ])
    dfm = dfs.groupBy().pivot("term", list(terms)).agg(F.first("df_cnt"))
    dfm = dfm.select(*[
        F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("long").alias(f"__df_{i}")
        for i, t in enumerate(terms)
    ])
    scored = cand.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfm))

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl").cast("double") / avgdl
    )
    score = None
    for i in range(len(terms)):
        dfi = F.col(f"__df_{i}").cast("double")
        idf = (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        tfi = F.col(f"__tf_{i}").cast("double")
        contrib = idf * (tfi * F.lit(float(k1) + 1.0)) / (tfi + norm)
        score = contrib if score is None else score + contrib

    # expand matched reps to member doc ids BEFORE the top-k: members of
    # a duplicate group share the rep's score exactly, so the global
    # (score desc, id) order — and hence the k cut — is bit-identical to
    # scoring every copy directly
    return (
        scored.select(
            F.col("id").alias("rep_id"),
            F.col("dl").alias("n_tokens"),
            score.alias("score"),
        )
        .join(members, "rep_id")
        .select(
            F.col("member_id").alias(id_col),
            F.col("n_tokens"),
            F.col("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
