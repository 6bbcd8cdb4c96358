"""Similarity search over embedding columns (``array<float>``).

Three families of cosine retrieval, all scored by the same kernel:

- **Exact**: ``cosine_topk`` (and ``hard_negative_topk``,
  ``mutual_knn_pairs``) hash-block the corpus, replicate the queries to
  every block in-plan, and score each block against its queries in one
  cogrouped ``applyInPandas``; only the block-local top-k per query
  survives to the final ranking window.  ``neardup_pairs`` finds every
  pair above a threshold on a block grid (BLAS candidates, exact
  re-score).  At 100 TB these are the *verification* paths.
- **LSH**: ``hyperplane_lsh_buckets`` / ``lsh_topk`` — random-hyperplane
  (sign) buckets from md5-derived planes (no RNG); candidates are the
  query's bucket, so a quadratic scan becomes a hash-partitioned
  equi-join.
- **IVF**: ``ivf_topk`` / ``ivf_topk_from_index`` /
  ``mutual_knn_from_index`` / ``semantic_dedup_pairs`` — a deterministic
  coarse quantizer (md5 seed draw, integer-exact sampled Lloyd),
  inverted lists, probe selection and exact re-score within the probed
  lists; ``build_ivf_index_tables`` persists the index.

The scoring kernel: every numpy cosine is ``_fold_dot`` — ONE loop that
accumulates products over dimensions in index order, the left fold of
``F.aggregate`` that the HOF ``dot``/``norm``/``cosine`` (the oracle-parity
reference) evaluate — so every score is bit-identical to the SQL
expression and to the DuckDB oracle.  Broadcasting gives row-aligned
pairs, a query against a matrix, and a chunk of queries against a matrix
from the same loop; query chunks are capped at ``SCORE_CELLS`` cells.
Every ``(-sim, id)`` ranking, NaN scores dropped, is ``_rank``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from ..execution import (
    expand_member_pairs,
    has_verbatim_copies,
    materialize_once,
)


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold sum of elementwise products (fixed order -> deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _to_double(a), _to_double(b)
    return dot(a, b) / (norm(a) * norm(b))


#: most cells (queries x rows) one score buffer holds; larger query sets
#: are scored in successive chunks of queries.  Read when a plan is built
#: and shipped in the task closure, so the driver's value is the one the
#: Python workers use.
SCORE_CELLS = 1 << 20


def _matrix(vecs) -> np.ndarray:
    """Stack non-NULL vectors into a float64 matrix (float->double
    widening is value-exact)."""
    return np.stack(vecs).astype(np.float64)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sum of ``a[..., d] * b[..., d]`` over the last axis, accumulated
    from 0.0 one dimension at a time in index order: the left fold of
    ``dot``/``norm``.  The leading axes broadcast, and elementwise IEEE
    products and sums in the same order do not change under
    broadcasting, so row-aligned pairs (``(n, d)`` with ``(n, d)``), a
    query against a matrix and a chunk of queries against a matrix
    (``(q, 1, d)`` with ``(n, d)`` -> ``(q, n)``) all give the same bits
    for the same pair."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc += a[..., d] * b[..., d]
    return acc


def _cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``dot / (norm_a * norm_b)`` in the HOF ``cosine``'s expression
    order, broadcast like :func:`_fold_dot`.  A zero-norm side gives
    NaN."""
    return _fold_dot(a, b) / (np.sqrt(_fold_dot(a, a))
                              * np.sqrt(_fold_dot(b, b)))


def _cosine_rows(qm: np.ndarray, m: np.ndarray, cells: int):
    """Yield ``(lo, sims)`` over chunks of the query rows ``qm``:
    ``sims[i, j]`` is the cosine of ``qm[lo + i]`` and ``m[j]``, and no
    chunk holds more than ``cells`` cells (at least one query)."""
    step = max(1, cells // max(1, len(m)))
    for lo in range(0, len(qm), step):
        yield lo, _cosine(qm[lo:lo + step, None, :], m)


def _rank(sims: np.ndarray, ids: np.ndarray, k: int):
    """Per row of ``sims`` (``(q, n)``), the positions of its top-``k``
    scores in ``(-sim, id)`` order, NaN scores dropped.

    NaN drops because a lexsort ranks it LAST while SQL engines'
    ``ORDER BY sim DESC`` rank it FIRST; a zero-norm vector (or an
    excluded self-match) has no signal, so it never belongs in a top-k,
    exactly like a NULL embedding.  Returns ``(rows, cols)`` in
    (row, rank) order — positions, not values: a value array of string
    ids would get a fixed ``'<U n'`` dtype and truncate longer ids."""
    order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims),
                       axis=-1)[:, :k]
    keep = ~np.isnan(np.take_along_axis(sims, order, axis=-1))
    rows = np.broadcast_to(np.arange(len(sims))[:, None], order.shape)
    return rows[keep], order[keep]


def _topk(qm: np.ndarray, m: np.ndarray, ids: np.ndarray, k: int,
          cells: int, qids: np.ndarray | None = None):
    """The top-``k`` rows of ``m`` (ids ``ids``) for every query row of
    ``qm``, scored in chunks: ``(query_rows, positions, sims)`` in
    (query, rank) order.  With ``qids``, a row whose id equals the
    query's id is excluded (self-match)."""
    out = []
    for lo, sims in _cosine_rows(qm, m, cells):
        if qids is not None:
            sims[qids[lo:lo + len(sims), None] == ids] = np.nan
        r, c = _rank(sims, ids, k)
        out.append((lo + r, c, sims[r, c]))
    return tuple(np.concatenate(x) for x in zip(*out))


def _grouped_topk_scores(corpus_pairs: DataFrame, query_pairs: DataFrame,
                         k: int, exclude_self: bool,
                         id_type: str, qid_type: str) -> DataFrame:
    """ONE Arrow-batched scorer per candidate group.

    ``corpus_pairs``: (__g, __id, __vec); ``query_pairs``: (__g, __qid,
    __qvec).  The two sides cogroup on ``__g`` — each task receives one
    candidate group (an LSH bucket, an IVF list, or a hash block of the
    brute-force scan) plus the queries probing it, stacks the group ONCE
    into a matrix, and scores it against chunks of its queries with the
    left-fold cosine (:func:`_topk`).  Each corpus vector crosses the
    Arrow boundary exactly once per group, and only the group-local top-k
    per query survives, so the downstream global window sees
    O(groups x queries x k) rows.

    Determinism: scores are bit-identical to the HOF ``cosine``;
    group-local top-k orders by (-sim, id) — the same total order as the
    final ranking window — so the global top-k is a subset of the union
    of group-local top-ks and the result is a pure function of the data.
    """
    cells = SCORE_CELLS

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # NULL embeddings never score, like NaN ones (see _rank)
        left = left[left["__vec"].notna()]
        right = right[right["__qvec"].notna()]
        if len(left) == 0 or len(right) == 0:
            # dtype-agnostic empty frame: Arrow casts empty object columns
            # to the declared schema types, so non-long ids work too
            return pd.DataFrame({"__qid": [], "__id": [],
                                 "__sim": pd.array([], dtype="float64")})
        ids = left["__id"].to_numpy()
        qids = right["__qid"].to_numpy()
        r, c, sims = _topk(_matrix(right["__qvec"]), _matrix(left["__vec"]),
                           ids, k, cells, qids if exclude_self else None)
        return pd.DataFrame({"__qid": qids[r], "__id": ids[c], "__sim": sims})

    return (
        corpus_pairs.groupBy("__g")
        .cogroup(query_pairs.groupBy("__g"))
        .applyInPandas(score, f"__qid {qid_type}, __id {id_type}, __sim double")
    )


def _final_topk(scored: DataFrame, k: int, id_col: str,
                query_id_col: str) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id", n_blocks: int = 8) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    ``queries``: (query_id, embedding), small by construction.  The corpus
    is hash-blocked (``xxhash64(id) mod n_blocks``), queries replicate to
    every block in-plan (explode — no driver collect), and ONE cogrouped
    ``applyInPandas`` scores each block against all queries with the
    deterministic left-fold cosine, keeping the block-local top-k.  The
    final window ranks ``n_blocks * k`` rows per query.  Ties break by
    corpus id; self-matches excluded when ids collide.

    Scale shape: one 1x-data hash exchange of the corpus + one Arrow
    crossing per corpus row (the round-1 crossJoin form pushed every
    (row x query) pair through Arrow separately); per-task memory is one
    block's matrix; n_blocks ~ cluster task count at scale.
    """
    id_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cp = corpus.select(
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
        .cast("int").alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
    )
    qp = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__g"),
        F.col(query_id_col).alias("__qid"),
        F.col(vec_col).alias("__qvec"),
    )
    scored = _grouped_topk_scores(cp, qp, k, True, id_t, qid_t).select(
        F.col("__qid").alias(query_id_col),
        F.col("__id").alias(id_col),
        F.col("__sim").alias("cosine_sim"),
    )
    return _final_topk(scored, k, id_col, query_id_col)


def mutual_knn_pairs(corpus: DataFrame, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Mutual k-nearest-neighbor pairs: (a, b) kept iff b is in a's exact
    cosine top-k AND a is in b's — the reciprocity filter semantic-dedup
    and cross-lingual mining pipelines use to kill hub vectors (a point
    "near everything" appears in many top-k lists but reciprocates few,
    so one-directional neighbors are mostly noise; Artetxe & Schwenk's
    margin-based mining builds on the same reciprocity idea).

    One :func:`cosine_topk` pass with the corpus as its own query set
    (blocked cogrouped Arrow scoring — the same scale shape as the ANN
    baseline), then a self-equi-join of the k·N top-k rows on the
    directed pair key and an ``id_a < id_b`` cut so each mutual pair
    emits once.  cosine(a,b) == cosine(b,a) bitwise (same left-fold dot,
    commutative norm product), so keeping the a->b score is exact.

    Exact-by-contract means quadratic compute by nature — fine as the
    measured baseline on a bounded universe; the 100 TB serving shape is
    :func:`mutual_knn_from_index`, the same reciprocity join over the
    persisted IVF lists.

    Returns ``(id_a, id_b, cosine_sim, rank_ab, rank_ba)``.
    """
    qs = corpus.select(F.col(id_col).alias("__qid"),
                       F.col(vec_col).alias(vec_col))
    topk = cosine_topk(corpus, qs, k=k, id_col=id_col, vec_col=vec_col,
                       query_id_col="__qid")
    return _reciprocal_pairs(topk, id_col)


def _reciprocal_pairs(topk: DataFrame, id_col: str) -> DataFrame:
    """The reciprocity half of mutual k-NN: self-equi-join the directed
    ``(__qid, id, cosine_sim, rank)`` top-k list on the reversed pair key,
    keep each mutual pair once (``id_a < id_b``).  The k·N list is
    materialized ONCE (localCheckpoint) — it feeds both join sides, and
    without the cut each side would recompute the full top-k scan."""
    topk = materialize_once(topk)
    fwd = topk.select(
        F.col("__qid").alias("id_a"), F.col(id_col).alias("id_b"),
        F.col("cosine_sim"), F.col("rank").alias("rank_ab"),
    )
    rev = topk.select(
        F.col(id_col).alias("__ra"), F.col("__qid").alias("__rb"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        fwd.join(rev, (F.col("id_a") == F.col("__ra"))
                 & (F.col("id_b") == F.col("__rb")))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine_sim", "rank_ab", "rank_ba")
    )


def mutual_knn_from_index(spark, table_prefix: str, queries: DataFrame,
                          k: int = 10, n_probe: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """ANN-backed mutual k-NN: the reciprocity filter of
    :func:`mutual_knn_pairs` served from the PERSISTED IVF index
    (:func:`build_ivf_index_tables`) instead of the exact all-pairs
    scan — the shape that survives 100 TB, where N² cosine folds do not.

    ``queries`` supplies the query set (typically the same rows the
    index was built on: the corpus probing itself); each side's top-k
    comes from :func:`ivf_topk_from_index` (probe ``n_probe`` of
    ``n_lists`` inverted lists, exact re-score within probed lists), so
    per-query cost is ``~n_probe/n_lists`` of the corpus, not all of it.
    A pair survives only when BOTH directions land in the probed top-k —
    reciprocity on top of ANN recall, so the result is a SUBSET of the
    exact mutual pairs whenever the probe misses a true neighbor
    (recall-vs-exact is pytest-measured; scores of surviving pairs are
    bit-identical to the exact form since the re-score is the same
    left-fold cosine).

    Returns ``(id_a, id_b, cosine_sim, rank_ab, rank_ba)``.
    """
    qs = queries.select(F.col(id_col).alias("__qid"),
                        F.col(vec_col).alias(vec_col))
    topk = ivf_topk_from_index(spark, table_prefix, qs, k=k,
                               n_probe=n_probe, id_col=id_col,
                               vec_col=vec_col, query_id_col="__qid")
    return _reciprocal_pairs(topk, id_col)


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label",
                       query_id_col: str = "query_id",
                       n_blocks: int = 8) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector, the
    exact top-k most-similar corpus vectors with a DIFFERENT label — the
    "confusable" negatives a contrastive loss learns most from.

    Shape: the label constraint moves INTO the grouping key.  The corpus
    blocks on (hash(id) mod n_blocks, label); each query replicates to every
    (block, label != its own) cell by exploding a LITERAL array of the
    distinct labels (labels are a small dimension — classes, sources,
    shards — collected once, sorted for plan determinism; the in-plan
    alternative, an inequality join against the label dim, is a
    BroadcastNestedLoopJoin with a multi-row build side, which the
    registry-wide plan guard forbids) plus an in-plan block explode.
    ``_grouped_topk_scores`` then runs unchanged:
    one Arrow crossing per corpus row, group-local top-k, and the final
    window ranks O(n_blocks x labels x k) rows per query.  Crucially the
    label filter applies BEFORE the group-local top-k cut (filtering after
    would lose negatives ranked past k among same-label rows).

    queries: (query_id, vec, label).  Exact, deterministic, linear-scan
    like ``cosine_topk`` — the verification baseline an ANN-backed miner
    would be checked against at scale.

    NOTE: building the plan EAGERLY collects the distinct label vocabulary
    (a Spark job fires at call time, and the labels are baked into the
    plan as literals — a corpus mutated between plan-build and execution
    keeps the stale vocabulary).  The collect is bounded BY CODE, not by
    assumption: more than ``max_labels`` distinct labels raises instead of
    pulling an unbounded vocabulary onto the driver — at that cardinality
    "label" is not a class dimension and this exact miner is the wrong
    tool (use an ANN-backed miner with a post-filter).
    """
    id_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    # bounded collect (label vocabulary, same class as the IVF centroid
    # collect) — limit(max_labels+1) caps the transfer BEFORE it reaches
    # the driver; NULL labels never satisfy `!=` so they are dropped here,
    # exactly as the former join condition dropped them
    max_labels = 10_000
    rows = (corpus.select(F.col(label_col).alias("__l")).distinct()
            .limit(max_labels + 1).collect())
    if len(rows) > max_labels:
        raise ValueError(
            f"hard_negative_topk: >{max_labels} distinct values in "
            f"{label_col!r} — not a class-like label dimension; refusing "
            "to inline the vocabulary into the plan")
    label_vals = sorted(r["__l"] for r in rows if r["__l"] is not None)
    cp = corpus.select(
        F.concat_ws(
            "|",
            F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                   F.lit(n_blocks)).cast("int"),
            F.col(label_col).cast("string"),
        ).alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
    )
    label_arr = (F.array(*[F.lit(v) for v in label_vals]) if label_vals
                 else F.array().cast("array<string>"))  # no labels -> no qp
    qp = (
        queries
        .withColumn("__l", F.explode(label_arr))
        .filter(F.col(label_col).cast("string") != F.col("__l").cast("string"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__b"),
            F.col("__l"),
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
        )
        .select(
            F.concat_ws("|", F.col("__b"), F.col("__l").cast("string"))
            .alias("__g"),
            "__qid", "__qvec",
        )
    )
    # label differs => never a self-match; exclude_self stays off
    scored = _grouped_topk_scores(cp, qp, k, False, id_t, qid_t).select(
        F.col("__qid").alias(query_id_col),
        F.col("__id").alias(id_col),
        F.col("__sim").alias("cosine_sim"),
    )
    return _final_topk(scored, k, id_col, query_id_col)


def neardup_pairs(corpus: DataFrame, threshold: float,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  blas_candidates: bool = True) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup dedup).

    Two-phase, deterministic:

    1. **Candidate generation** (``blas_candidates=True``): a fully
       distributed block-grid GEMM (``_blas_candidate_pairs``) — both sides
       are hash-blocked, each grid cell multiplies two block matrices with
       BLAS inside ``applyInPandas``, and a guard band of 1e-6 below the
       threshold absorbs BLAS's non-reproducible summation order: any pair
       whose true cosine is within 1e-6 of the threshold is always emitted
       as a candidate and decided by phase 2.  No driver collect, no
       whole-corpus broadcast — per-task memory is one block pair.
    2. **Exact verification**: IN THE SAME TASK, each grid cell re-scores
       its own candidates with the deterministic left-fold cosine
       (``_cosine``) — bit-identical to the HOF ``cosine`` expression, so
       oracle-checkable.  Fusing verify into the cell removes the round-2
       shape (two joins back to the vectors + a per-pair pandas_udf
       stage): the whole operator is one explode, one shuffle, one
       ``applyInPandas``.

    This is ~100x the throughput of evaluating the cosine expression on the
    full half-matrix, and the grid shape is the same at 10k or 10B vectors —
    only ``n_blocks`` grows (B ~ sqrt(cluster tasks)).
    """
    if not blas_candidates:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    cosine(F.col("va"), F.col("vb")).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )

    return _blas_candidate_pairs(
        corpus, threshold - 1e-6, id_col, vec_col
    ).filter(F.col("cosine_sim") >= threshold)


def _blas_candidate_pairs(corpus: DataFrame, guard_threshold: float,
                          id_col: str, vec_col: str,
                          n_blocks: int = 8) -> DataFrame:
    """Distributed block-grid GEMM candidate pairs (id_a < id_b), each with
    its EXACT deterministic cosine (BLAS finds candidates, the left-fold
    re-score inside the same task decides them).

    Both sides are blocked — NOTHING is collected to the driver:

    1. every row gets a deterministic block id ``p = xxhash64(id) mod B``;
    2. a row in block ``p`` is replicated to grid cell ``(p, j)`` for every
       ``j >= p`` as the LEFT operand and to ``(i, p)`` for every ``i < p``
       as the RIGHT operand (one ``explode`` — B output rows per input row);
    3. ``groupBy(cell).applyInPandas`` multiplies the two block matrices
       with BLAS; diagonal cells self-multiply and keep ``id_a < id_b``,
       off-diagonal cells orient each pair by min/max id, so every unordered
       pair lands in exactly one cell exactly once.

    Scale accounting: replication factor is B, per-task memory is
    ``2 * (N/B) * dim * 8`` bytes, and the B*(B+1)/2 cells are independent
    tasks — choose B so a block fits executor memory (B ~ sqrt(tasks) for a
    square grid).  BLAS summation order is not bit-reproducible, hence the
    guard band below the real threshold; exact membership is decided by the
    deterministic verify phase.
    """
    b = n_blocks
    base = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(b))
        .cast("int")
        .alias("__blk"),
    )
    seq = F.sequence(F.lit(0), F.lit(b - 1))
    as_left = F.transform(
        F.filter(seq, lambda j: j >= F.col("__blk")),
        lambda j: F.struct(
            (F.col("__blk") * b + j).alias("cell"), F.lit(True).alias("is_left")
        ),
    )
    as_right = F.transform(
        F.filter(seq, lambda i: i < F.col("__blk")),
        lambda i: F.struct(
            (i * b + F.col("__blk")).alias("cell"), F.lit(False).alias("is_left")
        ),
    )
    exploded = base.select(
        "__id", "__vec", F.explode(F.concat(as_left, as_right)).alias("__c")
    ).select(
        "__id",
        "__vec",
        F.col("__c.cell").alias("__cell"),
        F.col("__c.is_left").alias("__left"),
    )

    def gemm(key, pdf):
        empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                              "id_b": pd.array([], dtype="int64"),
                              "cosine_sim": pd.array([], dtype="float64")})
        i, j = divmod(int(key[0]), b)
        left = pdf[pdf["__left"]]
        right = left if i == j else pdf[~pdf["__left"]]
        if len(left) == 0 or len(right) == 0:
            return empty
        ids_l = left["__id"].to_numpy()
        ids_r = right["__id"].to_numpy()
        raw_l = _matrix(left["__vec"])
        ml = raw_l / np.maximum(
            np.linalg.norm(raw_l, axis=1, keepdims=True), 1e-300
        )
        if i == j:
            raw_r, mr = raw_l, ml
        else:
            raw_r = _matrix(right["__vec"])
            mr = raw_r / np.maximum(
                np.linalg.norm(raw_r, axis=1, keepdims=True), 1e-300
            )
        sims = ml @ mr.T
        ia, ja = np.nonzero(sims >= guard_threshold)
        id_a, id_b = ids_l[ia], ids_r[ja]
        if i == j:
            keep = id_a < id_b
            ia, ja = ia[keep], ja[keep]
            id_a, id_b = id_a[keep], id_b[keep]
        # exact verify, fused: re-score only the candidates with the
        # left-fold cosine.  dot and the norm product are commutative, so
        # the min/max orientation below does not change a single bit.
        exact = _cosine(raw_l[ia], raw_r[ja])
        if i != j:
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": exact})

    return exploded.groupBy("__cell").applyInPandas(
        gemm, "id_a long, id_b long, cosine_sim double"
    )


def md5_sign_matrix(n_rows: int, dim: int, salt: str,
                    plus_on_odd: bool) -> list[list[int]]:
    """±1 matrix from md5 first-hex-digit parity — reproducible
    everywhere, no RNG.  ``plus_on_odd`` selects the parity convention:
    the LSH planes predate :func:`rademacher_project` and map EVEN
    digits to +1, the projection maps ODD digits to +1 (matching the
    SQL oracles' odd-hex-digit IN-list); both call here so the two
    conventions live in one place instead of two near-identical
    generators drifting apart."""
    want = 1 if plus_on_odd else 0
    return [
        [1 if int(hashlib.md5(f"{salt}:{p}:{d}".encode())
                  .hexdigest()[0], 16) % 2 == want else -1
         for d in range(dim)]
        for p in range(n_rows)
    ]


def deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplanes derived from md5 — reproducible everywhere, no RNG."""
    return [[float(s) for s in row]
            for row in md5_sign_matrix(n_planes, dim, "plane",
                                       plus_on_odd=False)]


def _bucket_col(vec_col: str, n_planes: int, dim: int) -> Column:
    """The n-bit sign-pattern bucket as a column expression, so callers
    project it inline instead of joining back a derived (id, bucket) table
    (a needless self-join of the corpus).

    Arrow-batched: each plane's projection is :func:`_fold_dot` of the
    vector and the plane — ``dot``'s left fold, vectorized across rows
    and planes — and bit ``p`` is ``projection >= 0``.
    """
    pl = np.asarray(deterministic_planes(n_planes, dim), dtype=np.float64)

    @pandas_udf("string")
    def _b(sv: pd.Series) -> pd.Series:
        mask = sv.notna().to_numpy()
        out = np.full(len(sv), None, dtype=object)
        if mask.any():
            signs = _fold_dot(pl, _matrix(sv[mask])[:, None, :]) >= 0
            out[mask] = ["".join(row) for row in np.where(signs, "1", "0")]
        return pd.Series(out)

    return _b(F.col(vec_col))


def hyperplane_lsh_buckets(corpus: DataFrame, n_planes: int = 8,
                           dim: int = 64, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """(id, bucket) where bucket is the n-bit sign pattern of the vector
    against the deterministic hyperplanes."""
    return corpus.select(
        F.col(id_col), _bucket_col(vec_col, n_planes, dim).alias("bucket")
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 8, dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id") -> DataFrame:
    """ANN top-k: exact cosine ranking restricted to the query's LSH bucket.
    Recall < 1.0 by construction; raise n_planes for smaller buckets or
    multi-probe for higher recall."""
    id_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    # bucket = candidate group: ONE cogrouped scorer per bucket (each corpus
    # vector crosses Arrow once), not one pandas_udf evaluation per pair.
    # The bucket projects INLINE on each side (no (id, bucket) self-join).
    # The bucket is the natural LSH shuffle key — same geometry as the
    # MinHash band join in dedup.py; hot buckets mean the planes are too
    # few, the fix is n_planes, not the join shape.
    qp = queries.select(
        _bucket_col(vec_col, n_planes, dim).alias("__g"),
        F.col(query_id_col).alias("__qid"),
        F.col(vec_col).alias("__qvec"),
    )
    # prune the corpus to the buckets some query actually probes BEFORE the
    # shuffle (broadcast semi-join on the tiny probed-bucket set): corpus
    # rows in unprobed buckets can never contribute, and at scale this is
    # the difference between shuffling the whole corpus and shuffling
    # n_query_buckets / 2^n_planes of it.
    cp = corpus.select(
        _bucket_col(vec_col, n_planes, dim).alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
    ).join(F.broadcast(qp.select("__g").distinct()), "__g", "left_semi")
    scored = _grouped_topk_scores(cp, qp, k, True, id_t, qid_t).select(
        F.col("__qid").alias(query_id_col),
        F.col("__id").alias(id_col),
        F.col("__sim").alias("cosine_sim"),
    )
    return _final_topk(scored, k, id_col, query_id_col)


LLOYD_SCALE = 10 ** 6


def ivf_params(n: int) -> tuple[int, int, int]:
    """Scaling-law defaults for :func:`ivf_topk` from corpus size ``n``:

    - ``n_lists``: the largest power of two <= sqrt(n) — sqrt(N) balances
      the per-list re-score cost (N / n_lists rows per probed list) against
      the probe-selection cost (n_lists centroid scores per query), the
      classic IVF operating point; the power-of-two floor keeps list
      counts stable under small corpus drift so repeated builds bucket
      identically.
    - ``n_probe = n_lists / 4``: probing 25% of the lists is the
      recall/cost knee on clustered data (recall property test below);
      raise toward n_lists for exact-equivalence, lower for latency.
    - ``sample_size = 32 * n_lists``: ~32 Lloyd sample points per centroid
      — enough for the integer-exact mean to move centroids into cluster
      mass, small enough that the driver-side refinement stays
      metadata-sized at any corpus scale.

    The sf0.01 embeddings corpus (N = 500) instantiates to (16, 4, 512) —
    exactly the constants ``q_embedding_ivf_topk`` bakes into its static
    SQL oracle.  Deriving defaults needs one COUNT job; pass explicit
    values when the corpus size is already known (any production index
    build does).
    """
    if n < 1:
        return 1, 1, 32
    root = math.isqrt(n)
    n_lists = 1
    while n_lists * 2 <= root:
        n_lists *= 2
    return n_lists, max(1, n_lists // 4), 32 * n_lists


def _lloyd_refine(corpus: DataFrame, cents: DataFrame, refine_iters: int,
                  sample_size: int, id_col: str, vec_col: str,
                  id_t: str) -> DataFrame:
    """Deterministic sampled Lloyd refinement of IVF centroids.

    Classic k-means floats are NOT oracle-able: the mean's float summation
    order differs between engines, flipping assignments on the last ulp.
    Here the update is exact: sample vectors quantize to integer micro
    units (``floor(x * 1e6 + 0.5)`` — the portable rounding of
    quantize_int8), per-dimension sums are exact integers, and the new
    centroid coordinate is ONE division ``sum / (n * 1e6)`` of identical
    integers — bit-identical doubles on any engine.  Assignment scores
    with the left-fold cosine and (sim desc, cid asc) ties; sample = the
    ``sample_size`` rows with the smallest ``md5('lloyd:' || id)``
    (decorrelated from the seed draw, a distributed TakeOrdered, no RNG).
    Empty clusters keep their previous centroid.  The whole index stays a
    pure function of the data, so the SQL oracle replays it CTE-for-CTE.

    Execution shape: the sample draw is the only distributed work (one
    TakeOrderedAndProject over the corpus).  ALL ``refine_iters``
    iterations then run driver-side on the collected sample — it is
    O(sample_size) rows by construction, i.e. metadata-sized, and the
    round-3 distributed form paid ~2 Spark jobs of pure fixed overhead
    per iteration for work a single numpy pass does in microseconds.
    Bit-identity with the oracle is preserved because every operation
    replays the distributed arithmetic exactly: the same left-fold cosine
    and (-sim, cid) ranking (:func:`_topk`), the same integer
    quantization, and the same single double division.

    Returns the refined centroids as LOCAL ``(cid, vec)`` tuples — they
    are metadata-sized and the caller needs them both as a DataFrame (for
    the in-plan assignment replication) and as numpy (for the map-side
    probe selection).
    """
    samp_plan = (
        corpus.orderBy(
            F.md5(F.concat(F.lit("lloyd:"), F.col(id_col).cast("string"))),
            F.col(id_col),
        )
        .limit(sample_size)
        .select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__svec"))
    )
    # ONE collect job for both TakeOrdered draws (union of two limits);
    # float->double widening of the sample is value-exact and matches the
    # x.cast("double") the quantization applied anyway
    both = (
        cents.select(F.lit(0).alias("__t"), F.col("__cid").alias("__id"),
                     F.col("__cvec").alias("__v"))
        .unionByName(samp_plan.select(
            F.lit(1).alias("__t"), F.col("__sid").alias("__id"),
            F.transform(F.col("__svec"), lambda x: x.cast("double"))
            .alias("__v"),
        ))
        .collect()
    )
    cent_rows = [{"__cid": r["__id"], "__cvec": r["__v"]}
                 for r in both if r["__t"] == 0]
    samp_rows = [{"__sid": r["__id"], "__svec": r["__v"]}
                 for r in both if r["__t"] == 1]
    cids_list = [r["__cid"] for r in cent_rows]
    cvecs = {r["__cid"]: np.asarray(r["__cvec"], dtype=np.float64)
             for r in cent_rows}
    samp_rows = [r for r in samp_rows if r["__svec"] is not None]
    if samp_rows and cent_rows:
        sm = _matrix([r["__svec"] for r in samp_rows])
        # integer micro-units; exact in int64 (|u| <= 1e6 * max|x| << 2^53)
        su = np.floor(sm * float(LLOYD_SCALE) + 0.5).astype(np.int64)
        cids = np.array(cids_list, dtype=object)
        for _ in range(refine_iters):
            cm = np.stack([cvecs[c] for c in cids_list])
            # top-1 centroid per sample; a zero-norm sample ranks none
            # (NaN drop) and is not assigned
            si, ci, _ = _topk(sm, cm, cids, 1, SCORE_CELLS)
            wins = cids[ci]
            for c in dict.fromkeys(wins):
                won = si[wins == c]
                # sum/(n*1e6): ONE double division of exact integers —
                # identical to the SQL oracle's decimal->double cast
                cvecs[c] = (su[won].sum(axis=0)
                            / float(len(won) * LLOYD_SCALE))
    return [(c, [float(x) for x in cvecs[c]]) for c in cids_list]


def _ivf_index(corpus: DataFrame, n_lists: int, refine_iters: int,
               sample_size: int, id_col: str, vec_col: str):
    """Build the IVF coarse-quantizer index: deterministic centroid draw
    (+ optional sampled-Lloyd refinement) and the inverted-list
    assignment of every corpus vector.

    Returns ``(cent_local, assign)``: the centroids as LOCAL (cid, vec)
    tuples — metadata-sized by construction, n_lists ~ sqrt(N) — and the
    assignment DataFrame ``(__id, __list, __vec)``.  Because the
    centroid set is already driver-local, assignment is a NARROW
    ``mapInPandas`` over the corpus with the centroid matrix captured in
    the task closure: zero exchanges, each corpus vector crosses Arrow
    once, and the vector rides THROUGH the stage (same bytes that just
    crossed Arrow inward) so downstream consumers never join back to the
    corpus.  If n_lists ever outgrows closure shipping — ~10^6
    centroids — a cogrouped block form is the fallback.

    Shared by ``ivf_topk`` (probe + re-score) and
    ``semantic_dedup_pairs`` (within-list pair scan); both replay
    identically in SQL, so the index is oracle-checkable CTE-for-CTE.
    """
    id_t = corpus.schema[id_col].dataType.simpleString()
    # deterministic centroid draw; orderBy+limit plans as a distributed
    # TakeOrderedAndProject (never a single-partition global window).
    # array<double> from the start so refined (double) and fallback
    # (widened float) centroids share one type; widening is value-exact.
    cents = (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_lists)
        .select(
            F.col(id_col).alias("__cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
            .alias("__cvec"),
        )
    )
    if refine_iters > 0:
        cent_local = _lloyd_refine(
            corpus, cents, refine_iters, sample_size, id_col, vec_col, id_t
        )
    else:
        cent_local = [(r["__cid"], r["__cvec"]) for r in cents.collect()]

    corpus_rows = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    if cent_local:
        acm = _matrix([v for _, v in cent_local])
        acids = np.array([c for c, _ in cent_local], dtype=object)
        smallest = np.argsort(acids, kind="stable")[0]
    cells = SCORE_CELLS

    def assign_fn(it):
        # a batch with nothing to emit yields NOTHING (not an empty frame:
        # pyspark's serializer pd.concat's the yielded batches, and mixing
        # empty/all-NA frames in trips a pandas FutureWarning per task)
        for left in it:
            left = left[left["__vec"].notna()]  # NULL vectors join no list
            if len(left) == 0:
                continue
            vecs = left["__vec"].to_numpy()
            # the top-1 centroid by (-sim, cid), tracked as an INDEX into
            # acids (see _rank).  A zero-norm vector ranks no centroid and
            # keeps the SMALLEST cid, so it still lands in a REAL
            # inverted list instead of a fabricated id.
            best = np.full(len(left), smallest)
            rows, pos, _ = _topk(_matrix(vecs), acm, acids, 1, cells)
            best[rows] = pos
            yield pd.DataFrame({"__id": left["__id"].to_numpy(),
                                "__list": acids[best], "__vec": vecs})

    vec_t = corpus.schema[vec_col].dataType.simpleString()
    if cent_local:
        assign = corpus_rows.mapInPandas(
            assign_fn, f"__id {id_t}, __list {id_t}, __vec {vec_t}"
        )
    else:
        assign = corpus.sparkSession.createDataFrame(
            [], f"__id {id_t}, __list {id_t}, __vec {vec_t}"
        )
    return cent_local, assign


def validate_tags_coverage(corpus: DataFrame, tags: DataFrame,
                           id_col: str = "vec_id") -> None:
    """Fail loudly if a persisted dup-tags table and the corpus disagree
    on the id set, in EITHER direction: the engine's inner joins would
    silently DROP corpus vectors missing from the tags, and EXTRA tag ids
    would expand rep pairs to ids absent from the corpus (phantom rows).
    ONE early-abort job (full-outer id join, ids only on the wire).

    Id coverage cannot detect a changed VECTOR under an unchanged id —
    content staleness is governed by the warehouse build discipline
    (rebuilds route through drop_table_and_location)."""
    bad = (
        corpus.select(F.col(id_col).alias("__id"), F.lit(1).alias("__c"))
        .join(
            tags.select(F.col(id_col).alias("__id"), F.lit(1).alias("__t")),
            "__id", "full_outer",
        )
        .filter(F.col("__c").isNull() | F.col("__t").isNull())
        .limit(1).count()
    )
    if bad:
        raise ValueError(
            "dup_tags and corpus disagree on the id set (stale tags "
            "table?) — rebuild it from the current embeddings"
        )


def semantic_dedup_pairs(corpus: DataFrame, threshold: float,
                         n_lists: int | None = None, refine_iters: int = 0,
                         sample_size: int | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dup_tags: DataFrame | None = None,
                         dup_tags_checked: bool = False,
                         no_copies: bool | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding near-duplicate pairs found
    WITHIN k-means clusters only — the sub-quadratic scale path for
    semantic dedup, vs ``neardup_pairs``'s exact all-pairs block grid.

    Each corpus vector is assigned to its nearest IVF centroid
    (``_ivf_index`` — the same deterministic index as ``ivf_topk``), then
    one Arrow task per inverted list scores the list's half-matrix with
    the deterministic left-fold cosine and keeps pairs at or above
    ``threshold``.  Cost is sum of per-cluster |c|^2 instead of N^2; with
    n_lists ~ sqrt(N) and balanced clusters that is ~N^1.5 candidate
    work partitioned into embarrassingly parallel tasks, and recall
    covers exactly the pairs that co-cluster (the SemDeDup bet: true
    near-dups share a centroid).  A skewed mega-cluster bounds a task at
    |c|^2 — at scale, raise n_lists (finer clusters) rather than
    splitting a list across tasks, which would miss its cross-block
    pairs.

    Deterministic end-to-end (hash-seeded draw, integer-exact Lloyd,
    left-fold cosine), so the SQL oracle replays index + pair scan
    exactly.  Returns ``(id_a, id_b, cosine_sim)`` with ``id_a < id_b``;
    NULL vectors join no list, zero-norm vectors score NaN and drop.

    **Multiplicity collapse**: a real corpus carries exact-duplicate
    embeddings (verbatim document copies), and a cluster of c copies
    inflates the half-matrix by c^2 while every one of those pairs has
    the SAME similarity.  After list assignment (computed over the FULL
    corpus, so the index is unchanged), each list's scoring input
    collapses to its distinct vectors — the half-matrix is paid per
    distinct pair of contents — and member expansion joins fan the rep
    pairs (plus each duplicate group's self-similarity) back out to the
    id-level output, which is byte-identical to the uncollapsed form
    (the 10x scale smoke, whose replicas are exact copies, drops from
    quadratic to linear in the copy depth; output expansion is
    output-sized, irreducible).

    ``dup_tags`` — an optional persisted (id, __rep, __mult) table (rep =
    min id per identical vector) — replaces the per-query array groupBy
    with two cheap id-keyed joins: the build-once form of the collapse.
    Identical vectors always share a list (assignment is a pure function
    of the vector), so global tags and per-list grouping agree exactly.
    Tags are id-coverage-validated against the corpus in both directions
    (:func:`validate_tags_coverage`) unless ``dup_tags_checked`` asserts
    the caller already ran that check this session (the tables are
    immutable once built, so once per session suffices).  Without
    ``dup_tags``, a cheap hash-count guard skips the collapse machinery
    entirely when the corpus has no verbatim copies.
    """
    if n_lists is None or sample_size is None:
        d_lists, _, d_sample = ivf_params(corpus.count())
        n_lists = d_lists if n_lists is None else n_lists
        sample_size = d_sample if sample_size is None else sample_size
    id_t = corpus.schema[id_col].dataType.simpleString()
    _, assign = _ivf_index(
        corpus, n_lists, refine_iters, sample_size, id_col, vec_col
    )

    if dup_tags is not None:
        tags = dup_tags.select(
            F.col(id_col).alias("__id"), F.col("__rep"), F.col("__mult")
        )
        if not dup_tags_checked:
            validate_tags_coverage(corpus, dup_tags, id_col)
        reps = (
            assign.join(tags, "__id")
            .filter(F.col("__id") == F.col("__rep"))
            .select("__list", "__vec", "__id", "__mult")
        )
        memb = tags.select(F.col("__rep"), F.col("__id").alias("__member"))
    # `no_copies` lets a caller who already knows (e.g. from a persisted
    # tags table's __mult column, memoized per session) skip the guard
    # job; the guard runs on the corpus, not `assign` — the lazy
    # assignment would replay its Arrow pass, and dups in the corpus <=>
    # dups in the assignment (list membership is a pure function of the
    # vector)
    elif (not no_copies if no_copies is not None
          else has_verbatim_copies(corpus.select(F.col(vec_col)), vec_col)):
        # distinct contents per list; rep id = min member id.  Spark
        # group/join keys normalize NaN and -0.0, which only merges
        # vectors whose cosine chains are value-identical anyway.
        reps = assign.groupBy("__list", "__vec").agg(
            F.min("__id").alias("__id"),
            F.count(F.lit(1)).alias("__mult"),
        )
        memb = assign.join(
            reps.select("__list", "__vec", F.col("__id").alias("__rep")),
            ["__list", "__vec"],
        ).select(F.col("__rep"), F.col("__id").alias("__member"))
    else:
        # no verbatim copies: rep-tagging and member expansion are
        # identity maps — skip the array-keyed window AND the expansion
        # joins (the "no-dup collapse tax")
        reps = assign.select("__list", "__vec", "__id",
                             F.lit(1).cast("long").alias("__mult"))
        memb = None

    cells = SCORE_CELLS

    def pair_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [],
                              "cosine_sim": pd.array([], dtype="float64")})
        if len(pdf) == 0:
            return empty
        pdf = pdf.sort_values("__id", kind="mergesort")
        ids = pdf["__id"].to_numpy()
        dup = pdf["__mult"].to_numpy() > 1
        ma = _matrix(pdf["__vec"])
        frames = []
        # row i against the j > i tail: the fold dot is dimension-ordered
        # and multiplication commutes, so sims[i, j] is bit-identical to
        # the oracle's cos(e_a, e_b) whichever side is the "query".  A
        # duplicate group also keeps its (rep, rep) marker row, which
        # carries the group's self-similarity (cos(v, v), NOT assumed 1.0:
        # sqrt(s)*sqrt(s) may round away from s) for expansion into its
        # member pairs.  NaN (zero-norm) compares False.
        for lo, sims in _cosine_rows(ma, ma, cells):
            i = np.arange(lo, lo + len(sims))[:, None]
            j = np.arange(len(ids))
            r, c = np.nonzero(((j > i) | ((j == i) & dup[i]))
                              & (sims >= threshold))
            if len(r):
                frames.append(pd.DataFrame({"id_a": ids[lo + r],
                                            "id_b": ids[c],
                                            "cosine_sim": sims[r, c]}))
        return pd.concat(frames) if frames else empty

    rep_pairs = reps.groupBy("__list").applyInPandas(
        pair_fn, f"id_a {id_t}, id_b {id_t}, cosine_sim double"
    )
    if memb is None:  # no duplicate groups: rep pairs ARE the id pairs
        return rep_pairs
    return expand_member_pairs(rep_pairs, memb, ["cosine_sim"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_lists: int | None = None, n_probe: int | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", refine_iters: int = 0,
             sample_size: int | None = None) -> DataFrame:
    """IVF-flat ANN: coarse quantizer -> inverted lists -> probe -> exact
    re-score.  The third leg of the ANN family (brute-force `cosine_topk`,
    hash-bucketed `lsh_topk`, cluster-bucketed `ivf_topk`).

    Initial centroids are the ``n_lists`` corpus vectors with the smallest
    ``md5(id)`` — a deterministic seed draw; ``refine_iters`` rounds of
    sampled Lloyd (``_lloyd_refine``, integer-exact mean update) then pull
    them toward the data's actual cluster structure, which is what makes
    probing recover the true neighbors (recall@k test in
    tests/test_extensions.py beats the raw seed draw).  The whole index is
    a pure function of the data and admits an exact SQL oracle.

    Scale shape: the centroid set is metadata-sized (n_lists ~ sqrt(N))
    and lives on the driver.  Lloyd refinement runs driver-side on the
    collected ``sample_size`` sample (``_lloyd_refine``); inverted-list
    assignment is a narrow ``mapInPandas`` over the corpus with the
    centroids in the task closure (``_ivf_index``); probe selection is
    a narrow ``mapInPandas`` over the queries (``_ivf_probe``); only the
    exact re-score is a cogrouped Arrow scorer, one group per probed
    inverted list, over the ``n_probe / n_lists`` of the corpus each
    query probes.  Each corpus vector crosses the Arrow boundary once per
    stage — never once per (pair, stage) — and every stage scores with
    the same kernel (:func:`_topk`).
    """
    id_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()

    # scaling-law defaults (ivf_params) when the caller didn't size the
    # index; the COUNT job this costs is why production callers pass
    # explicit values
    if n_lists is None or n_probe is None or sample_size is None:
        d_lists, d_probe, d_sample = ivf_params(corpus.count())
        n_lists = d_lists if n_lists is None else n_lists
        n_probe = d_probe if n_probe is None else n_probe
        sample_size = d_sample if sample_size is None else sample_size

    cent_local, assign = _ivf_index(
        corpus, n_lists, refine_iters, sample_size, id_col, vec_col
    )
    return _ivf_probe(cent_local, assign, queries, k, n_probe,
                      id_t, qid_t, id_col, vec_col, query_id_col)


def _ivf_probe(cent_local, assign: DataFrame, queries: DataFrame, k: int,
               n_probe: int, id_t: str, qid_t: str, id_col: str,
               vec_col: str, query_id_col: str) -> DataFrame:
    """The probe half of IVF: select top-``n_probe`` centroids per query
    map-side, prune unprobed inverted lists pre-shuffle, exact re-score
    per probed list.  Split out so the index (``cent_local`` + the
    ``assign`` list table) can come from :func:`_ivf_index` (fresh build)
    or from persisted warehouse tables (:func:`ivf_topk_from_index`) —
    identical results either way, since the index is a pure function of
    the corpus."""
    qs = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    # probe selection: top-n_probe centroids per query, computed MAP-SIDE
    # against the local centroid set (closure-captured numpy — n_lists
    # rows, metadata-sized at any corpus scale): a narrow mapInPandas over
    # the queries, no shuffle, no extra job.  Same semantics as the
    # grouped scorer (NULL query vectors drop, _topk's NaN drop and
    # (sim desc, cid asc) order) with no self-exclusion: a query id
    # colliding with a centroid id is a valid probe.
    if cent_local:
        cm = _matrix([v for _, v in cent_local])
        cids_arr = np.array([c for c, _ in cent_local], dtype=object)
        cells = SCORE_CELLS

        def probe_fn(it):
            for pdf in it:
                pdf = pdf[pdf["__qvec"].notna()]
                if len(pdf) == 0:
                    continue  # yield nothing — see assign_fn's note
                qvecs = pdf["__qvec"].to_numpy()
                rows, pos, _ = _topk(_matrix(qvecs), cm, cids_arr, n_probe,
                                     cells)
                if len(rows) == 0:
                    continue
                yield pd.DataFrame({
                    "__qid": pdf["__qid"].to_numpy()[rows],
                    "__list": cids_arr[pos],
                    "__qvec": pd.Series(qvecs[rows], dtype=object),
                })

        # the query VECTOR rides through probe selection (same trick as
        # the assignment stage), so the re-score below never joins back to
        # the queries; probes feed two consumers (the pruning semi-join +
        # the re-score query side) and are O(queries x n_probe) rows, so
        # one materialization serves both instead of re-running the query
        # scan + probe scoring per consumer.
        qvec_t = queries.schema[vec_col].dataType.simpleString()
        probes = materialize_once(qs.mapInPandas(
            probe_fn, f"__qid {qid_t}, __list {id_t}, __qvec {qvec_t}"
        ))
    else:
        probes = queries.sparkSession.createDataFrame(
            [], f"__qid {qid_t}, __list {id_t}, __qvec array<double>"
        )

    # exact re-score: candidate group = inverted list; each probed list
    # cogroups with the queries probing it, scored in one pass.  Unprobed
    # lists are pruned before the shuffle (broadcast semi-join against the
    # tiny probed-list set) — the IVF speedup IS this pruning.
    cp = assign.select(
        F.col("__list").alias("__g"), "__id", "__vec"
    ).join(
        F.broadcast(probes.select(F.col("__list").alias("__g")).distinct()),
        "__g", "left_semi",
    )
    qp = probes.select(F.col("__list").alias("__g"), "__qid", "__qvec")
    scored = _grouped_topk_scores(cp, qp, k, True, id_t, qid_t).select(
        F.col("__qid").alias(query_id_col),
        F.col("__id").alias(id_col),
        F.col("__sim").alias("cosine_sim"),
    )
    return _final_topk(scored, k, id_col, query_id_col)


def quantize_int8(corpus: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, pos, q, scale) rows.

    ``scale = max|v| / 127`` per vector; ``q = floor(v/scale + 0.5)`` — the
    rounding is spelled out as explicit floor arithmetic instead of
    ``round()`` because engines disagree on tie behavior (HALF_UP vs
    half-away-from-zero vs banker's); ``floor(x + 0.5)`` is the same
    bit-for-bit everywhere.  4x memory cut for ANN serving; the exploded
    (id, pos, q) layout is the hash-checkable form (array columns don't
    compare portably), and ``q * scale`` reconstructs to within scale/2.
    Zero vectors get the 1e-30 floor so q is 0, never NaN.
    """
    maxabs = F.array_max(F.transform(F.col(vec_col),
                                     lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)
    return corpus.select(
        F.col(id_col), scale.alias("scale"),
        F.posexplode(F.col(vec_col)).alias("pos", "__v"),
    ).select(
        id_col,
        "pos",
        F.floor(F.col("__v").cast("double") / F.col("scale") + F.lit(0.5))
        .cast("int")
        .alias("q"),
        "scale",
    )


COV_SCALE = 1_000_000  # micro-units per quantized embedding coordinate


def embedding_covariance(corpus: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Exact second-moment / covariance matrix of the embedding corpus —
    the whitening / PCA-prep / feature-drift statistic: one row per
    dimension pair (upper triangle, ``dim_j >= dim_i``) with the exact
    integer-unit sufficient statistics and the population covariance.

    Exactness: each coordinate quantizes to integer micro-units
    (``floor(x * 1e6 + 0.5)`` — the repo's portable rounding), the
    per-pair products are exact ``long * long`` (|u| ~ 1e7 -> products
    ~ 1e14, far inside int64), and the sums are exact decimal(38,0) /
    HUGEINT.  ``cov`` is then ONE fixed chain of double ops on identical
    integers — ``(s_ij/n - (s_i/n)*(s_j/n)) / 1e12`` — bit-equal on any
    engine while the int->double casts stay below 2^53 (n * 1e14 <<
    2^53 * 1e12; document-scale corpora are fine, planet-scale callers
    lower COV_SCALE).

    Execution shape: the dense kernel is the block-GEMM pattern
    (`neardup_pairs` precedent) — an Arrow ``mapInPandas`` stage computes
    each batch's exact int64 ``X^T X`` upper triangle (one vectorized
    integer matmul per chunk; chunk size is derived from the batch's
    max |u| so no int64 product-sum can overflow) and emits d(d+1)/2
    PARTIAL rows per chunk; the aggregate is then partial+final over
    d^2/2 groups (~2k for d=64), i.e. ONE exchange whose width is group
    count x chunk count, never corpus size, and no per-row d^2
    expansion ever exists (a generator/explode form measured ~8x slower
    at 10x volume).  Integer sums are associative, so the result is
    independent of partitioning and chunking.

    Domain contract, enforced loudly: vectors containing a NULL element
    are dropped up front (mirrored in the SQL oracle — same as the
    whole-NULL rule); a non-finite element or a coordinate with
    |u| >= 2^31 (|x| >= ~2147, where even a single product could exceed
    int64) raises instead of wrapping; and the final decimal->long casts
    are overflow-guarded so a planet-scale sum raises on both engines
    (DuckDB's HUGEINT->BIGINT cast hard-errors on its own) instead of
    silently NULLing under non-ANSI Spark.
    """
    no_null_elem = ~F.exists(F.col(vec_col), lambda x: x.isNull())
    src = corpus.filter(F.col(vec_col).isNotNull() & no_null_elem).select(
        F.col(vec_col).alias("__v"))

    def _partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["__v"]])
            if not np.isfinite(m).all():
                raise ValueError(
                    "embedding_covariance: non-finite embedding element "
                    "(NaN/Inf would floor to undefined int64)")
            q = np.floor(m * float(COV_SCALE) + 0.5)
            # guard on the FLOAT side: a huge coordinate (|x| >~ 9.2e12)
            # would wrap during the float->int64 cast (typically to
            # INT64_MIN, whose np.abs stays negative), letting a
            # post-cast check pass while the sums go silently wrong
            fmax = float(np.abs(q).max())
            if fmax >= 2 ** 31:
                raise ValueError(
                    f"embedding_covariance: |u| = {fmax:.0f} >= 2^31 — a "
                    "single int64 product could overflow; lower COV_SCALE "
                    "or rescale the embeddings")
            u = q.astype(np.int64)
            n, d = u.shape
            iu, ju = np.triu_indices(d)
            maxu = int(np.abs(u).max()) or 1
            # per-chunk product sums stay under 2^62: chunk * maxu^2 bound
            chunk = max(1, (2 ** 62) // (maxu * maxu))
            for s in range(0, n, chunk):
                uc = u[s:s + chunk]
                g = uc.T @ uc          # exact int64 Gram block
                si = uc.sum(axis=0)    # exact: chunk * maxu <= 2^62/maxu
                yield pd.DataFrame({
                    "dim_i": iu.astype("int32"),
                    "dim_j": ju.astype("int32"),
                    "n_vecs": np.full(len(iu), len(uc), dtype=np.int64),
                    "s_i": si[iu],
                    "s_j": si[ju],
                    "s_ij": g[iu, ju],
                })

    part = src.mapInPandas(
        _partials,
        "dim_i int, dim_j int, n_vecs long, s_i long, s_j long, s_ij long",
    )
    dec = "decimal(38,0)"
    agg = part.groupBy("dim_i", "dim_j").agg(
        F.sum("n_vecs").alias("n_vecs"),
        F.sum(F.col("s_i").cast(dec)).alias("__si"),
        F.sum(F.col("s_j").cast(dec)).alias("__sj"),
        F.sum(F.col("s_ij").cast(dec)).alias("__sij"),
    )
    n_d = F.col("n_vecs").cast("double")
    cov = (
        (F.col("__sij").cast("double") / n_d)
        - (F.col("__si").cast("double") / n_d)
        * (F.col("__sj").cast("double") / n_d)
    ) / F.lit(float(COV_SCALE) * float(COV_SCALE))

    lmax = F.lit("9223372036854775807").cast("decimal(38,0)")

    def _long_guard(c: Column, name: str) -> Column:
        # decimal -> long silently NULLs on overflow under non-ANSI
        # Spark while DuckDB's HUGEINT -> BIGINT cast hard-errors; make
        # both engines fail LOUDLY and identically
        return F.when(
            F.abs(c) > lmax,
            F.raise_error(F.lit(
                f"embedding_covariance: {name} exceeds int64 — lower "
                "COV_SCALE for this corpus scale")),
        ).otherwise(c.cast("long")).alias(name)

    return agg.select(
        "dim_i", "dim_j", "n_vecs",
        _long_guard(F.col("__si"), "s_i"),
        _long_guard(F.col("__sj"), "s_j"),
        _long_guard(F.col("__sij"), "s_ij"),
        cov.alias("cov"),
    )


def _sq_dist_to(vec: Column, center: list[float]) -> Column:
    """Squared L2 distance from ``vec`` (array<double>) to a literal
    center: the sequential left-fold sum of per-dimension squared
    differences — the same chain DuckDB's ``list_sum(list_transform(
    list_zip(v, c), ...))`` evaluates, so the double is bit-identical
    across engines (the property every argmax below depends on)."""
    lit = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def kcenter_select(corpus: DataFrame, k: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center / farthest-point traversal (Gonzalez 1985) — the
    diversity-based coreset selection a training-data pipeline runs to
    pick a maximally-spread exemplar set (data-selection / active-
    learning seeding; 2-approximation of the optimal k-center cover).

    Deterministic: the seed is the MIN id (no RNG); each round picks the
    point maximizing its squared-L2 distance to the nearest already-
    chosen center, ties broken by min id.  ``min_dist_sq`` is the
    coverage radius sequence (NULL for the seed): after round t every
    point lies within ``sqrt(min_dist_sq[t])`` of some center.

    Execution shape at 100 TB: the corpus is persisted once, then each of
    the k rounds is ONE distributed TakeOrderedAndProject (per-partition
    top-1, O(partitions) driver merge — no full sort, no collect of the
    corpus); driver state is the O(k x dim) chosen-center list, and the
    k-row result is metadata-sized.  Each row carries a running
    ``__dmin`` (distance to the nearest chosen center), updated each
    round against only the NEWEST center — O(k * dim) fold work per
    row-scan unit, where re-deriving min-over-t distances every round
    would cost O(k^2 * dim).  Round state is one lazy checkpoint per
    round (``materialize_once(storage="lazy")``): the same top-1 job
    that picks the next center materializes it — one job per round — and
    the next round's plan starts from that checkpoint leaf, so plan size
    stays constant at any k (an uncut chain of per-round filter+select
    pairs overflows the JVM stack past ~32 rounds).  Superseded rounds
    are freed by Spark's ``ContextCleaner`` once garbage-collected; a
    lost executor that held checkpoint blocks requires a restart.

    Exactness: float->double widening is value-exact, the distance fold
    is the sequential left fold (matches DuckDB ``list_sum``), the
    running min over doubles equals the min over all chosen centers (no
    NaN can arise from finite squares, and min is associative), and the
    (dist DESC, id ASC) total order makes every round's argmax — hence
    the whole trajectory — engine-portable bit-for-bit.
    NULL ids and NULL vectors AND vectors containing a NULL element are
    dropped up front (a NULL id would NULL-poison the ``!=`` exclusion —
    and seed first under Spark's NULLS-FIRST asc while an ANSI oracle
    seeds it last; a NULL element would NULL-poison the distance fold);
    each chosen id leaves the candidate frame, so duplicate vectors
    (distance 0 everywhere) can never re-select a center.  ``k < 1``
    selects nothing.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    no_null_elem = ~F.exists(F.col(vec_col), lambda x: x.isNull())
    pts = corpus.filter(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull() & no_null_elem
    ).select(
        F.col(id_col).alias("__id"), _to_double(F.col(vec_col)).alias("__v")
    )
    pts = pts.persist()
    try:
        seed = (pts.orderBy(F.asc("__id")).limit(1).collect()
                if k >= 1 else [])
        picked: list[tuple] = []
        if seed:
            row, row_d, cur = seed[0], None, pts
            while True:
                picked.append((len(picked) + 1, row["__id"], row_d))
                if len(picked) >= k:
                    break
                # fold only the NEWEST center into the running min
                d = _sq_dist_to(F.col("__v"), [float(x) for x in row["__v"]])
                if len(picked) > 1:
                    d = F.least(F.col("__dmin"), d)
                cur = materialize_once(
                    cur.filter(F.col("__id") != F.lit(row["__id"]))
                    .select("__id", "__v", d.alias("__dmin")),
                    storage="lazy")
                cand = (cur.orderBy(F.desc("__dmin"), F.asc("__id"))
                        .limit(1).collect())
                if not cand:
                    break
                row = cand[0]
                row_d = float(row["__dmin"])
    finally:
        pts.unpersist()
    schema = StructType([
        StructField("sel_rank", LongType(), False),
        StructField(id_col, corpus.schema[id_col].dataType, True),
        StructField("min_dist_sq", DoubleType(), True),
    ])
    return corpus.sparkSession.createDataFrame(picked, schema)


# --- persisted IVF index ---------------------------------------------------

#: index table suffix -> bucket keys (centroids: n_lists rows, unbucketed)
IVF_INDEX_TABLES = {"centroids": None, "lists": ["__list"]}


def _ivf_table_names(prefix: str) -> dict[str, str]:
    return {t: f"{prefix}_{t}" for t in IVF_INDEX_TABLES}


def build_ivf_index_tables(corpus: DataFrame, table_prefix: str,
                           n_lists: int, refine_iters: int = 0,
                           sample_size: int = 512,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           num_buckets: int = 8) -> dict[str, str]:
    """Persist the IVF index as warehouse tables — the FAISS-on-disk
    layout: ``<prefix>_centroids`` (cid, cvec — n_lists rows,
    metadata-sized) and ``<prefix>_lists`` (id, list, vec) BUCKETED on
    the list id, i.e. the corpus re-clustered so each inverted list is a
    bucket-local scan.  Build once per corpus (the Lloyd refinement and
    the full assignment pass are paid here); every probe after that reads
    only its probed lists' buckets and never touches the raw corpus.
    Same determinism as the in-flight index (:func:`_ivf_index`), so
    probe-from-table results are identical to the direct form."""
    from ..operators.layout import write_bucketed, write_unbucketed

    spark = corpus.sparkSession
    names = _ivf_table_names(table_prefix)
    id_t = corpus.schema[id_col].dataType.simpleString()
    # recorded for probe-side validation/audit: a probe only needs the
    # persisted centroids (scheme-independent), but n_lists bounds n_probe
    props = {"kind": "ivf_index", "n_lists": n_lists,
             "refine_iters": refine_iters, "sample_size": sample_size}
    cent_local, assign = _ivf_index(
        corpus, n_lists, refine_iters, sample_size, id_col, vec_col
    )
    write_unbucketed(
        spark.createDataFrame(
            [(c, list(v)) for c, v in cent_local],
            f"__cid {id_t}, __cvec array<double>",
        ),
        names["centroids"], props=props,
    )
    write_bucketed(assign, names["lists"], IVF_INDEX_TABLES["lists"],
                   num_buckets, props=props)
    return names


def ivf_topk_from_index(spark, table_prefix: str, queries: DataFrame,
                        k: int = 10, n_probe: int = 4,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        query_id_col: str = "query_id") -> DataFrame:
    """IVF ANN against the PERSISTED index of
    :func:`build_ivf_index_tables`: centroids load driver-local (n_lists
    rows — the same metadata-sized footprint the in-flight form carries
    in task closures), probes select lists map-side, and the re-score
    joins only the probed buckets of the lists table.  No corpus scan, no
    assignment pass, no Lloyd jobs — the per-query cost a serving path
    actually pays."""
    names = _ivf_table_names(table_prefix)
    cents = spark.table(names["centroids"])
    cent_local = [(r["__cid"], r["__cvec"])
                  for r in cents.orderBy("__cid").collect()]
    assign = spark.table(names["lists"])
    id_t = assign.schema["__id"].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    return _ivf_probe(cent_local, assign, queries, k, n_probe,
                      id_t, qid_t, id_col, vec_col, query_id_col)


def rademacher_project(corpus: DataFrame, out_dim: int = 8,
                       in_dim: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       salt: str = "jl") -> DataFrame:
    """Johnson-Lindenstrauss random projection with a Rademacher (+/-1)
    sign matrix (Achlioptas 2003, "Database-friendly random projections"):
    the dimensionality-reduction step that runs BEFORE LSH bucketing or
    coreset selection when the raw embedding width makes per-pair math
    the bottleneck — pairwise distances are preserved to (1 +/- eps)
    with out_dim = O(log n / eps^2), and a +/-1 matrix needs no float
    random generator, just sign bits.

    Determinism and exactness: the sign matrix is a pure function of
    ``(salt, j, i)`` via md5 first-hex-digit parity (same family as the
    SimHash planes), and embedding elements are quantized to integer
    micro-units up front, so every output cell is an exact integer sum —
    identical on any engine, under any shuffle order, and mirrored 1:1
    by the SQL oracle.  Rows with a NULL id/vector, a ragged length,
    NULL elements, a NaN coordinate (an explicit ``isnan`` clause — the
    magnitude comparison alone is not NaN-reliable and non-ANSI Spark
    would silently quantize a surviving NaN to 0 where ANSI/DuckDB
    error), or any coordinate with ``|x| >= 2^62/(1e6*in_dim)`` are
    dropped (guards mirrored in the oracle; same non-finite policy as
    ``embedding_covariance``).  The magnitude guard is
    ANSI-neutrality armor sized for the whole FOLD, not just the per-cell
    cast: ``in_dim`` micro-unit cells each bounded by ``bound*1e6`` keep
    ``|sum| <= 2^62`` (factor-2 margin under int64), so neither the cast
    nor the accumulated sum can wrap in unchecked mode / raise under
    ANSI — both session modes stay bit-identical.

    Plan shape: narrow scan -> per-row fold (zip_with + aggregate over
    the literal sign rows, whole-stage codegen) -> posexplode to long
    format.  NO shuffle, NO join, NO UDF — embarrassingly parallel at
    any scale; the sign matrix lives in the plan as literals
    (out_dim x in_dim ints, metadata-sized).

    Returns ``(id_col, j, proj_micro)``: output coordinate ``j`` in
    ``[0, out_dim)`` and the projection in micro-units (divide by 1e6
    and by sqrt(out_dim) for the JL-scaled float value; the scale factor
    is constant so it is left to the caller, keeping the contract
    integer-exact).
    """
    if out_dim < 1 or in_dim < 1:
        raise ValueError(
            f"out_dim and in_dim must be >= 1, got {out_dim}, {in_dim}")
    signs = md5_sign_matrix(out_dim, in_dim, salt, plus_on_odd=True)
    bound = float((1 << 62) // (1_000_000 * in_dim))
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long"),
    )
    projs = F.array(*[
        F.aggregate(
            F.zip_with(
                F.col("__q"),
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for j in range(out_dim)
    ])
    return (
        corpus.filter(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & (F.size(vec_col) == in_dim)
            & ~F.exists(vec_col, lambda x: x.isNull())
            & ~F.exists(vec_col, lambda x: F.isnan(x.cast("double")))
            & ~F.exists(vec_col,
                        lambda x: F.abs(x.cast("double")) >= F.lit(bound))
        )
        .withColumn("__q", quant)
        .select(F.col(id_col), F.posexplode(projs).alias("j", "proj_micro"))
    )


def inv_log2_micro(k: int) -> list[int]:
    """``round(1e6 / log2(p + 1))`` for positions ``p = 1..k`` — the DCG
    position discounts as exact integer micro-units.  Computed once,
    driver-side, and embedded as literals in BOTH the Spark plan and the
    SQL oracle, so ranking metrics never evaluate ``log2`` inside either
    engine (libm differs by 1 ulp between JVM and other runtimes on a few
    percent of inputs; a shared integer table cannot)."""
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return [int(math.floor(1e6 / math.log2(p + 1) + 0.5))
            for p in range(1, k + 1)]


def cum_idcg_micro(k: int) -> list[int]:
    """Ideal-DCG lookup in micro-units: entry ``n-1`` (1-based ``n``) is
    the DCG of the perfect ranking when ``n`` relevant items exist —
    ``sum_{p=1..min(n,k)} (k + 1 - p) * inv_log2_micro(k)[p]`` with the
    linear gain scale ``gain(rank r) = k + 1 - r``.  Integer, shared with
    the SQL oracle like :func:`inv_log2_micro`."""
    inv = inv_log2_micro(k)
    out, run = [], 0
    for p in range(1, k + 1):
        run += (k + 1 - p) * inv[p - 1]
        out.append(run)
    return out


def ranking_metrics(exact: DataFrame, approx: DataFrame, k: int = 10,
                    query_id_col: str = "query_id",
                    id_col: str = "vec_id",
                    rank_col: str = "rank") -> DataFrame:
    """Per-query ranking-quality scorecard of an approximate retrieval
    run against the exact ground truth: recall@k, MRR@k, and nDCG@k
    (Jarvelin & Kekalainen, TOIS 2002) in one pass — the eval table a
    serving stack publishes before an ANN index replaces an exact scan
    (recall alone hides WHERE in the ranking the misses live; nDCG
    weights the head, MRR the first hit).

    Both inputs carry ``(query_id_col, id_col, rank_col)`` with
    ``rank_col`` a dense 1-based position (ties already broken — both
    this module's exact and IVF top-k emit exactly that).  Relevance is
    graded from the exact side: an approx item at exact rank ``r`` gains
    ``k + 1 - r``; items outside the exact top-k gain 0.  All DCG terms
    are integer products (gain times the shared micro-unit discount
    table — see :func:`inv_log2_micro`), so the per-query sums are exact
    under any shuffle order and an SQL oracle can replay them
    bit-for-bit; the only floats are three final divisions.

    One small join of two k-by-n_queries tables plus one aggregate —
    nothing here touches the corpus, so cost scales with the query set,
    not the data.  The join is FULL OUTER so the ``exact`` subtree is
    referenced exactly once: the split rel/ex_agg form planned the
    ground-truth side twice, and when ``exact`` is a brute-force
    :func:`cosine_topk` that duplicated the entire corpus-scoring scan
    in-plan (r14 plan audit: two FlatMapCoGroupsInPandas subtrees over
    the embeddings scan; one after this rewrite).  Per-query
    ``n_exact`` counts the exact rows of the joined frame, hits/DCG the
    both-sides rows, and approx-only queries (no exact row anywhere —
    impossible when both sides share the query set, but kept exact) are
    dropped just as the old ex_agg-driven output did.  Queries with no
    approx hits score 0 (``first_hit_rank`` reported as 0, not NULL).

    ``(query_id_col, id_col)`` must be unique on the approx side: the
    join matches each approx copy of a pair to its exact row, so a
    repeated pair would count its hit and DCG term twice.

    Returns one row per exact-side query: ``(query_id, n_exact, n_hits,
    recall_at_k, first_hit_rank, mrr_at_k, dcg_micro, idcg_micro,
    ndcg_at_k)``.
    """
    disc = F.array(*[F.lit(v) for v in inv_log2_micro(k)])
    icum = F.array(*[F.lit(v) for v in cum_idcg_micro(k)])
    rel = (
        approx.filter(F.col(rank_col) <= k)
        .select(query_id_col, id_col,
                F.col(rank_col).cast("int").alias("__arank"))
        .join(
            exact.filter(F.col(rank_col) <= k)
            .select(query_id_col, id_col,
                    F.col(rank_col).cast("int").alias("__erank")),
            [query_id_col, id_col], "full_outer",
        )
    )
    hit = F.col("__erank").isNotNull() & F.col("__arank").isNotNull()
    agg = rel.groupBy(query_id_col).agg(
        F.sum(F.when(F.col("__erank").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_exact"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("__hits"),
        F.sum(
            F.when(hit, (F.lit(k + 1) - F.col("__erank")).cast("long")
                   * F.element_at(disc, F.col("__arank")))
            .otherwise(F.lit(0).cast("long"))
        ).cast("long").alias("__dcg"),
        F.min(F.when(hit, F.col("__arank"))).alias("__first"),
    )
    # __hits/__dcg sum otherwise(0) terms over non-empty groups, so never
    # NULL; __first is NULL for a query without a hit
    n_hits = F.col("__hits")
    dcg = F.col("__dcg")
    first = F.coalesce(F.col("__first"), F.lit(0)).cast("long")
    idcg = F.element_at(icum, F.least(F.col("n_exact"), F.lit(k))
                        .cast("int")).cast("long")
    return (
        agg.filter(F.col("n_exact") > 0)
        .select(
            query_id_col,
            "n_exact",
            n_hits.alias("n_hits"),
            (n_hits.cast("double") / F.col("n_exact").cast("double"))
            .alias("recall_at_k"),
            first.alias("first_hit_rank"),
            F.when(first > 0, F.lit(1.0) / first.cast("double"))
            .otherwise(F.lit(0.0)).alias("mrr_at_k"),
            dcg.alias("dcg_micro"),
            idcg.alias("idcg_micro"),
            (dcg.cast("double") / idcg.cast("double")).alias("ndcg_at_k"),
        )
    )
