"""Shared execution primitives used across operators.

One canonical way to materialize a multi-consumer intermediate.  Two
distinct problems share this single fix:

1. **Multi-consumer recompute**: a DataFrame feeding k plan branches (e.g.
   the shingle base feeding postings + both verify sides, or an edge list
   feeding every label-propagation round) re-executes its whole lineage per
   consumer unless materialized.
2. **CollapseProject re-inlining**: Catalyst inlines a projected expression
   into every downstream column that references it, so k columns reading one
   expensive array each re-run the computation (measured 10x+ slowdowns).
   Projections do not collapse across a materialization boundary.

``localCheckpoint`` solves both at once: it truncates lineage (fence +
no-recompute) and caches the result MEMORY_AND_DISK, which spills what
does not fit in executor memory to local disk.

Iterative algorithms (star contraction in ``extensions/graph.py``, greedy
k-center in ``extensions/similarity.py``) use the same primitive: each
round is one ``materialize_once(frame, storage="lazy")``, so every
round's plan starts from a checkpoint leaf and its size stays constant
however many rounds run.  No round is unpersisted by hand: a superseded
round's checkpoint is freed by Spark's ``ContextCleaner`` once its
DataFrame is garbage-collected, like every other result here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_once(df: DataFrame, storage: str = "memory") -> DataFrame:
    """Compute ``df`` once; serve every downstream consumer from the result.

    ``storage="memory"``: eager ``localCheckpoint`` (MEMORY_AND_DISK cache,
    lineage truncated).  ``storage="lazy"``:
    ``localCheckpoint(eager=False)`` — the first ACTION over the result
    materializes the cache, so a caller whose very next statement is
    itself an action pays ONE job where the eager form pays two
    (materialize, then aggregate-from-cache).  The lazy callers:
    the prefix-sum offset collects in packing.py, and every round of the
    iterative loops (``connected_components``' convergence count,
    k-center's top-1 pick), where the cut lineage also keeps each round's
    plan the size of one round.  Only safe when the caller serializes its
    own first action before any fan-out — concurrent first consumers of a
    lazy checkpoint would race to compute it.

    Callers never unpersist the result: a superseded one (e.g. the
    previous round of an iterative loop) is freed by Spark's
    ``ContextCleaner`` once it is garbage-collected.
    """
    if storage == "lazy":
        return df.localCheckpoint(eager=False)
    if storage != "memory":
        raise ValueError(
            f"storage must be 'memory' or 'lazy', got {storage!r}")
    return df.localCheckpoint(eager=True)


def rep_tags(df, key_cols, id_col: str, with_mult: bool = True):
    """Tag every row with its duplicate-group representative (min
    ``id_col`` per identical ``key_cols`` value) and, optionally, the
    group size — the shared first step of every multiplicity-collapsed
    pair engine and persisted index in this repo: ONE window exchange on
    the group key yields the rep filter (``id == __rep``), the member
    expansion map (``__rep -> id``), and the copy count (``__mult``)
    that keeps document-frequency semantics copy-exact.

    ``key_cols`` is a column name, Column, or list of either (composite
    keys, e.g. a side tag + the content key).  Spark window keys
    normalize NaN and -0.0 like group keys do, which only merges values
    that are semantically identical for every downstream consumer.
    """
    from pyspark.sql import Window, functions as F

    keys = key_cols if isinstance(key_cols, (list, tuple)) else [key_cols]
    w = Window.partitionBy(*keys)
    cols = [F.min(id_col).over(w).alias("__rep")]
    if with_mult:
        cols.append(F.count(F.lit(1)).over(w).alias("__mult"))
    return df.select("*", *cols)


def expand_member_pairs(rep_pairs, members, value_cols,
                        rep_col: str = "__rep",
                        member_col: str = "__member"):
    """The shared tail of every multiplicity-collapsed pair engine: fan
    rep-level pair rows ``(id_a, id_b, *value_cols)`` back out to
    id-level through the rep -> member map.  Self markers
    (``id_a == id_b``) expand to each unordered member pair exactly
    once; cross pairs to the full bipartite product (member id sets are
    disjoint by construction).  Output is ``(id_a, id_b, *value_cols)``
    with ``id_a < id_b`` — byte-identical to running the uncollapsed
    engine.  Engines whose carried values depend on pair orientation
    (e.g. fuzzy matching's text columns) keep their bespoke tails."""
    from pyspark.sql import functions as F

    value_cols = list(value_cols)
    ma = members.select(F.col(rep_col).alias("id_a"),
                        F.col(member_col).alias("__ma"))
    mb = members.select(F.col(rep_col).alias("id_b"),
                        F.col(member_col).alias("__mb"))
    return (
        rep_pairs.join(ma, "id_a").join(mb, "id_b")
        .filter((F.col("id_a") != F.col("id_b"))
                | (F.col("__ma") < F.col("__mb")))
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            *value_cols,
        )
    )


def has_verbatim_copies(df, key_cols) -> bool:
    """Cheap pre-collapse guard: does ANY duplicate group exist under
    ``key_cols``?  On a corpus with no verbatim copies, :func:`rep_tags`'
    window and the member-expansion joins are identity maps — pure
    overhead (measured +17-44% on the pair engines) — so engines call
    this first and skip the collapse machinery when it returns False.

    ONE partially-aggregated pass comparing ``count`` to
    ``count_distinct`` of a 64-bit key hash: the shuffle carries
    map-side-deduped longs, far lighter than the window's full-row
    exchange on the content key.  A hash collision can only under-count
    distinct values — a false True that takes the (always-correct)
    collapse path; never a false False.
    """
    from pyspark.sql import functions as F

    keys = key_cols if isinstance(key_cols, (list, tuple)) else [key_cols]
    n, nd = df.agg(
        F.count(F.lit(1)), F.count_distinct(F.xxhash64(*keys))
    ).first()
    return n != nd

