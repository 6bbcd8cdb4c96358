"""Incremental merge strategies (reference S8/S9/S11 — dbt incremental
materializations and the conflict-ignore metadata insert).

In the reference these are three distinct dbt/SQL mechanisms:

- ``incremental`` merge on ``unique_key`` (bronze/gold models, e.g.
  ``dbt/nyc_taxi/models/bronze/bronze_yellow_tripdata.sql:1-5``)
- ``delete+insert`` on ``unique_trip_id``
  (``dbt/nyc_taxi/models/silver/silver_yellow_tripdata.sql:1-5``)
- ``INSERT ... ON CONFLICT DO NOTHING``
  (``dags/nyc_taxi_pipeline.py:122-126``)

In Spark all three collapse onto one primitive: **anti-join the target against
the delta on the key, then unionByName**.  Merge and delete+insert are the
same operation; conflict-ignore is the mirror image (anti-join the *delta*).

Scale notes (100 TB): the delta is normally a single month — small relative to
the target — so the anti-join broadcasts the delta's keys (AQE picks
broadcast-hash automatically when the key side fits; we hint it explicitly).
For a huge *partitioned* target, rewriting only affected partitions via
dynamic partition overwrite (``month_partition_overwrite``) avoids touching
the other 99% of the table entirely — that is the strategy that survives
1000x growth.  On Delta/Iceberg deployments ``MERGE INTO`` replaces the
read-modify-write; the logical semantics here are identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from .compaction import recover_swap, write_swap


def quoted_col(name: str) -> Column:
    """Exact-name column reference: backtick-quote so a column whose NAME
    contains dots is never misparsed as a nested-field path (embedded
    backticks escaped by doubling, per the SQL identifier rule)."""
    return F.col("`" + name.replace("`", "``") + "`")


def upsert_by_key(target: DataFrame, delta: DataFrame, keys: list[str],
                  order_col: str | None = None) -> DataFrame:
    """Rows of ``target`` not matched by ``delta`` on ``keys``, plus all of
    ``delta`` — the merge/delete+insert primitive (S8/S9).

    NULL-safe on the join keys (a NULL-keyed target row survives unless the
    delta also carries a NULL key), matching SQL ``DELETE WHERE key IN (...)``
    + insert semantics closely enough for the reference's non-null keys.

    ``order_col`` (a version / sequence / event-time column) switches the
    matched-key rule from "delta always wins" to a VERSION GATE: for each
    contested key the surviving row is the one with the highest
    ``order_col`` across BOTH sides (remaining payload columns break exact
    version ties, deterministically).  This is what makes the merge safe
    against out-of-order or stale re-delivery — reprocessing an older feed
    under a fresh checkpoint can no longer regress a key to a lower
    version.  Without ``order_col`` the delta unconditionally replaces the
    target row (classic dbt incremental-merge semantics).

    NULL-key delta rows take the SAME path in both modes: they are never
    contested (the joins use null-rejecting equality), so every NULL-key
    delta row passes through — the version gate routes them around its
    groupBy rather than letting NULLs-are-one-group semantics collapse
    them to a single survivor (pre-round-12 the two modes disagreed).

    The target and delta schemas must agree on column NAMES: a target
    written under an older model contract (e.g. the pre-round-6 gold
    column names) fails here with an explicit message — full-rebuild the
    mart — instead of an UNRESOLVED_COLUMN error deep in the plan.
    """
    missing = set(target.columns) - set(delta.columns)
    if missing:
        raise ValueError(
            f"upsert_by_key: delta lacks target columns {sorted(missing)} "
            "— the target was written under an older model contract; "
            "full-rebuild the mart (dbt --full-refresh semantics)"
        )
    # quoted_col everywhere a column list feeds select(): dotted names
    # must resolve as exact names, never nested paths (join(on=keys) and
    # unionByName are name-exact already)
    delta_keys = F.broadcast(
        delta.select(*[quoted_col(k).alias(k) for k in keys]).distinct())
    kept = target.join(delta_keys, on=keys, how="left_anti")
    incoming = delta.select(*[quoted_col(c).alias(c)
                              for c in target.columns])
    if order_col is not None:
        if order_col in set(keys) or order_col not in target.columns:
            raise ValueError(
                f"order_col {order_col!r} must be a non-key target column; "
                f"keys={keys}, target columns={target.columns}")
        payload = [c for c in target.columns if c not in set(keys)]
        lead = [order_col] + [c for c in payload if c != order_col]
        # NULL-key delta rows are never CONTESTED (the anti/semi joins use
        # null-rejecting equality, so they match no target row) — route
        # them AROUND the version gate, exactly like the ungated path,
        # instead of letting the groupBy's NULLs-are-one-group semantics
        # collapse them to a single survivor.  The two modes now agree on
        # NULL-key multiplicity: every NULL-key delta row passes through.
        null_key = None
        for k in keys:
            c = quoted_col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        null_rows = incoming.filter(null_key)
        gated = incoming.filter(~null_key)
        contested = target.join(delta_keys, on=keys, how="left_semi")
        incoming = (
            contested.unionByName(gated)
            .groupBy(*[quoted_col(k) for k in keys])
            .agg(F.max(F.struct(*[quoted_col(c).alias(c)
                                  for c in lead])).alias("__p"))
            .select(*[quoted_col(k) for k in keys],
                    *[F.col("__p").getField(c).alias(c) for c in payload])
            .select(*[quoted_col(c) for c in target.columns])
            .unionByName(null_rows)
        )
    return kept.unionByName(incoming)


# dbt calls the same thing "merge" for bronze/gold; keep an explicit alias so
# plans read like the reference's materialization configs.
merge_on_key = upsert_by_key


def append_if_absent(target: DataFrame, delta: DataFrame, keys: list[str],
                     broadcast_target_keys: bool = True) -> DataFrame:
    """``INSERT ... ON CONFLICT (key) DO NOTHING`` (S11): keep the target's
    version of conflicting keys, append only genuinely new delta rows.

    ``broadcast_target_keys=True`` broadcasts the TARGET's distinct key set —
    only safe when the target is known small (the reference's use case is the
    few-row pipeline ledger, ``dags/nyc_taxi_pipeline.py:122-126``).  For the
    general "append into a large table" case pass ``False``: the anti-join
    then shuffles both sides on the key (or AQE picks broadcast for whichever
    side turns out small), instead of OOMing executors with a huge broadcast.
    """
    target_keys = target.select(*[quoted_col(k).alias(k)
                                  for k in keys]).distinct()
    if broadcast_target_keys:
        target_keys = F.broadcast(target_keys)
    new_rows = delta.join(target_keys, on=keys, how="left_anti")
    return target.unionByName(
        new_rows.select(*[quoted_col(c).alias(c) for c in target.columns]))


def merge_write_path(spark, path: str, delta: DataFrame, keys: list[str],
                     order_col: str | None = None,
                     target: DataFrame | None = None) -> StructType:
    """Merge ``delta`` into the parquet table at ``path`` by key (S8/S9) with
    a write-aside-and-swap (``compaction.write_swap``), because Spark cannot
    overwrite a path that feeds the running plan.  First write (no target
    yet) is a plain write.  A swap that crashed between its renames is
    undone first (``compaction.recover_swap``), so a crash can never make
    the next call take the first-write branch and drop the earlier rows.
    ``target`` is the table at ``path`` as the caller already read it (with
    a known schema, a read runs no inference job); by default it is read
    here.  Returns the schema written: the merge moves the key columns to
    the front.

    Path-mode primitive for local/HDFS-like filesystems; on a real lakehouse
    this whole function is one Delta/Iceberg ``MERGE INTO`` (atomic, no
    rewrite of untouched files).  For month-partitioned tables where the
    delta always covers whole months, prefer dynamic partition overwrite
    (``month_partition_overwrite``) — it rewrites only affected partitions.
    """
    import os

    recover_swap(spark, path)
    if not os.path.isdir(path):
        delta.write.mode("overwrite").parquet(path)
        return delta.schema
    if target is None:
        target = spark.read.parquet(path)
    merged = upsert_by_key(
        target,
        delta.select(*[quoted_col(c).alias(c) for c in target.columns]),
        keys, order_col=order_col)
    write_swap(spark, path, merged)
    return merged.schema


def month_partition_overwrite(df: DataFrame, path: str, month_col: str = "month") -> None:
    """Idempotent month re-load (S10): with
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in session.py),
    overwriting writes replace only the partitions present in ``df`` — the
    Spark-native form of the reference's DELETE-month-then-COPY
    (``dags/nyc_taxi_pipeline.py:130-135``)."""
    df.write.mode("overwrite").partitionBy(month_col).parquet(path)


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str]) -> DataFrame:
    """Content diff between two snapshots of the same table — the
    data-versioning primitive behind backfill audits, CDC backstops, and
    "what did this pipeline run actually change" reports: every key is
    classified ``added`` / ``removed`` / ``changed``; unchanged rows
    (the overwhelming bulk at 100 TB) are dropped.

    Comparison is column-by-column NULL-SAFE EQUALITY over the shared
    non-key columns — no stringified row digests, so no cross-engine
    number-formatting hazards and NULL != '' conflations; the classifier
    is exact for every data type that supports ``<=>``.

    Plan shape: one full outer join keyed on ``key_cols`` (both sides
    churn-scale tables — a shuffle join on the key is the correct
    physical strategy; for a small delta snapshot AQE downgrades it to
    broadcast), then a row-local CASE + filter.  Output volume is the
    CHURN (added + removed + changed), never the table size.

    Contract: ``key_cols`` must uniquely identify rows in EACH snapshot
    (it is a keyed-table diff) — a duplicated key turns the outer join
    into its m x n pair expansion and the statuses stop meaning
    anything.  Dedup first (``distinct_on``) if the inputs are logs.

    Returns ``key_cols`` + ``status``.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    new_cols, keys = set(new.columns), set(key_cols)
    # the contract is two snapshots of the SAME table — an asymmetric
    # column would make rows differing only there report as unchanged,
    # a quiet failure mode for an audit primitive, so refuse loudly
    drift = set(old.columns) ^ new_cols
    if drift:
        raise ValueError(
            f"snapshot_diff: snapshots carry different column sets "
            f"(asymmetric: {sorted(drift)}) — the diff is only defined "
            "over a shared schema; align the snapshots first")
    shared = [c for c in old.columns if c in new_cols and c not in keys]
    # prefix the non-key payload per side so the join output is
    # collision-free regardless of the input column names
    o = old.select(*key_cols,
                   *[F.col(c).alias(f"__o_{c}") for c in shared],
                   F.lit(True).alias("__in_old"))
    n = new.select(*key_cols,
                   *[F.col(c).alias(f"__n_{c}") for c in shared],
                   F.lit(True).alias("__in_new"))
    joined = o.join(n, on=key_cols, how="full_outer")
    changed = F.lit(False)
    for c in shared:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        joined.select(*key_cols, status.alias("status"))
        .filter(F.col("status").isNotNull())
    )
