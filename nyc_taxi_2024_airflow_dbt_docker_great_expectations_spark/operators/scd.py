"""Slowly-changing-dimension type 2: dbt's snapshot feature, Spark-first.

The reference's dbt project declares ``snapshot-paths`` (dbt_project.yml:16)
but ships no snapshot models — the capability is part of the dbt surface a
migrating user expects.  dbt snapshots implement SCD2 with the ``check``
strategy: a row's tracked columns changing opens a new version with
``valid_from``/``valid_to`` bounds and closes the previous one.

Three forms:

- ``scd2_from_changelog`` — rebuild the full version history from an event
  log in one pass: gaps-and-islands (a new island whenever a tracked column
  differs from the previous row of the same key), then one aggregate per
  island and a ``lead`` to close intervals.  Two keyed window passes + one
  aggregate, all codegen'd; the only shuffle key is the dimension key, so
  the plan scales with ordinary key-partitioned windows (no global sort).
- ``scd2_apply`` — the incremental form dbt runs on a schedule: merge a
  batch of current-state rows into an existing SCD2 dimension, closing
  changed versions and appending new ones.  Expressed as a union of three
  branch-free cases (untouched rows pass through; changed current rows get
  ``valid_to`` stamped; new versions append), joined via a broadcast-able
  update batch — the same join geometry as operators/merge.py.
- ``scd2_close_absent`` — dbt's ``invalidate_hard_deletes``: given the
  source's full current key set, close the open version of every key that
  vanished from it (semi/anti split, idempotent).

Determinism: ``order_cols`` must totally order each key's changelog (ties
broken by explicit columns, never by arrival); every output value is then a
pure function of the input, which is what the SQL oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..execution import materialize_once


def _neq(a: Column, b: Column) -> Column:
    # null-safe "changed": NULL -> value, value -> NULL, and value -> value'
    return ~a.eqNullSafe(b)


def scd2_from_changelog(df: DataFrame, key_cols: list[str],
                        order_cols: list[str],
                        tracked_cols: list[str],
                        ts_col: str | None = None) -> DataFrame:
    """Collapse a changelog into SCD2 version rows.

    One output row per (key, island of consecutive identical tracked
    values): the tracked columns, ``valid_from`` (first order value of the
    island, or ``ts_col`` if given), ``valid_to`` (next island's
    ``valid_from``, NULL for the open version) and ``version`` (1-based per
    key).
    """
    ts = ts_col or order_cols[0]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | _neq(F.col(c), F.lag(c).over(w))
    # first row of a key: detected positionally (row_number == 1), never via
    # lag(order_col).isNull() — a NULL mid-stream in order_cols[0] would make
    # the row AFTER it look like a first row and fabricate an extra version.
    is_new = F.when(F.row_number().over(w) == 1, F.lit(True)).otherwise(changed)
    islands = df.withColumn(
        "__island", F.sum(is_new.cast("long")).over(w)
    )
    per_island = islands.groupBy(*key_cols, "__island").agg(
        F.min(F.col(ts)).alias("valid_from"),
        *[F.first(c).alias(c) for c in tracked_cols],
    )
    w2 = Window.partitionBy(*key_cols).orderBy("__island")
    return (
        per_island.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("version", F.col("__island").cast("int"))
        .drop("__island")
        .select(*key_cols, *tracked_cols, "valid_from", "valid_to", "version")
    )


def scd2_apply(dim: DataFrame, updates: DataFrame, key_cols: list[str],
               tracked_cols: list[str], ts_col: str,
               broadcast_updates: bool = True) -> DataFrame:
    """Merge a current-state batch into an SCD2 dimension.

    ``dim`` rows carry ``valid_from``/``valid_to`` (NULL = open); ``updates``
    carries one row per key with the new tracked values and ``ts_col`` as
    the effective time.  Open versions whose tracked values changed are
    closed at the update's timestamp and a new open version is appended;
    unchanged keys and closed history pass through untouched.  The update
    batch joins broadcast by default (it is the per-run delta — small by
    construction); pass ``broadcast_updates=False`` for backfill-sized
    batches.

    ``dim`` is consumed TWICE (pass-through join + new-key anti-join), so it
    is materialized once up front (``execution.materialize_once``).
    Materializing also truncates the input's lineage, which
    matters when chaining applies: the output union's branches advertise
    inconsistent partitionings (join-output PartitioningCollection vs
    window exchanges), and feeding that lineage straight back into another
    apply trips Spark's EnsureRequirements ("PartitioningCollection
    requires all of its partitionings have the same numPartitions" /
    zipped-partition mismatches).  In production the dim round-trips
    through a table between runs, which truncates lineage the same way.
    """
    dim = materialize_once(dim)
    u = updates.select(
        *key_cols, F.col(ts_col).alias("__u_ts"),
        *[F.col(c).alias(f"__u_{c}") for c in tracked_cols],
    )
    if broadcast_updates:
        u = F.broadcast(u)
    joined = dim.join(u, key_cols, "left")
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | _neq(F.col(c), F.col(f"__u_{c}"))
    is_open = F.col("valid_to").isNull()
    hit = F.col("__u_ts").isNotNull() & is_open & changed
    # existing rows: close the hit versions, keep everything else verbatim
    existing = joined.withColumn(
        "valid_to", F.when(hit, F.col("__u_ts")).otherwise(F.col("valid_to"))
    ).select(*dim.columns)
    # new open versions for keys whose open row was closed above
    opened = (
        joined.filter(hit)
        .select(
            *key_cols,
            *[F.col(f"__u_{c}").alias(c) for c in tracked_cols],
            F.col("__u_ts").alias("valid_from"),
            F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
            (F.col("version") + 1).alias("version"),
        )
        .select(*dim.columns)
    )
    # keys with no OPEN version: brand-new keys AND keys whose history is
    # fully closed (e.g. after a hard-delete close).  Anti-joining against
    # ALL dim keys here would silently drop updates for closed-history keys
    # (they are in dim, so not "fresh", but `hit` is false because no row
    # has valid_to NULL — the update would vanish).  Version numbering
    # continues from the key's max version so re-opened keys never reuse one.
    ver_t = dim.schema["version"].dataType
    open_keys = dim.filter(is_open).select(*key_cols).distinct()
    max_ver = dim.groupBy(*key_cols).agg(F.max("version").alias("__maxv"))
    fresh = (
        u.join(open_keys, key_cols, "left_anti")
        .join(max_ver, key_cols, "left")
        .select(
            *key_cols,
            *[F.col(f"__u_{c}").alias(c) for c in tracked_cols],
            F.col("__u_ts").alias("valid_from"),
            F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
            (F.coalesce(F.col("__maxv"), F.lit(0)) + 1).cast(ver_t).alias("version"),
        )
        .select(*dim.columns)
    )
    return existing.unionByName(opened).unionByName(fresh)


def scd2_close_absent(dim: DataFrame, snapshot_keys: DataFrame,
                      key_cols: list[str], ts_col_value,
                      broadcast_keys: bool = True) -> DataFrame:
    """Close open versions of keys ABSENT from a full snapshot — dbt's
    ``invalidate_hard_deletes`` flag: when the source hands you the full
    current key set, any dimension key missing from it was hard-deleted
    upstream, and its open version gets ``valid_to`` stamped.

    ``ts_col_value`` is the snapshot's effective-time Column/literal.
    ``snapshot_keys`` is the full current key set (small relative to the
    dim's history — broadcast by default; pass ``broadcast_keys=False``
    when the key set itself is huge and a shuffled left join is the
    right shape).  Closed history passes through untouched, so applying
    the same snapshot twice is a no-op (idempotent).  Pairs with
    ``scd2_apply``: apply the update batch first, then close the deletes
    from the same snapshot.

    Implementation: ONE left join against the distinct key set with a
    presence marker, not a semi/anti split — the split form references
    the dim subtree twice, and when the dim is itself a derived plan
    (the usual case: a freshly built SCD2 window stack) Spark executes
    that subtree twice.  The left join against distinct keys cannot
    duplicate rows, so the single pass is row-identical.
    """
    from pyspark.sql import functions as F2

    # marker name must not collide with any dim column (a caller's dim
    # could legitimately carry "__scd2_present")
    marker = "__scd2_present"
    while marker in dim.columns:
        marker += "_"
    keys = snapshot_keys.select(*key_cols).distinct().withColumn(
        marker, F2.lit(1))
    if broadcast_keys:
        keys = F2.broadcast(keys)
    joined = dim.join(keys, key_cols, "left")
    close_now = F2.col(marker).isNull() & F2.col("valid_to").isNull()
    return joined.withColumn(
        "valid_to",
        F2.when(close_now, F2.lit(ts_col_value).cast(
            dim.schema["valid_to"].dataType
        )).otherwise(F2.col("valid_to")),
    ).select(*dim.columns)  # USING join moves key cols first; restore dim order
