"""Small-file compaction for parquet table paths.

The silent killer of a long-lived 100 TB lake: every incremental merge,
streaming micro-batch, and backfill writes a few files, and a year later a
"table" is ten million 2 MB parquet files.  Scans then pay per-file open +
footer-parse + task-schedule overhead that dwarfs the I/O, and the
NameNode/object-store listing itself becomes the bottleneck.

``compact_parquet`` is the ONE maintenance primitive (an earlier duplicate
in ``operators/layout.py`` was folded in here — each copy had a safety
property the other lacked):

- sizes come from the filesystem via Hadoop's ``FileSystem`` API (works on
  file://, hdfs://, s3a:// alike), never from counting rows;
- the default rewrite is ``coalesce(n)`` — narrowing to fewer files needs
  NO shuffle (adjacent input partitions are merged in place), the right
  cost model for a maintenance job that touches every byte anyway; pass
  ``shuffle=True`` for ``repartition(n)`` round-robin when uniform file
  sizes matter more than the shuffle, or ``sort_cols`` for
  ``repartitionByRange`` to cluster the data while compacting
  (range-clustered files give min/max footer statistics real pruning
  power — compaction is the natural moment to impose sort order);
- already-compact paths are SKIPPED (``rewritten=False``) unless
  ``sort_cols`` asks for clustering — idempotent and cheap to call from a
  scheduled maintenance job;
- a hive-partitioned layout (``key=value`` directories) is compacted PER
  LEAF PARTITION, preserving the physical layout and with it partition
  pruning — reading the root would fold the partition dirs into data
  columns and a root-level rewrite would flatten them.  Pass
  ``per_partition=False`` to refuse instead (maintenance jobs that want
  to target partitions explicitly);
- the swap is rename-aside, never delete-then-rename: the table path holds
  data at every instant; a crash mid-swap leaves either the old data live
  or both dirs present, and recovery is a rename — not a restore from
  backup.  (Atomic on HDFS-like filesystems, NOT on S3; an object-store
  deployment should point readers at a manifest/table format and treat
  this as the rewrite step only.  On Delta/Iceberg use the transactional
  ``OPTIMIZE`` instead.)

Returns ``{files_before, files_after, total_bytes, rewritten,
partitions_compacted}`` so pipelines can log/alert on compaction ratios.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


# in-flight compaction dirs are HIDDEN (leading "."): Spark's file index
# skips dot/underscore basenames, so a concurrent reader of the table root
# never sees a half-written rewrite or a renamed-aside old partition as an
# extra hive partition.  The suffixes still tag them for explicit skipping
# (pre-fix visible leftovers) and for operator forensics after a crash.
_TMP_SUFFIX = "__compact_tmp"
_OLD_SUFFIX = "__compact_old"


def _aside_name(path: str, suffix: str) -> str:
    """Hidden sibling for the rewrite/renamed-old dir: ``parent/.base<sfx>``.
    A leading dot (not just the suffix) is what guarantees Spark readers
    and this module's own listings skip it mid-flight.  A bare relative
    path with no separator (``compact_parquet(spark, "mytable")``) gets a
    parentless hidden sibling in the working directory."""
    p = path.rstrip("/")
    parent, sep, base = p.rpartition("/")
    if not base:  # path was all slashes, e.g. "/" — nothing to compact
        raise ValueError(f"cannot derive an aside name for path {path!r}")
    return f"{parent}{sep}.{base.lstrip('.')}{suffix}"


def _is_aside(name: str) -> bool:
    return name.endswith((_TMP_SUFFIX, _OLD_SUFFIX))


_MARKER_SUFFIX = "__COMPACTION_SWAP"


def _marker_path(spark: SparkSession, path: str):
    p = path.rstrip("/")
    parent, sep, base = p.rpartition("/")
    # "_" prefix: Spark file indexes skip it (like _SUCCESS) so a reader
    # of a table ROOT never chokes on it, but unlike the dot-hidden
    # asides it DOES show up in a plain ls.  Spark keeps "_" names that
    # contain "=" (as partition dirs), so a leaf's "=" becomes "-":
    # _part-1__COMPACTION_SWAP, never _part=1__COMPACTION_SWAP
    name = base.replace("=", "-")
    return _fs_and_path(spark, f"{parent}{sep}_{name}{_MARKER_SUFFIX}")[1]


def _swap_marker(fs, spark: SparkSession, path: str, tmp: str, old: str):
    """Create the visible swap-window marker file next to ``path`` and
    return its Hadoop Path.  Its content IS the recovery runbook, so an
    operator who finds it after a crash needs no source access."""
    p = path.rstrip("/")
    marker_path = _marker_path(spark, path)
    msg = (
        f"swap in progress for {p}\n"
        f"If this file outlived the job, the swap crashed mid-flight.\n"
        f"The next compact_parquet or merge_write_path call on {p}\n"
        f"restores the old copy itself.  By hand: if {p} is missing,\n"
        f"rename the hidden live copy back:\n"
        f"  {old} -> {p}   (pre-swap data), or if absent\n"
        f"  {tmp} -> {p}   (the completed rewrite)\n"
        f"If {p} exists, delete leftover hidden asides and this marker.\n"
    )
    out = fs.create(marker_path, True)
    try:
        out.write(bytearray(msg.encode("utf-8")))
    finally:
        out.close()
    return marker_path


def recover_swap(spark: SparkSession, path: str) -> None:
    """Undo a swap that crashed between its two renames: if ``path`` is
    missing and its old aside exists, rename the aside back (the table as
    it was before the swap) and drop the marker.  Otherwise a no-op.
    Callers run this before any other step, so a crashed swap can never
    be mistaken for a table that was never written."""
    fs, hpath = _fs_and_path(spark, path)
    if fs.exists(hpath):
        return
    _, old_path = _fs_and_path(spark, _aside_name(path, _OLD_SUFFIX))
    if fs.exists(old_path) and fs.rename(old_path, hpath):
        fs.delete(_marker_path(spark, path), False)


def write_swap(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Write ``df`` to a hidden aside and swap it in as the directory at
    ``path`` (which ``df`` may read: Spark cannot overwrite a path that
    feeds the running plan).

    The swap is rename-aside, never delete-then-rename: the table path
    must hold data at every instant.  path -> .path__old, tmp -> path,
    then drop the old dir; a crash mid-swap leaves either the old data
    live or both dirs present, and recovery is a rename
    (``recover_swap``) — not a restore from backup.  Both aside dirs are
    HIDDEN siblings: concurrent root readers skip dot-dirs, so neither
    the in-flight rewrite nor the renamed-aside old partition ever shows
    up as a duplicate hive partition, and a crashed run's leftovers are
    ignored by _leaf_partition_dirs/dir_stats instead of being compacted
    into place as real data."""
    tmp = _aside_name(path, _TMP_SUFFIX)
    df.write.mode("overwrite").parquet(tmp)
    old = _aside_name(path, _OLD_SUFFIX)
    fs, hpath = _fs_and_path(spark, path)
    _, tmp_path = _fs_and_path(spark, tmp)
    _, old_path = _fs_and_path(spark, old)
    if fs.exists(old_path):  # leftover from a crashed previous swap
        fs.delete(old_path, True)
    # a VISIBLE marker exists for exactly the swap window: the asides are
    # dot-hidden, so after a crash mid-swap a plain ls of the parent looks
    # empty — the marker (with recovery instructions inline) is what makes
    # the hidden live copy discoverable
    marker = _swap_marker(fs, spark, path, tmp, old)
    if not fs.rename(hpath, old_path):
        fs.delete(marker, False)
        raise IOError(f"rename {path} -> {old} failed; table untouched, "
                      f"new data is in {tmp}")
    if not fs.rename(tmp_path, hpath):
        fs.rename(old_path, hpath)  # roll back: restore the live table
        fs.delete(marker, False)
        raise IOError(f"rename {tmp} -> {path} failed; old data restored")
    fs.delete(old_path, True)
    fs.delete(marker, False)
    # the swap happened outside Spark's writers: drop the session's shared
    # file-listing cache entries or a same-session read would chase the
    # deleted part files
    spark.catalog.refreshByPath(path)
    spark.catalog.refreshByPath(tmp)


def migrate_compaction_asides(spark: SparkSession, path: str,
                              delete: bool = False) -> dict:
    """One-time migration for PRE-hidden-name compaction leftovers: find
    VISIBLE ``*__compact_tmp`` / ``*__compact_old`` dirs under ``path``
    (recursively — they can sit next to hive leaf partitions) and rename
    each to its dot-hidden sibling (``delete=True`` removes them
    instead).  Visible leftovers only predate the hidden-aside layout;
    once a lake has been swept by this helper the dual skip convention in
    ``dir_stats`` / ``_leaf_partition_dirs`` carries no live load.

    Never touches already-hidden asides or the live data.  Returns
    ``{renamed, deleted, paths}`` (``paths`` = the leftovers found, for
    the maintenance log).
    """
    fs, hpath = _fs_and_path(spark, path)
    found, renamed, deleted = [], 0, 0
    stack = [hpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue  # already hidden (or metadata) — not a leftover
            if st.isDirectory() and _is_aside(name):
                found.append(st.getPath().toString())
                if delete:
                    fs.delete(st.getPath(), True)
                    deleted += 1
                else:
                    parent = st.getPath().getParent()
                    hidden = spark._jvm.org.apache.hadoop.fs.Path(
                        parent, "." + name)
                    if fs.exists(hidden):  # hidden twin already there —
                        fs.delete(st.getPath(), True)  # visible is stale
                        deleted += 1
                    else:
                        fs.rename(st.getPath(), hidden)
                        renamed += 1
            elif st.isDirectory():
                stack.append(st.getPath())
    return {"renamed": renamed, "deleted": deleted, "paths": sorted(found)}


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path``: recursive, skipping
    hidden / _SUCCESS-style entries AND everything underneath them (a file
    with an innocent basename inside ``.x__compact_tmp/`` must not count
    — ``listFiles`` only exposes leaf names, so recurse manually), plus
    visible ``__compact_tmp``/``__compact_old`` leftovers from the
    pre-hidden-name layout."""
    fs, hpath = _fs_and_path(spark, path)
    n, total = 0, 0
    stack = [hpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith(("_", ".")) or _is_aside(name):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                n += 1
                total += st.getLen()
    return n, total


def _leaf_partition_dirs(spark: SparkSession, fs, hpath) -> list:
    """Leaf ``key=value`` partition directories under ``hpath`` (handles
    multi-level partitioning); empty list when the path is unpartitioned.
    Hidden dirs and ``__compact_tmp``/``__compact_old`` leftovers are NOT
    partitions — a crashed compaction's aside dir must never be adopted
    as a real leaf and compacted into place (silent row duplication).

    A leaf whose swap crashed between its renames is missing, with only
    its hidden old aside left: the same listing finds that aside and
    ``recover_swap`` renames it back, so a call on the table root
    restores every crashed leaf under it at no extra listing cost."""
    listing = fs.listStatus(hpath)
    names = {st.getPath().getName() for st in listing}
    parts = []
    for st in listing:
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        live = name[1:-len(_OLD_SUFFIX)]
        if (name.startswith(".") and name.endswith(_OLD_SUFFIX)
                and "=" in live and live not in names):
            leaf = st.getPath().getParent().toString() + "/" + live
            recover_swap(spark, leaf)
            parts.append(_fs_and_path(spark, leaf)[1])
        elif ("=" in name and not name.startswith(("_", "."))
              and not _is_aside(name)):
            parts.append(st.getPath())
    if not parts:
        return []
    leaves = []
    for p in parts:
        deeper = _leaf_partition_dirs(spark, fs, p)
        leaves.extend(deeper if deeper else [p])
    return leaves


def compact_parquet(spark: SparkSession, path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    sort_cols: list[str] | None = None,
                    shuffle: bool = False,
                    per_partition: bool = True) -> dict:
    """Rewrite the parquet files under ``path`` into ~``target_bytes``
    files (see module docstring for strategy/swap/partition semantics).

    Returns ``{files_before, files_after, total_bytes, rewritten,
    partitions_compacted}``; ``rewritten`` is False when the layout was
    already at or below the target file count (and no ``sort_cols``
    clustering was requested).

    Crash recovery: the aside dirs are dot-hidden, so after a crash
    mid-swap a plain ``ls`` of the parent can look empty even though the
    data is safe.  A marker file ``_<base>__COMPACTION_SWAP`` (visible to
    ls; skipped by Spark readers like ``_SUCCESS``; a leaf's ``=`` is
    written ``-``) exists in the parent for exactly the swap window,
    containing these same instructions, so the state is discoverable.
    The next call recovers by itself (``recover_swap``: a missing
    ``path`` gets its old aside back; a call on a partitioned root does
    the same for every crashed leaf under it).  By
    hand: if ``path`` is missing, the live copy is the hidden sibling —
    ``rename parent/.base__compact_old -> path`` (old data) or, if only
    ``parent/.base__compact_tmp`` exists, rename that instead (the
    completed rewrite).  If ``path`` exists, delete any leftover hidden
    asides and the marker; readers were never affected.
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    recover_swap(spark, path)
    fs, hpath = _fs_and_path(spark, path)
    leaves = _leaf_partition_dirs(spark, fs, hpath)
    if leaves:
        if not per_partition:
            raise ValueError(
                f"{path} is hive-partitioned ({leaves[0].getName()}/...) "
                "— a root-level rewrite would flatten the partition layout;"
                " compact per partition (per_partition=True) or target the"
                " partition directories individually")
        report = {"files_before": 0, "files_after": 0, "total_bytes": 0,
                  "rewritten": False, "partitions_compacted": 0}
        for leaf in leaves:
            sub = compact_parquet(spark, leaf.toString(),
                                  target_bytes=target_bytes,
                                  sort_cols=sort_cols, shuffle=shuffle)
            for k in ("files_before", "files_after", "total_bytes"):
                report[k] += sub[k]
            if sub["rewritten"]:
                report["rewritten"] = True
                report["partitions_compacted"] += 1
        # partition-column values live in the directory names, not the
        # files — same-session readers of the ROOT need a fresh listing
        spark.catalog.refreshByPath(path)
        return report

    before, total = dir_stats(spark, path)
    n_out = max(1, math.ceil(total / target_bytes))
    if before <= n_out and not sort_cols:
        return {"files_before": before, "files_after": before,
                "total_bytes": total, "rewritten": False,
                "partitions_compacted": 0}
    df: DataFrame = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif shuffle:
        out = df.repartition(n_out)
    else:
        out = df.coalesce(n_out)
    write_swap(spark, path, out)
    after, _ = dir_stats(spark, path)
    return {"files_before": before, "files_after": after,
            "total_bytes": total, "rewritten": True,
            "partitions_compacted": 0}
