"""Small-file compaction (operators/compaction.py) — the ONE maintenance
primitive (the earlier operators/layout.py duplicate was folded in)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.compaction import (
    _aside_name,
    compact_parquet,
    dir_stats,
)


def _fragmented_table(spark, path, n_files=40, rows_per_file=50):
    df = spark.range(n_files * rows_per_file).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # one file per partition: the classic drip-feed layout
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compact_merges_small_files_preserving_data(spark, tmp_warehouse):
    path = os.path.join(tmp_warehouse, "frag")
    df = _fragmented_table(spark, path)
    want = sorted(r["id"] for r in df.collect())

    n_before, total = dir_stats(spark, path)
    assert n_before == 40
    report = compact_parquet(spark, path, target_bytes=total)
    assert report["rewritten"] is True
    assert (report["files_before"], report["files_after"]) == (40, 1)
    assert report["total_bytes"] == total

    got = spark.read.parquet(path)
    assert sorted(r["id"] for r in got.collect()) == want

    # idempotent: already at/below the target file count -> no rewrite
    report2 = compact_parquet(spark, path, target_bytes=total)
    assert report2["rewritten"] is False
    assert report2["files_after"] == 1

    with pytest.raises(ValueError):
        compact_parquet(spark, path, target_bytes=0)


def test_compact_shuffle_mode_preserves_aggregates(spark, tmp_warehouse):
    path = os.path.join(tmp_warehouse, "frag_sh")
    spark.range(10_000).selectExpr("id", "id * 2 AS v") \
        .repartition(40).write.mode("overwrite").parquet(path)
    report = compact_parquet(spark, path, target_bytes=1 << 30, shuffle=True)
    assert report["rewritten"] is True
    assert report["files_before"] == 40 and report["files_after"] == 1
    agg = spark.read.parquet(path).selectExpr("sum(id) s", "sum(v) sv") \
        .collect()[0]
    assert agg["s"] == 49_995_000 and agg["sv"] == 99_990_000


def test_compact_with_sort_cols_range_clusters(spark, tmp_warehouse):
    path = os.path.join(tmp_warehouse, "frag2")
    _fragmented_table(spark, path)
    _, total = dir_stats(spark, path)
    # ask for ~4 files, clustered on id
    report = compact_parquet(
        spark, path, target_bytes=max(1, total // 4), sort_cols=["id"]
    )
    assert report["files_before"] == 40 and 2 <= report["files_after"] <= 8
    # range clustering: per-file id ranges must not overlap
    got = (
        spark.read.parquet(path)
        .select("id", F.input_file_name().alias("f"))
        .groupBy("f").agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for prev, cur in zip(got, got[1:]):
        assert prev["hi"] < cur["lo"]


def test_compact_leaves_no_tmp_dir(spark, tmp_warehouse):
    path = os.path.join(tmp_warehouse, "frag3")
    _fragmented_table(spark, path, n_files=5)
    compact_parquet(spark, path, target_bytes=1 << 30)
    # no aside dirs left — neither the hidden names nor the pre-round-12
    # visible ones; the parent holds ONLY the table dir
    assert os.listdir(tmp_warehouse) == ["frag3"]
    assert spark.read.parquet(path).count() == 250


def test_compact_aside_names_are_hidden(tmp_warehouse):
    """The in-flight rewrite and renamed-aside old dirs are DOT-prefixed
    siblings: Spark's file index (and this module's own listings) skip
    them, so a concurrent root reader can never see a half-written
    rewrite or a duplicate of a partition mid-swap (round-12 ADVICE)."""
    tmp = _aside_name("/w/tbl/part=3", "__compact_tmp")
    assert tmp == "/w/tbl/.part=3__compact_tmp"
    assert _aside_name("/w/tbl/", "__compact_old") == "/w/.tbl__compact_old"


def test_compact_recovers_stale_hidden_old_dir(spark, tmp_warehouse):
    """A leftover hidden old dir from a crashed run must not block (or
    corrupt) the next compaction — it is reclaimed."""
    path = os.path.join(tmp_warehouse, "frag4")
    _fragmented_table(spark, path, n_files=5)
    old = _aside_name(path, "__compact_old")
    os.makedirs(old)
    with open(os.path.join(old, "junk"), "w") as f:
        f.write("stale")
    report = compact_parquet(spark, path, target_bytes=1 << 30)
    assert (report["files_before"], report["files_after"]) == (5, 1)
    assert not os.path.exists(old)
    assert spark.read.parquet(path).count() == 250


def test_compact_ignores_legacy_visible_aside_dirs(spark, tmp_warehouse):
    """Pre-round-12 layouts left VISIBLE `...__compact_tmp/_old` siblings.
    They must be ignored — never counted by dir_stats, never adopted by
    the leaf scan as a real partition and compacted into place (the
    silent-row-duplication hazard the ADVICE named) — but NOT silently
    deleted: unknown data from a crash is an operator decision."""
    path = os.path.join(tmp_warehouse, "parted_legacy")
    spark.range(300).selectExpr("id", "id % 3 AS part") \
        .repartition(5).write.partitionBy("part") \
        .mode("overwrite").parquet(path)
    # plant a legacy visible aside holding a full duplicate of part=1
    legacy = os.path.join(path, "part=1__compact_tmp")
    spark.read.parquet(os.path.join(path, "part=1")).write.parquet(legacy)
    before, _ = dir_stats(spark, path)
    report = compact_parquet(spark, path, target_bytes=1 << 30)
    assert report["partitions_compacted"] == 3  # not 4
    assert report["files_before"] == before  # duplicate never counted
    assert os.path.exists(legacy)  # ignored, not reclaimed
    # the real leaves hold each row exactly once: the duplicate was not
    # compacted into place (a legacy VISIBLE aside is unavoidably seen by
    # root readers — which is exactly why new asides are dot-hidden)
    live = spark.read.parquet(*[os.path.join(path, f"part={i}")
                                for i in range(3)])
    assert live.count() == 300
    assert live.groupBy("id").count().filter("count > 1").count() == 0


def test_compact_hive_partitioned_per_partition(spark, tmp_warehouse):
    """A hive-partitioned layout is compacted PER LEAF PARTITION: the
    key=value directory structure (and with it partition pruning) must
    survive, while each leaf's small files merge."""
    path = os.path.join(tmp_warehouse, "parted")
    spark.range(3_000).selectExpr("id", "id % 3 AS part") \
        .repartition(10).write.partitionBy("part") \
        .mode("overwrite").parquet(path)
    before, _ = dir_stats(spark, path)
    assert before == 30  # 10 files per partition

    report = compact_parquet(spark, path, target_bytes=1 << 30)
    assert report["rewritten"] is True
    assert report["partitions_compacted"] == 3
    assert report["files_before"] == 30 and report["files_after"] == 3
    # layout preserved: partition dirs still exist, pruning still works
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    df = spark.read.parquet(path)
    assert df.count() == 3_000
    assert df.filter("part = 1").count() == 1_000
    assert df.selectExpr("sum(id) s").collect()[0]["s"] == 4_498_500

    # per_partition=False refuses instead of flattening
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path, target_bytes=1 << 30,
                        per_partition=False)


def test_aside_name_bare_relative_path():
    """A bare relative table path (no '/') must not crash name derivation
    (round-12 ADVICE: the rsplit unpack raised ValueError); all-slash
    paths fail loudly instead of producing a nonsense sibling."""
    assert _aside_name("mytable", "__compact_tmp") == \
        ".mytable__compact_tmp"
    with pytest.raises(ValueError, match="aside name"):
        _aside_name("/", "__compact_tmp")


def test_compact_bare_relative_path_roundtrip(spark):
    """End-to-end compaction of a table addressed by a bare relative
    path — the case the old parent/base unpack crashed on.  Relative
    paths resolve against the JVM's working directory (NOT the Python
    process cwd), so the test reads back through the same relative name
    and cleans up via the JVM-resolved location."""
    import shutil

    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    resolved = os.path.join(jvm_cwd, "bare_tbl")
    try:
        _fragmented_table(spark, "bare_tbl", n_files=5)
        report = compact_parquet(spark, "bare_tbl", target_bytes=1 << 30)
        assert (report["files_before"], report["files_after"]) == (5, 1)
        assert spark.read.parquet("bare_tbl").count() == 250
        # no aside/marker litter next to the table
        base = os.path.basename(resolved)
        leftovers = [n for n in os.listdir(jvm_cwd)
                     if base in n and n != base]
        assert leftovers == []
    finally:
        for n in ("bare_tbl", ".bare_tbl__compact_tmp",
                  ".bare_tbl__compact_old"):
            shutil.rmtree(os.path.join(jvm_cwd, n), ignore_errors=True)
        marker = os.path.join(jvm_cwd, "_bare_tbl__COMPACTION_SWAP")
        if os.path.exists(marker):
            os.remove(marker)


def test_swap_marker_is_visible_and_self_documenting(spark,
                                                     tmp_warehouse):
    """During the swap window a ``_<base>__COMPACTION_SWAP`` marker sits
    next to the table: VISIBLE to a plain ls (the dot-hidden asides are
    not — the round-12 ADVICE crash-forensics gap) yet skipped by Spark
    readers via the ``_`` prefix, and its CONTENT is the recovery
    runbook."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.compaction import (
        _fs_and_path,
        _swap_marker,
    )
    path = os.path.join(tmp_warehouse, "mark_tbl")
    _fragmented_table(spark, path, n_files=2)
    fs, _ = _fs_and_path(spark, path)
    marker = _swap_marker(fs, spark, path,
                          _aside_name(path, "__compact_tmp"),
                          _aside_name(path, "__compact_old"))
    local = os.path.join(tmp_warehouse, "_mark_tbl__COMPACTION_SWAP")
    assert os.path.exists(local)
    text = open(local).read()
    assert "__compact_old" in text and "rename" in text.lower()
    # Spark still reads the PARENT dir's table cleanly with the marker
    # present (the '_' prefix hides it from the file index)
    assert spark.read.parquet(path).count() == 100
    fs.delete(marker, False)
    # ...and a successful compaction leaves no marker behind
    compact_parquet(spark, path, target_bytes=1 << 30)
    assert sorted(os.listdir(tmp_warehouse)) == ["mark_tbl"]


def test_migrate_compaction_asides(spark, tmp_warehouse):
    """One-time migration of pre-hidden-name leftovers: visible
    ``__compact_tmp/_old`` dirs are renamed to their dot-hidden form
    (delete=True removes them); hidden asides and live data untouched;
    a visible leftover whose hidden twin already exists is dropped as
    stale rather than clobbering the twin."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.compaction import (
        migrate_compaction_asides,
    )
    path = os.path.join(tmp_warehouse, "lake")
    spark.range(300).selectExpr("id", "id % 3 AS part") \
        .repartition(2).write.partitionBy("part") \
        .mode("overwrite").parquet(path)
    legacy1 = os.path.join(path, "part=1__compact_tmp")
    legacy2 = os.path.join(path, "part=2__compact_old")
    hidden_kept = os.path.join(path, ".part=0__compact_old")
    for d in (legacy1, legacy2, hidden_kept):
        os.makedirs(d)
        with open(os.path.join(d, "f"), "w") as fh:
            fh.write("x")
    # twin conflict: visible leftover whose hidden form already exists
    twin_visible = os.path.join(path, "part=0__compact_tmp")
    twin_hidden = os.path.join(path, ".part=0__compact_tmp")
    os.makedirs(twin_visible)
    os.makedirs(twin_hidden)
    with open(os.path.join(twin_hidden, "keep"), "w") as fh:
        fh.write("live")

    report = migrate_compaction_asides(spark, path)
    assert report["renamed"] == 2 and report["deleted"] == 1
    assert sorted(os.path.basename(p) for p in report["paths"]) == \
        ["part=0__compact_tmp", "part=1__compact_tmp",
         "part=2__compact_old"]
    assert not os.path.exists(legacy1) and not os.path.exists(legacy2)
    assert os.path.exists(os.path.join(path, ".part=1__compact_tmp"))
    assert os.path.exists(os.path.join(path, ".part=2__compact_old"))
    assert os.path.exists(os.path.join(twin_hidden, "keep"))  # untouched
    assert os.path.exists(hidden_kept)
    assert spark.read.parquet(path).count() == 300  # data intact

    # second sweep: nothing visible left; delete=True on a clean lake is
    # a no-op too
    assert migrate_compaction_asides(spark, path) == \
        {"renamed": 0, "deleted": 0, "paths": []}

    # delete mode removes instead of renaming
    os.makedirs(legacy1)
    with open(os.path.join(legacy1, "f"), "w") as fh:
        fh.write("x")
    report = migrate_compaction_asides(spark, path, delete=True)
    assert (report["renamed"], report["deleted"]) == (0, 1)
    assert len(report["paths"]) == 1
    assert report["paths"][0].endswith("part=1__compact_tmp")
    assert not os.path.exists(legacy1)


def test_merge_recovers_from_crash_between_swap_renames(spark, tmp_warehouse,
                                                        monkeypatch):
    """A crash after the live table left ``path`` and before the merged
    copy took its place must not lose the table: the next
    ``merge_write_path`` first restores the old copy, so re-running the
    same delta gives exactly the rows of a run that never crashed (not
    just the delta's, which a first-write into an empty path would keep).
    The fault is raised by whichever rename moves data onto ``path``."""
    import hashlib

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators import (
        compaction,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.merge import (
        merge_write_path,
    )

    def digest(p):
        rows = sorted(tuple(r) for r in spark.read.parquet(p).collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    base = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                 "id long, v string")
    delta = spark.createDataFrame([(i, f"w{i}") for i in range(8, 13)],
                                  "id long, v string")
    clean = os.path.join(tmp_warehouse, "clean")
    path = os.path.join(tmp_warehouse, "crashed")
    for p in (clean, path):
        merge_write_path(spark, p, base, ["id"])
    merge_write_path(spark, clean, delta, ["id"])

    class Crash(Exception):
        pass

    real_rename, real_fs_and_path = os.rename, compaction._fs_and_path

    def os_rename(src, dst, *args, **kwargs):
        if dst == path:
            raise Crash
        return real_rename(src, dst, *args, **kwargs)

    class CrashingFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if dst.toString() == path:
                raise Crash
            return self._fs.rename(src, dst)

    def fs_and_path(spark_, p):
        fs, hpath = real_fs_and_path(spark_, p)
        return CrashingFs(fs), hpath

    with monkeypatch.context() as m:
        m.setattr(os, "rename", os_rename)
        m.setattr(compaction, "_fs_and_path", fs_and_path)
        with pytest.raises(Crash):
            merge_write_path(spark, path, delta, ["id"])
    assert not os.path.exists(path)  # the crash window: no live table

    merge_write_path(spark, path, delta, ["id"])
    assert digest(path) == digest(clean)
    assert spark.read.parquet(path).count() == 13


def test_compact_root_recovers_leaf_crashed_between_swap_renames(
        spark, tmp_warehouse, monkeypatch):
    """A crash in one leaf partition's swap, after the leaf left its path
    and before the rewrite took its place, must neither break readers of
    the table root (the leaf's swap marker must not look like a partition
    to Spark's file index) nor lose the leaf: the next
    ``compact_parquet`` on the ROOT restores it, so the table ends with
    exactly the rows of a run that never crashed."""
    import hashlib

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators import (
        compaction,
    )

    def digest(p):
        rows = sorted(tuple(r) for r in spark.read.parquet(p).collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    clean = os.path.join(tmp_warehouse, "parted_clean")
    path = os.path.join(tmp_warehouse, "parted_crash")
    for p in (clean, path):
        spark.range(1_200).selectExpr("id", "id % 3 AS part") \
            .repartition(4).write.partitionBy("part") \
            .mode("overwrite").parquet(p)
    assert dir_stats(spark, path)[0] == 12
    compact_parquet(spark, clean, target_bytes=1 << 30)

    class Crash(Exception):
        pass

    real_fs_and_path = compaction._fs_and_path

    class CrashingFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            # the second rename of leaf part=1: its rewrite onto its path
            if dst.toString().endswith("/part=1"):
                raise Crash
            return self._fs.rename(src, dst)

    def fs_and_path(spark_, p):
        fs, hpath = real_fs_and_path(spark_, p)
        return CrashingFs(fs), hpath

    with monkeypatch.context() as m:
        m.setattr(compaction, "_fs_and_path", fs_and_path)
        with pytest.raises(Crash):
            compact_parquet(spark, path, target_bytes=1 << 30)
    assert not os.path.exists(os.path.join(path, "part=1"))
    # (a) the root reads without error, the marker in place
    assert [n for n in os.listdir(path) if n.endswith("COMPACTION_SWAP")] \
        == ["_part-1__COMPACTION_SWAP"]
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() < 1_200

    # (b) a second call on the root restores the leaf and finishes
    compact_parquet(spark, path, target_bytes=1 << 30)
    assert sorted(n for n in os.listdir(path) if not n.startswith(".")) \
        == ["part=0", "part=1", "part=2"]
    assert digest(path) == digest(clean)
