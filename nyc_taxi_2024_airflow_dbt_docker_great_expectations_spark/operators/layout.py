"""Physical-layout operators: bucketing and skew salting.

These are the two layout levers SURVEY.md section 4 reserves for the scale
path (nothing in the reference needs them at Postgres scale; a 100 TB Spark
deployment lives or dies by them):

- **Bucketing** pre-shuffles a table by join/agg key at write time.  Two
  tables bucketed on the same key with the same bucket count join with NO
  exchange on either side — the shuffle is paid once at ingest instead of
  once per query.  The right layout for fact tables that are repeatedly
  joined/merged on one key (e.g. bronze/silver on the surrogate key).
- **Salting** splits a hot key into ``salt`` sub-keys so one executor does
  not receive the whole group.  The small side is exploded ``salt`` times
  (still tiny), the big side gets a random-but-deterministic salt from a
  hash of other columns.  AQE's skew-join handles moderate skew
  automatically (enabled in session.py); salting is for the pathological
  single-key case AQE cannot split further (e.g. NULL-heavy keys).
"""

from __future__ import annotations

import functools
import hashlib
import json
import pathlib
import warnings

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

#: sidecar carrying the physical layout a table was ACTUALLY written with
#: (bucket keys/count/sort), caller-supplied build parameters (index
#: hyperparameters), the written schema and the digest of the engine code
#: that wrote it.  Lives next to ``_SUCCESS`` so it commits and survives
#: with the data files themselves.
TABLE_META_FILE = "_table_meta.json"


@functools.lru_cache(maxsize=None)
def engine_digest() -> str:
    """sha256 of the engine source: every ``.py`` file of the package and
    the ``__spark_entry__.py`` beside it, keyed by relative path.  Every
    sidecar records it, and adoption refuses a table whose digest
    differs, so a warehouse that outlives a code change rebuilds its
    tables instead of serving what the old code built."""
    pkg = pathlib.Path(__file__).resolve().parent.parent
    files = sorted(pkg.rglob("*.py"))
    entry = pkg.parent / "__spark_entry__.py"
    if entry.exists():
        files.append(entry)
    h = hashlib.sha256()
    for f in files:
        h.update(f"{f.relative_to(pkg.parent)}\0".encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def drop_table_and_location(spark, table: str) -> None:
    """Drop a managed table AND its orphaned warehouse location.

    A managed table's LOCATION can outlive its catalog entry: the default
    in-memory catalog forgets tables at session end but the warehouse
    directory persists, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS on the next session.  Drop any stale entry
    and clear the orphaned location (Hadoop FS API — works on any
    warehouse filesystem, not just local disk).  Every managed-table
    write in the repo must route through this (or ``write_bucketed``,
    which calls it).
    """
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        + "/" + table.lower()
    )
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   num_buckets: int = 8,
                   sort_by: list[str] | None = None,
                   props: dict | None = None) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Requires a catalog (saveAsTable); path-only parquet cannot record bucket
    metadata.

    Writes a ``_table_meta.json`` sidecar recording the bucket spec the
    files were ACTUALLY written with plus ``props`` (caller build
    parameters, e.g. index hyperparameters) — the source of truth
    :func:`adopt_bucketed_table` validates against, so a later adoption
    can never declare false bucketing on surviving files.
    """
    spark = df.sparkSession
    drop_table_and_location(spark, table)
    w = df.write.mode("overwrite").bucketBy(num_buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)
    _record_layout(df, table, list(keys), num_buckets, list(sort_by or []),
                   props)


def write_unbucketed(df: DataFrame, table: str,
                     props: dict | None = None) -> None:
    """Persist a small (metadata-sized: stats rows, centroids) managed
    table with the same stale-location cleanup and meta sidecar as
    :func:`write_bucketed`, just without a bucket spec."""
    spark = df.sparkSession
    drop_table_and_location(spark, table)
    df.write.mode("overwrite").saveAsTable(table)
    _record_layout(df, table, [], 0, [], props)


def _record_layout(df: DataFrame, table: str, keys: list[str],
                   num_buckets: int, sort_by: list[str],
                   props: dict | None) -> None:
    """The sidecar of ``table``, just written from ``df``: its layout,
    ``props``, the written schema (adoption declares it instead of
    reading parquet footers, which costs a Spark job) and the engine
    digest."""
    write_table_meta(df.sparkSession, table, {
        "keys": keys, "num_buckets": num_buckets, "sort_by": sort_by,
        "props": props or {},
        "schema": df.schema.jsonValue(),
        "code": engine_digest(),
    })


def _warehouse_location(spark, table: str) -> str:
    return (spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
            + "/" + table.lower())


def write_table_meta(spark, table: str, meta: dict) -> None:
    """Write the layout sidecar through the Hadoop FS API (works on any
    warehouse filesystem, not just local disk)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(
        _warehouse_location(spark, table) + "/" + TABLE_META_FILE
    )
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def read_table_meta(spark, table: str) -> dict | None:
    """Read the layout sidecar for a (possibly not-yet-adopted) managed
    table's warehouse location; None when absent (pre-sidecar writes)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(
        _warehouse_location(spark, table) + "/" + TABLE_META_FILE
    )
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(txt)


def require_build_props(spark, table: str, label: str, expected: dict,
                        consequence: str) -> dict:
    """The build parameters ``table``'s sidecar records (``{}`` when it
    records none), after refusing a probe whose ``expected`` parameters
    differ from them: an index probed under other parameters than it was
    built with returns plausible but wrong rows, so this raises instead.
    ``label`` names the index and ``consequence`` says what a mismatched
    probe would do."""
    built = (read_table_meta(spark, table) or {}).get("props") or {}
    for param, got in expected.items():
        if built and built.get(param) != got:
            raise ValueError(
                f"{label} was built with {param}={built.get(param)!r}; "
                f"probing with {got!r} {consequence} — rebuild or match it"
            )
    return built


def adopt_bucketed_table(spark, table: str, keys: list[str] | None = None,
                         num_buckets: int = 8,
                         props: dict | None = None) -> bool:
    """Re-register a previously-written managed table whose files survived
    in the warehouse directory but whose catalog entry died with the
    session (the default in-memory catalog forgets tables on exit; a Hive
    metastore would remember, but Derby's single-process lock rules it out
    for concurrent local runs).

    Builds written by :func:`write_bucketed` are deterministic pure
    functions of the source data, so adopting the surviving files is
    value-identical to rebuilding — this is what turns "build-once" from
    per-session to per-warehouse.  Adoption requires the committed-write
    marker (``_SUCCESS``); a partial dir from a crashed write is ignored
    (and later cleaned by ``drop_table_and_location``).

    The CREATE TABLE replays the bucket spec and the schema FROM THE
    SIDECAR the write recorded, never from the caller's expectation:
    declaring a spec the files weren't written with would make Spark
    silently skip shuffles in bucketed joins and return wrong rows, and
    the recorded schema spares a parquet footer read (one Spark job per
    table).  ``keys``/``num_buckets``/``props`` are the caller's
    expectation.  Adoption is refused — a warning, and False, so the
    caller (``artifacts.ensure``) falls through to a clean rebuild —
    when the sidecar is missing or records no schema, when other engine
    code wrote it (:func:`engine_digest`), or when it disagrees with the
    expectation.  Returns True on adoption.
    """
    loc = _warehouse_location(spark, table)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(loc)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    marker = jvm.org.apache.hadoop.fs.Path(loc + "/_SUCCESS")
    if not fs.exists(p) or not fs.exists(marker):
        return False

    def refuse(why: str) -> bool:
        warnings.warn(f"refusing to adopt `{table}`: {why} — rebuilding",
                      stacklevel=3)
        return False

    meta = read_table_meta(spark, table)
    if meta is None or "schema" not in meta:
        return refuse(f"no {TABLE_META_FILE} records the schema the files "
                      "were written with")
    if meta.get("code") != engine_digest():
        return refuse("the files were written by other engine code")
    expected = {"keys": list(keys or []),
                "num_buckets": num_buckets if keys else meta["num_buckets"]}
    actual = {"keys": meta["keys"], "num_buckets": meta["num_buckets"]}
    if keys is not None and expected != actual:
        return refuse(f"caller expects bucket spec {expected}, files were "
                      f"written with {actual}")
    if props is not None and props != meta.get("props", {}):
        return refuse(f"caller expects build params {props}, files were "
                      f"built with {meta.get('props')}")
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in StructType.fromJson(meta["schema"]).fields)
    cluster = ""
    if meta["keys"]:
        key_list = ", ".join(f"`{k}`" for k in meta["keys"])
        sort = ""
        if meta.get("sort_by"):
            sort_list = ", ".join(f"`{k}`" for k in meta["sort_by"])
            sort = f" SORTED BY ({sort_list})"
        cluster = (f" CLUSTERED BY ({key_list}){sort} "
                   f"INTO {meta['num_buckets']} BUCKETS")
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING PARQUET{cluster} "
        f"LOCATION '{loc}'"
    )
    return True


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns —
    the multi-dimensional clustering key behind data-skipping layouts:
    sorting by ``zorder_key(a, b)`` groups rows that are close in BOTH
    dimensions into the same files, so parquet min/max stats prune scans
    filtered on either column (a linear sort only prunes its leading
    column).

    Bit ``i`` of ``x`` lands at position ``2i``, of ``y`` at ``2i+1`` —
    a static unrolled sum of ``shiftright/bitwiseAND`` terms that stays
    entirely in whole-stage codegen (no UDF, no shuffle; the EXPRESSION is
    free — the layout win is realized by the write that sorts by it).
    Inputs must fit in ``bits`` bits (quantize wider domains first:
    ``(col - min) div step``); with bits=16 the result fits a long with
    31 bits to spare.
    """
    from pyspark.sql import Column

    if not isinstance(x, Column):
        x = F.col(x)
    if not isinstance(y, Column):
        y = F.col(y)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i))
            + F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    return z


def write_zordered(df: DataFrame, path: str, x: str, y: str,
                   bits: int = 16, num_files: int | None = None) -> None:
    """Materialize ``df`` clustered by the Z-order of (x, y): range
    partition + in-partition sort on the interleaved key, then a plain
    parquet write.  Each output file then covers a small rectangle of the
    (x, y) grid, so min/max row-group stats prune queries on either
    column — the poor-engine's Delta OPTIMIZE ZORDER, in two exchanges
    worth zero extra at write time (the write had to shuffle anyway)."""
    keyed = df.withColumn("__z", zorder_key(x, y, bits))
    # explicit num_files pins the file count (AQE otherwise coalesces a
    # small write into one file, defeating per-file stat pruning)
    range_args = ([num_files] if num_files else []) + [F.col("__z")]
    (
        keyed.repartitionByRange(*range_args)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-resistant equi-join: explode the small side over ``salt``
    replicas, salt the big side deterministically, join on (key, salt).

    The salt on the big side comes from a hash of the whole row (via
    ``monotonically_increasing_id`` would break determinism across retries;
    xxhash64 of all columns is retry-stable), so the same input always joins
    identically.  Output equals a plain join on ``key``.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt))
    big_salted = big.withColumn("__salt", salt_col)
    small_exploded = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = big_salted.join(small_exploded, [key, "__salt"], how)
    return joined.drop("__salt")


# Small-file stats + compaction moved to operators/compaction.py
# (dir_stats / compact_parquet) — one maintenance primitive with the
# rename-aside crash-safe swap AND per-partition hive handling.
