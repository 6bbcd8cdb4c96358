"""Persisted warehouse artifacts: one declaration, one ``ensure``.

The reference's reuse device is dbt's incremental materialization — build
the expensive model once, reuse it after that
(dbt/nyc_taxi/models/bronze/bronze_yellow_tripdata.sql:1-5).  Here every
build-once intermediate (pair graphs, shingle sets, inverted indexes, IVF
lists, per-session flags) is one :class:`Artifact`, and :func:`ensure` is
the only code that turns a declaration into catalog tables:

1. name each table ``<name>_<sf suffix>[_<table>]`` (:func:`table_name`);
2. per table, keep a catalog entry, else adopt surviving files whose
   ``_table_meta.json`` sidecar matches the declared bucket keys and
   props and was written by this engine code (its source digest;
   ``operators/layout.py:adopt_bucketed_table``), else build the
   artifact once;
3. run the artifact's staleness ``check`` once per session per table
   (``_memo``, keyed by ``(applicationId, table)``: tables are
   immutable once built, so repeat uses skip the job).

An artifact with no tables is a per-session value (a flag, a driver-side
bitset) computed once per ``(applicationId, name, sf_dir)``.  A build that
reads another artifact calls ``ensure`` on it; there is no dependency
graph beyond that.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .operators.layout import adopt_bucketed_table, write_bucketed


@dataclass(frozen=True)
class Artifact:
    """One build-once warehouse artifact.

    ``tables`` maps a table suffix to its bucket keys (None: unbucketed);
    the suffix ``""`` names a single-table artifact.  ``props`` is the
    build-parameter record every table's sidecar must carry for adoption.
    ``build(spark, sf_dir, prefix)`` either returns the one table's
    DataFrame, which :func:`ensure` writes bucketed on its keys, or writes
    every ``<prefix>_<suffix>`` table itself (the index builders, which
    read their bucket keys from the same ``{suffix: keys}`` dict the spec
    declares); for a value artifact it returns the value.
    ``check(spark, sf_dir, prefix)`` raises when a table disagrees with
    the inputs it was built from."""

    name: str
    build: Callable[[SparkSession, str, str], Any]
    tables: dict[str, list[str] | None] = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    check: Callable[[SparkSession, str, str], None] | None = None


_MEMO: dict[tuple[str, Any], Any] = {}


def _memo(spark: SparkSession, key, compute: Callable[[], Any]) -> Any:
    """``compute()`` once per Spark application per ``key``.  A raising
    ``compute`` is not memoized, so a failed check fails again."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _MEMO:
        _MEMO[k] = compute()
    return _MEMO[k]


def sf_suffix(sf_dir: str) -> str:
    """Catalog-safe suffix for per-SF warehouse artifacts."""
    return re.sub(r"\W", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])


def table_name(artifact: Artifact, sf_dir: str, table: str = "") -> str:
    prefix = f"{artifact.name}_{sf_suffix(sf_dir)}"
    return f"{prefix}_{table}" if table else prefix


def ensure(spark: SparkSession, sf_dir: str, artifact: Artifact) -> Any:
    """Make ``artifact`` available for ``sf_dir`` and return its table
    prefix — the table itself for a single-table artifact, the
    ``<prefix>_<suffix>`` stem for an index — or, for a value artifact,
    its value."""
    if not artifact.tables:
        return _memo(spark, (artifact.name, sf_dir),
                    lambda: artifact.build(spark, sf_dir, artifact.name))
    prefix = table_name(artifact, sf_dir)
    names = {t: table_name(artifact, sf_dir, t) for t in artifact.tables}
    if not all(spark.catalog.tableExists(names[t])
               or adopt_bucketed_table(spark, names[t], keys,
                                       props=artifact.props)
               for t, keys in artifact.tables.items()):
        built = artifact.build(spark, sf_dir, prefix)
        if isinstance(built, DataFrame):
            ((t, keys),) = artifact.tables.items()
            write_bucketed(built, names[t], keys, props=artifact.props)
    if artifact.check is not None:
        _memo(spark, prefix, lambda: artifact.check(spark, sf_dir, prefix))
    return prefix
