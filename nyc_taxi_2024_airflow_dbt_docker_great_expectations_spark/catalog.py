"""Namespace / table naming — the medallion catalog.

Replaces the reference's dbt ``generate_schema_name`` macro
(``dbt/nyc_taxi/macros/generate_schema_name.sql:1-10``, which routes models to
bare layer schemas with no target prefix) and the CREATE SCHEMA bootstrap
(``dags/nyc_taxi_pipeline.py:55-65``).

Two modes:

- **catalog mode**: real Spark SQL namespaces + ``saveAsTable`` — what a
  cluster deployment with a metastore uses.
- **path mode**: a parquet warehouse directory layout
  ``{root}/{layer}/{table}`` — dependency-free, used by tests and local runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

LAYERS = ["staging", "bronze", "silver", "gold", "metadata"]


def qualified_name(layer: str, table: str) -> str:
    if layer not in LAYERS:
        raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
    return f"{layer}.{table}"


def ensure_namespaces(spark: SparkSession, layers=None) -> None:
    """CREATE SCHEMA IF NOT EXISTS for each medallion layer
    (reference ``dags/nyc_taxi_pipeline.py:55-65``)."""
    for layer in layers or LAYERS:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {layer}")


class Warehouse:
    """Path-mode catalog: tables are parquet directories under a root.

    Reads use a schema the warehouse already knows, because inferring a
    parquet schema is a Spark job that reads a file footer.  The schema of a
    path is recorded when it is written through :meth:`write` or
    :meth:`record`, or the first time a read has to infer it.  It is the
    schema a fresh ``spark.read.parquet(path)`` would return: partition
    columns are left for Spark to infer from the directory names, as a fresh
    read does.  A table's part files are assumed to share one schema, and
    every writer of a table is assumed to go through this class.
    """

    def __init__(self, root: str):
        self.root = root
        self.schemas: dict[str, StructType] = {}  # path -> read schema

    def path(self, layer: str, table: str) -> str:
        qualified_name(layer, table)  # validates layer
        return os.path.join(self.root, layer, table)

    def exists(self, layer: str, table: str) -> bool:
        p = self.path(layer, table)
        if not os.path.isdir(p):
            return False
        # a dir with only _SUCCESS / no part files is not a readable table
        return any(
            f.endswith(".parquet") or f.startswith("part-")
            for root, _dirs, files in os.walk(p)
            for f in files
        )

    def read(self, spark: SparkSession, layer: str, table: str):
        path = self.path(layer, table)
        schema = self.schemas.get(path)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
        df = spark.read.parquet(path)
        self.schemas[path] = df.schema
        return df

    def write(self, df, layer: str, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(layer, table))
        self.record(df.sparkSession, layer, table, df.schema, partition_by)

    def record(self, spark: SparkSession, layer: str, table: str,
               schema: StructType, partition_by: list[str] | None = None) -> None:
        """Note that ``schema`` was just written to the table.  Resolving it
        against the path lists files on the driver and runs no job; Spark
        makes every column nullable and infers the partition columns."""
        parts = set(partition_by or ())
        data = StructType([f for f in schema.fields if f.name not in parts])
        path = self.path(layer, table)
        self.schemas[path] = spark.read.schema(data).parquet(path).schema


def collect_table_stats(spark: SparkSession, table: str,
                        columns: list[str] | None = None) -> dict:
    """ANALYZE TABLE for Catalyst's cost-based optimizer: table-level
    row count / size, plus per-column NDV, null count, and min/max when
    ``columns`` are given.  On a metastore-backed cluster this is what
    makes CBO join reordering and broadcast-threshold decisions use REAL
    cardinalities instead of raw file sizes — the cheapest optimizer
    lever a 100 TB warehouse has, paid once per table rewrite (a
    maintenance-job step alongside compaction, not a query-path cost).

    Returns the collected table stats as a dict
    (``{"rowCount": ..., "sizeInBytes": ...}``) read back from the
    catalog so callers (and tests) can assert the stats actually landed.
    """
    # quote each dot-separated part individually: backquoting the whole
    # string would turn a qualified name like `db.t` into a ONE-part
    # identifier (a table literally named "db.t" in the current schema)
    ident = ".".join(
        "`" + part.replace("`", "``") + "`" for part in table.split(".")
    )
    spark.sql(f"ANALYZE TABLE {ident} COMPUTE STATISTICS")
    if columns:
        quoted = ", ".join("`" + c.replace("`", "``") + "`"
                           for c in columns)
        spark.sql(
            f"ANALYZE TABLE {ident} COMPUTE STATISTICS FOR COLUMNS {quoted}"
        )
    out: dict = {}
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect():
        if row["col_name"] == "Statistics":
            # e.g. "1234 bytes, 56 rows"
            for part in row["data_type"].split(","):
                part = part.strip()
                if part.endswith("rows"):
                    out["rowCount"] = int(part.split()[0])
                elif part.endswith("bytes"):
                    out["sizeInBytes"] = int(part.split()[0])
    return out
