"""dbt-style data tests (reference section 2.9a, Q1-Q5).

dbt compiles each test to a SQL query whose *returned rows are the failures*
(zero rows = pass).  Each function here returns the failing-rows DataFrame,
for triage or for persisting the failures.  To *gate* on tests, do not run
one action per test: declare them as named expectations (``suites.BRONZE_TESTS``
/ ``SILVER_TESTS``) and ``run_suite`` counts every test's failing rows in one
aggregate, with the same counts as these functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def not_null_failures(df: DataFrame, column: str) -> DataFrame:
    """Q1 ``not_null`` (e.g. reference models/silver/schema.yml:7-15)."""
    return df.filter(F.col(column).isNull())


def unique_failures(df: DataFrame, column: str) -> DataFrame:
    """Q2 ``unique``: keys appearing more than once, with their counts
    (reference silver/schema.yml:9-11)."""
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def accepted_values_failures(df: DataFrame, column: str, values) -> DataFrame:
    """Q3 ``accepted_values`` (reference silver/schema.yml:17-21).
    dbt's compiled test ignores NULLs — only non-null out-of-set values fail."""
    c = F.col(column)
    return df.filter(~c.isin(*values) & c.isNotNull())


def relationship_failures(child: DataFrame, child_key: str,
                          parent: DataFrame, parent_key: str) -> DataFrame:
    """Q4 ``relationships`` (reference silver/schema.yml:23-27): child keys
    with no parent — a left-anti join, parent key side deduped and broadcast
    (the parent key set is small relative to a 100 TB child)."""
    parent_keys = F.broadcast(
        parent.select(F.col(parent_key).alias(child_key)).distinct()
    )
    return child.filter(F.col(child_key).isNotNull()).join(
        parent_keys, on=child_key, how="left_anti"
    )


def no_negative_total_failures(df: DataFrame, column: str = "total_amount") -> DataFrame:
    """Q5 singular test (reference tests/assert_total_amount_positive.sql:1-3)."""
    return df.filter(F.col(column) < 0)
