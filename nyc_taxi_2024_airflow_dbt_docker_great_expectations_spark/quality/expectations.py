"""Great-Expectations-style validation, single-pass (reference section 2.9b).

The reference builds GX suites per layer and runs them post-hoc as pipeline
gates (``dags/validation_utils.py:15-127``), where each expectation becomes
its own SQL query against Postgres.  This engine compiles *all* of a suite's
value expectations into **one** ``agg()`` over the table — one scan at 100 TB
instead of one per expectation — and evaluates schema/row-count expectations
from metadata/the same pass.

A suite may also carry dbt tests (section 2.9a): expectations with a
``test`` name, which fail on any failing row and raise ``DbtTestFailure``
before any GX failure is reported.  ``unique`` groups by its column inside
the same aggregate, and ``relationships`` flags each child row against the
broadcast, deduplicated keys of ``parent``, so a whole gate stage (dbt tests
and GX suite) stays one query.

GX semantics preserved (``dags/validation_utils.py:72-84``):

- ``mostly=m`` passes iff the violating fraction of **non-null** values is
  <= 1-m (NULLs are not violations for Between/InSet; NotNull counts NULLs
  over all rows).
- Failures raise ``ValidationError`` whose message lists each failed
  expectation with its ``unexpected_percent``, like the reference's
  ``ValueError`` report.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Expectation:
    """One check.  ``kind``: not_null | between | in_set | unique |
    relationships | row_count_between | column_exists."""

    kind: str
    column: str | None = None
    min_value: float | None = None
    max_value: float | None = None
    value_set: tuple = ()
    mostly: float = 1.0
    parent_column: str | None = None  # relationships: key column of ``parent``
    test: str | None = None           # dbt test name: fail on any failing row

    def describe(self) -> str:
        if self.test:
            return f"dbt test {self.test}"
        bits = [self.kind]
        if self.column:
            bits.append(self.column)
        if self.min_value is not None or self.max_value is not None:
            bits.append(f"[{self.min_value}, {self.max_value}]")
        if self.value_set:
            bits.append(f"in {sorted(self.value_set)}")
        if self.mostly < 1.0:
            bits.append(f"mostly={self.mostly}")
        return " ".join(str(b) for b in bits)


def expect_column_values_to_not_be_null(column: str, mostly: float = 1.0) -> Expectation:
    return Expectation("not_null", column=column, mostly=mostly)


def expect_column_values_to_be_between(
    column: str, min_value: float | None = None, max_value: float | None = None,
    mostly: float = 1.0,
) -> Expectation:
    return Expectation("between", column=column, min_value=min_value,
                       max_value=max_value, mostly=mostly)


def expect_column_values_to_be_in_set(column: str, value_set, mostly: float = 1.0) -> Expectation:
    return Expectation("in_set", column=column, value_set=tuple(value_set), mostly=mostly)


def expect_table_row_count_to_be_between(
    min_value: float | None = None, max_value: float | None = None
) -> Expectation:
    return Expectation("row_count_between", min_value=min_value, max_value=max_value)


def expect_column_to_exist(column: str) -> Expectation:
    return Expectation("column_exists", column=column)


@dataclass
class ExpectationResult:
    expectation: Expectation
    success: bool
    element_count: int = 0
    unexpected_count: int = 0
    unexpected_percent: float = 0.0

    def describe(self) -> str:
        status = "PASS" if self.success else "FAIL"
        return (f"{status} {self.expectation.describe()} "
                f"(unexpected {self.unexpected_count}/{self.element_count} "
                f"= {self.unexpected_percent:.3f}%)")


class DbtTestFailure(ValueError):
    """A dbt-style test returned failing rows (dbt semantics: rows=failures)."""


class ValidationError(ValueError):
    """Raised when a suite fails; carries per-expectation results
    (mirrors reference dags/validation_utils.py:72-84)."""

    def __init__(self, table: str, results: list[ExpectationResult]):
        self.results = results
        failed = [r.describe() for r in results if not r.success]
        super().__init__(
            f"validation failed for {table}: " + "; ".join(failed)
        )


def _violation_condition(e: Expectation) -> Column:
    """Boolean column: non-null value violates the expectation."""
    c = F.col(e.column)
    if e.kind == "between":
        cond = F.lit(False)
        if e.min_value is not None:
            cond = cond | (c < F.lit(e.min_value))
        if e.max_value is not None:
            cond = cond | (c > F.lit(e.max_value))
        return cond
    if e.kind == "in_set":
        return ~c.isin(*e.value_set)
    raise ValueError(f"no violation condition for kind {e.kind!r}")


_COUNTED = ("not_null", "between", "in_set", "unique", "relationships")


def _suite_counts(df: DataFrame, counted: list[Expectation],
                  parent: DataFrame | None):
    """One row: ``__rows`` and, per counted expectation ``i``, its failing
    count ``u{i}`` and basis ``n{i}`` — from a single aggregate."""
    frame = df
    aggs = [F.count(F.lit(1)).alias("__rows")]
    unique_cols = {e.column for e in counted if e.kind == "unique"}
    if len(unique_cols) > 1:
        raise ValueError(f"one unique column per suite, got {sorted(unique_cols)}")
    for i, e in enumerate(counted):
        c = F.col(e.column)
        if e.kind == "unique":
            continue  # counted over the key groups below
        if e.kind == "not_null":
            cond, basis = c.isNull(), F.lit(1)  # basis: all rows
        elif e.kind == "relationships":
            if parent is None:
                raise ValueError(f"{e.describe()} needs a parent frame")
            keys = F.broadcast(
                parent.select(F.col(e.parent_column).alias(f"__k{i}")).distinct()
                .withColumn(f"__in{i}", F.lit(True)))
            frame = frame.join(keys, c == F.col(f"__k{i}"), "left")
            cond, basis = c.isNotNull() & F.col(f"__in{i}").isNull(), c
        else:
            cond, basis = _violation_condition(e), c  # basis: non-null
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"u{i}"))
        aggs.append(F.count(basis).alias(f"n{i}"))
    if not unique_cols:
        return frame.agg(*aggs).first()
    # failing keys of ``unique`` = groups of more than one row (the NULL
    # key is one group, as in dbt's GROUP BY); the other counts re-sum
    grouped = frame.groupBy(*unique_cols).agg(*aggs)
    outer = [F.sum(name).alias(name) for name in grouped.columns[1:]]
    for i, e in enumerate(counted):
        if e.kind == "unique":
            outer.append(
                F.sum(F.when(F.col("__rows") > 1, 1).otherwise(0)).alias(f"u{i}"))
            outer.append(F.count(F.lit(1)).alias(f"n{i}"))  # basis: keys
    return grouped.agg(*outer).first()


def run_suite(df: DataFrame, suite: list[Expectation], table: str = "table",
              raise_on_failure: bool = True,
              parent: DataFrame | None = None) -> list[ExpectationResult]:
    """Evaluate a whole suite in one aggregation pass + metadata checks.

    ``parent`` is the table a ``relationships`` expectation looks its keys
    up in.  On failure, the first failing dbt test (in suite order) raises
    ``DbtTestFailure``; otherwise failing expectations raise
    ``ValidationError``."""
    results: list[ExpectationResult] = []

    counted = [e for e in suite if e.kind in _COUNTED]
    needs_count = any(e.kind == "row_count_between" for e in suite) or counted

    # --- metadata-only expectations (no scan) ---
    for e in suite:
        if e.kind == "column_exists":
            results.append(ExpectationResult(e, success=e.column in df.columns))

    # --- one aggregation pass for everything else ---
    if needs_count:
        row = _suite_counts(df, counted, parent)
        total = row["__rows"] or 0

        for e in suite:
            if e.kind == "row_count_between":
                ok = (e.min_value is None or total >= e.min_value) and (
                    e.max_value is None or total <= e.max_value
                )
                results.append(ExpectationResult(e, ok, element_count=total))

        for i, e in enumerate(counted):
            n = row[f"n{i}"] or 0
            u = row[f"u{i}"] or 0
            pct = (u / n * 100.0) if n else 0.0
            ok = (u / n <= 1.0 - e.mostly + 1e-12) if n else True
            results.append(
                ExpectationResult(e, ok, element_count=n, unexpected_count=u,
                                  unexpected_percent=pct)
            )

    if raise_on_failure:
        for r in results:
            if r.expectation.test and not r.success:
                raise DbtTestFailure(f"dbt test {r.expectation.test} returned failing rows")
        if any(not r.success for r in results):
            raise ValidationError(table, results)
    return results
