"""Data-quality operators (SURVEY.md section 2.9).

Two reference systems unified into one module:

- ``dbt_tests``: dbt schema/singular tests — each returns the *failing rows*
  (dbt semantics: any returned row = failure).
- ``expectations``: Great-Expectations-style suites — threshold-aware
  (``mostly``), evaluated in a single aggregation pass, raising with a
  structured ``unexpected_percent`` report on failure.  A suite can carry
  dbt tests too (``suites.BRONZE_TESTS`` / ``SILVER_TESTS``), so one
  aggregate gates a whole pipeline stage.
"""

from .expectations import (  # noqa: F401
    DbtTestFailure,
    Expectation,
    ExpectationResult,
    ValidationError,
    expect_column_to_exist,
    expect_column_values_to_be_between,
    expect_column_values_to_be_in_set,
    expect_column_values_to_not_be_null,
    expect_table_row_count_to_be_between,
    run_suite,
)
from .dbt_tests import (  # noqa: F401
    accepted_values_failures,
    no_negative_total_failures,
    not_null_failures,
    relationship_failures,
    unique_failures,
)
from .suites import (  # noqa: F401
    BRONZE_SUITE,
    BRONZE_TESTS,
    GOLD_SUITE,
    SILVER_SUITE,
    SILVER_TESTS,
)
