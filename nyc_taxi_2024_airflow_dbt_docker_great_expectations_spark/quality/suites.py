"""The reference's three GX suites (reference ``dags/validation_utils.py:93-127``)
and its dbt schema tests (reference ``models/*/schema.yml``,
``tests/assert_total_amount_positive.sql``).

Layer gates: bronze after load, silver after transform, gold after aggregate —
run by the pipeline runner as hard barriers (reference
``dags/nyc_taxi_pipeline.py:236-240``).  The dbt tests are expectations
named by their dbt test, so a gate stage runs its tests and its suite in one
``run_suite`` aggregate; they count the same failing rows as the per-test
functions in ``dbt_tests``.
"""

from __future__ import annotations

from .expectations import (
    Expectation,
    expect_column_to_exist,
    expect_column_values_to_be_between,
    expect_column_values_to_be_in_set,
    expect_column_values_to_not_be_null,
    expect_table_row_count_to_be_between,
)

# G2: 18 named columns (validation_utils.py:94-104)
_BRONZE_COLUMNS = [
    "vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "ratecodeid", "store_and_fwd_flag",
    "pulocationid", "dolocationid", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge",
]

BRONZE_SUITE = [
    expect_table_row_count_to_be_between(min_value=1),                 # G1
    *[expect_column_to_exist(c) for c in _BRONZE_COLUMNS],             # G2
    expect_column_values_to_not_be_null("tpep_pickup_datetime", mostly=0.99),  # G3
]

SILVER_SUITE = [
    expect_column_values_to_not_be_null("vendorid"),                   # G4
    expect_column_values_to_not_be_null("tpep_pickup_datetime"),       # G4
    expect_column_values_to_be_between("total_amount", min_value=0, mostly=0.99),   # G5
    expect_column_values_to_be_between("trip_distance", min_value=0, mostly=0.99),  # G5
    expect_column_values_to_be_in_set("payment_type", (1, 2, 3, 4, 5, 6), mostly=0.99),  # G6
]

GOLD_SUITE = [
    expect_column_values_to_be_between("total_monthly_revenue", 0, 1_000_000_000),  # G7
    expect_column_values_to_be_between("total_monthly_trips", 1, 10_000_000),       # G7
    expect_column_values_to_not_be_null("revenue_month"),              # G8
]

# dbt tests, in the order the reference runs them; the first failing one is
# the one a gate reports
BRONZE_TESTS = [  # Q1 (bronze/schema.yml:7-15)
    Expectation("not_null", c, test=f"bronze.not_null.{c}")
    for c in ("vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime")
]

SILVER_TESTS = [
    Expectation("unique", "unique_trip_id",                            # Q2
                test="silver.unique.unique_trip_id"),
    *[Expectation("not_null", c, test=f"silver.not_null.{c}")          # Q1
      for c in ("unique_trip_id", "tpep_pickup_datetime")],
    Expectation("in_set", "payment_type", value_set=tuple(range(7)),   # Q3
                test="silver.accepted_values.payment_type"),
    Expectation("relationships", "vendorid", parent_column="vendorid",  # Q4
                test="silver.relationships.vendorid"),
    Expectation("between", "total_amount", min_value=0,                # Q5
                test="silver.assert_total_amount_positive"),
]
