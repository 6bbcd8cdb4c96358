from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import trip_row, ts
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.plans import (
    bronze_trips,
    silver_trips,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.quality import (
    BRONZE_SUITE,
    BRONZE_TESTS,
    SILVER_SUITE,
    SILVER_TESTS,
    DbtTestFailure,
    Expectation,
    ValidationError,
    accepted_values_failures,
    expect_column_values_to_be_between,
    expect_column_values_to_be_in_set,
    expect_column_values_to_not_be_null,
    expect_table_row_count_to_be_between,
    no_negative_total_failures,
    not_null_failures,
    relationship_failures,
    run_suite,
    unique_failures,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.schema import TRIP_SCHEMA


def test_mostly_threshold_pass_and_fail(spark):
    # 1 NULL in 100 rows -> 1% unexpected; mostly=0.99 passes, mostly=0.995 fails
    df = spark.createDataFrame([(None if i == 0 else i,) for i in range(100)], "x int")
    ok = run_suite(df, [expect_column_values_to_not_be_null("x", mostly=0.99)])
    assert ok[0].success and abs(ok[0].unexpected_percent - 1.0) < 1e-9

    with pytest.raises(ValidationError) as err:
        run_suite(df, [expect_column_values_to_not_be_null("x", mostly=0.995)], "t")
    assert "unexpected" in str(err.value)


def test_between_and_inset_ignore_nulls(spark):
    """GX semantics: Between/InSet evaluate non-null values only."""
    df = spark.createDataFrame([(None,), (5,), (-1,)], "x int")
    r_between = run_suite(
        df, [expect_column_values_to_be_between("x", min_value=0, mostly=0.5)],
        raise_on_failure=False,
    )[0]
    assert r_between.element_count == 2          # NULL not in the basis
    assert r_between.unexpected_count == 1       # only -1 violates
    assert r_between.success                     # 50% <= 1-0.5

    r_inset = run_suite(
        df, [expect_column_values_to_be_in_set("x", (5,), mostly=0.5)],
        raise_on_failure=False,
    )[0]
    assert r_inset.element_count == 2 and r_inset.unexpected_count == 1


def test_row_count_and_column_exists(spark, trips):
    # 1/16 NULL pickups = 6.25% > the 1% the mostly=0.99 gate tolerates (G3)
    results = run_suite(trips, BRONZE_SUITE, raise_on_failure=False)
    failed = [r for r in results if not r.success]
    assert len(failed) == 1
    assert failed[0].expectation.column == "tpep_pickup_datetime"
    assert abs(failed[0].unexpected_percent - 6.25) < 1e-9

    # dilute the fixture so the null fraction drops below 1% -> suite passes
    valid = trips.filter("tpep_pickup_datetime is not null")
    big = trips
    for _ in range(6):
        big = big.unionByName(valid)  # 16 + 6*15 = 106 rows, 1 null < 1%
    assert all(r.success for r in run_suite(big, BRONZE_SUITE))

    empty = spark.createDataFrame([], trips.schema)
    with pytest.raises(ValidationError):
        run_suite(empty, [expect_table_row_count_to_be_between(min_value=1)], "empty")


def test_silver_suite_on_fixture(spark, trips):
    silver = silver_trips(bronze_trips(trips)).cache()
    # the fixture's NULL-vendorid / NULL-pickup rows violate the mostly=1.0
    # gates (G4) — the suite must catch exactly those two
    results = run_suite(silver, SILVER_SUITE, raise_on_failure=False)
    failed = {r.expectation.column for r in results if not r.success}
    assert failed == {"vendorid", "tpep_pickup_datetime"}

    clean = silver.filter("vendorid is not null and tpep_pickup_datetime is not null")
    assert all(r.success for r in run_suite(clean, SILVER_SUITE))


def test_dbt_tests(spark, trips):
    silver = silver_trips(bronze_trips(trips)).cache()

    assert not_null_failures(silver, "unique_trip_id").count() == 0       # Q1
    assert unique_failures(silver, "unique_trip_id").count() == 0         # Q2
    assert accepted_values_failures(                                      # Q3
        silver, "payment_type", [0, 1, 2, 3, 4, 5, 6]
    ).count() == 0
    assert no_negative_total_failures(silver).count() == 0                # Q5

    # Q4 relationships: silver.vendorid present in bronze.vendorid
    bronze = bronze_trips(trips)
    assert relationship_failures(silver, "vendorid", bronze, "vendorid").count() == 0

    # and a failing case: a child key with no parent
    child = spark.createDataFrame([(1,), (99,)], "k int")
    parent = spark.createDataFrame([(1,)], "k int")
    fails = relationship_failures(child, "k", parent, "k").collect()
    assert [r["k"] for r in fails] == [99]


def test_accepted_values_ignores_nulls(spark):
    df = spark.createDataFrame([(None,), (1,), (9,)], "x int")
    fails = accepted_values_failures(df, "x", [1, 2]).collect()
    assert [r["x"] for r in fails] == [9]


def test_single_pass_plan(spark, trips):
    """The suite evaluation should be one aggregate over the input — verify
    no joins/extra scans appear in the plan."""
    suite = [
        expect_column_values_to_not_be_null("vendorid"),
        expect_column_values_to_be_between("fare_amount", 0, mostly=0.9),
        expect_column_values_to_be_in_set("payment_type", (1, 2, 3, 4, 5, 6), mostly=0.5),
    ]
    # does not raise; exercises the combined agg path on a real DataFrame
    results = run_suite(trips, suite, raise_on_failure=False)
    assert len(results) == 3


def test_profile_numeric(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.quality.profile import (
        profile_numeric,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 10.0), (4, 30.0)], "k long, v double"
    )
    out = {r["col_name"]: r for r in profile_numeric(df, ["k", "v"]).collect()}
    assert out["k"]["n_nonnull"] == 4 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 4
    assert out["k"]["min_value"] == 1.0 and out["k"]["max_value"] == 4.0
    assert out["v"]["n_nonnull"] == 3 and out["v"]["n_null"] == 1
    assert out["v"]["n_distinct"] == 2
    assert out["v"]["min_value"] == 10.0 and out["v"]["max_value"] == 30.0


def test_exact_zscore_outliers(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.quality.profile import (
        exact_zscore_outliers,
    )
    # group "a": tight cluster + one wild point (the cluster must be
    # large enough that the wild point does not mask itself by inflating
    # the variance: one point among n flags iff dev^2 > k^2 * var, which
    # needs n >> k^2); group "b": uniform, none
    rows = [("a", 10.0 + (i % 5) * 0.05) for i in range(30)]
    rows += [("a", 1000.0)]
    rows += [("b", float(v)) for v in range(10)]
    rows += [("b", None)]  # NULL values are excluded, not counted
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r["k"]: (r["n"], r["n_outliers"])
           for r in exact_zscore_outliers(df, "k", "v", k=3).collect()}
    assert out["a"] == (31, 1)  # only the 1000.0 point flags
    assert out["b"] == (10, 0)  # uniform data has no 3-sigma points


def test_exact_zscore_outliers_fractional_k(spark):
    """Fractional k is honored exactly (k=2.5 tests against 6.25 sigma^2,
    not a truncated 6): a point between 2.44 and 2.5 sigma flags at k=2.44
    but not at k=2.5."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.quality.profile import (
        exact_zscore_outliers,
    )
    # 100 points at +-1 plus one at 2.56.  Including the extra point in the
    # group moments: mean = 2.56/101, var = (100 + 2.56^2)/101 - mean^2, so
    # the point sits at z ~ 2.4685 sigma — above 2.44, below 2.5.  The old
    # int(k*k) truncation would test k=2.5 against 6 (z > 2.449) and
    # wrongly flag it.
    base = [-1.0, 1.0] * 50
    rows = [("g", x) for x in base] + [("g", 2.56)]
    df = spark.createDataFrame(rows, "k string, v double")
    n_at = {}
    for kk in (2.44, 2.5):
        out = {r["k"]: r["n_outliers"]
               for r in exact_zscore_outliers(df, "k", "v", k=kk).collect()}
        n_at[kk] = out["g"]
    assert n_at[2.44] == 1 and n_at[2.5] == 0


def test_equal_width_histogram(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.quality.profile import (
        equal_width_histogram,
    )
    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10]] + [(None,)],
        "v double",
    )
    out = {r["bucket"]: (r["lo"], r["hi"], r["n"])
           for r in equal_width_histogram(df, "v", n_bins=5).collect()}
    # width 2: buckets [0,2) [2,4) [4,6) [6,8) [8,10]; max folds into last
    assert {b: n for b, (_, _, n) in out.items()} == {0: 2, 1: 2, 2: 2, 3: 2, 4: 3}
    assert out[0][0] == 0.0 and out[4][1] == 10.0
    # degenerate: all-equal column lands in bucket 0
    one = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    got = equal_width_histogram(one, "v", n_bins=4).collect()
    assert len(got) == 1 and got[0]["bucket"] == 0 and got[0]["n"] == 2


# -- fused gates: one aggregate per stage, same verdicts as one query per test

def _frame(spark, rows):
    return spark.createDataFrame(
        [tuple(r[f.name] for f in TRIP_SCHEMA.fields) for r in rows], TRIP_SCHEMA)


def _clean_rows(n):
    return [trip_row(
        vendorid=1 + i % 2,
        tpep_pickup_datetime=ts(f"2024-01-{1 + i % 27:02d} 08:00:00"),
        tpep_dropoff_datetime=ts(f"2024-01-{1 + i % 27:02d} 08:15:00"),
        fare_amount=10.0 + i,
    ) for i in range(n)]


def _gate(df, suite, **kw):
    """Fused results by dbt test name (or GX description), and what the gate
    raises (None if it passes)."""
    results = run_suite(df, suite, raise_on_failure=False, **kw)
    try:
        run_suite(df, suite, "t", **kw)
        raised = None
    except ValueError as exc:
        raised = exc
    return {r.expectation.test or r.expectation.describe(): r for r in results}, raised


def _assert_parity(results, raised, per_check, order):
    for name, failing in per_check.items():
        assert results[name].unexpected_count == failing, name
        assert results[name].success == (failing == 0), name
    first = next((n for n in order if per_check[n]), None)
    if first is None:
        assert raised is None
    else:
        assert type(raised) is DbtTestFailure
        assert str(raised) == f"dbt test {first} returned failing rows"


@pytest.mark.parametrize("defect", [None, "vendorid", "tpep_pickup_datetime",
                                    "tpep_dropoff_datetime"])
def test_bronze_gate_matches_per_test_functions(spark, defect):
    rows = _clean_rows(150)
    if defect:
        rows[3][defect] = None
    bronze = bronze_trips(_frame(spark, rows))
    results, raised = _gate(bronze, BRONZE_TESTS + BRONZE_SUITE)
    cols = ("vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime")
    per_check = {f"bronze.not_null.{c}": not_null_failures(bronze, c).count()
                 for c in cols}
    assert sum(per_check.values()) == (1 if defect else 0)
    _assert_parity(results, raised, per_check, list(per_check))
    # the GX part of the gate is unchanged: 1 NULL pickup in 150 < 1%
    assert all(r.success for r in results.values() if not r.expectation.test)


@pytest.mark.parametrize("rows, passes", [(101, True), (99, False)])
def test_bronze_gate_mostly_threshold(spark, rows, passes):
    """G3 (pickup not NULL, mostly=0.99) with one NULL pickup just under and
    just over 1%: the fused gate agrees with the suite run alone, and the dbt
    not_null test on the same column still fails first, as it always has."""
    data = _clean_rows(rows)
    data[0]["tpep_pickup_datetime"] = None
    bronze = bronze_trips(_frame(spark, data))
    g3 = BRONZE_SUITE[-1].describe()
    fused, raised = _gate(bronze, BRONZE_TESTS + BRONZE_SUITE)
    alone = {r.expectation.describe(): r
             for r in run_suite(bronze, BRONZE_SUITE, raise_on_failure=False)}
    assert fused[g3].success is alone[g3].success is passes
    assert fused[g3].unexpected_count == alone[g3].unexpected_count == 1
    assert fused[g3].element_count == alone[g3].element_count == rows
    assert str(raised) == \
        "dbt test bronze.not_null.tpep_pickup_datetime returned failing rows"
    if passes:
        run_suite(bronze, BRONZE_SUITE)
    else:
        with pytest.raises(ValidationError, match="mostly=0.99"):
            run_suite(bronze, BRONZE_SUITE, "bronze_yellow_tripdata")


_SILVER_DEFECTS = {
    "duplicated_id": lambda s: s.unionByName(s.limit(1)),
    "null_id": lambda s: s.unionByName(
        s.limit(1).withColumn("unique_trip_id", F.lit(None).cast("string"))),
    "two_null_ids": lambda s: s.unionByName(
        s.limit(2).withColumn("unique_trip_id", F.lit(None).cast("string"))),
    "null_pickup": lambda s: s.unionByName(
        s.limit(1).withColumn("unique_trip_id", F.lit("x"))
        .withColumn("tpep_pickup_datetime", F.lit(None).cast("timestamp"))),
    "payment_type_9": lambda s: s.unionByName(
        s.limit(1).withColumn("unique_trip_id", F.lit("x"))
        .withColumn("payment_type", F.lit(9).cast(s.schema["payment_type"].dataType))),
    "orphan_vendorid": lambda s: s.unionByName(
        s.limit(1).withColumn("unique_trip_id", F.lit("x"))
        .withColumn("vendorid", F.lit(99).cast(s.schema["vendorid"].dataType))),
    "negative_total": lambda s: s.unionByName(
        s.limit(1).withColumn("unique_trip_id", F.lit("x"))
        .withColumn("total_amount", F.lit(-1.0).cast(s.schema["total_amount"].dataType))),
}


@pytest.mark.parametrize("defect", [None, *_SILVER_DEFECTS])
def test_silver_gate_matches_per_test_functions(spark, defect):
    bronze = bronze_trips(_frame(spark, _clean_rows(40)))
    silver = silver_trips(bronze).localCheckpoint()
    if defect:
        silver = _SILVER_DEFECTS[defect](silver).localCheckpoint()
    results, raised = _gate(silver, SILVER_TESTS, parent=bronze)
    per_check = {
        "silver.unique.unique_trip_id":
            unique_failures(silver, "unique_trip_id").count(),
        "silver.not_null.unique_trip_id":
            not_null_failures(silver, "unique_trip_id").count(),
        "silver.not_null.tpep_pickup_datetime":
            not_null_failures(silver, "tpep_pickup_datetime").count(),
        "silver.accepted_values.payment_type":
            accepted_values_failures(silver, "payment_type", list(range(7))).count(),
        "silver.relationships.vendorid":
            relationship_failures(silver, "vendorid", bronze, "vendorid").count(),
        "silver.assert_total_amount_positive":
            no_negative_total_failures(silver).count(),
    }
    assert (sum(per_check.values()) > 0) == (defect is not None)
    assert list(per_check) == [e.test for e in SILVER_TESTS]
    _assert_parity(results, raised, per_check, list(per_check))


def test_unique_counts_failing_keys_not_rows(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",), ("c",), (None,), (None,)], "k string")
    [r] = run_suite(df, [Expectation("unique", "k", test="t.unique.k")],
                    raise_on_failure=False)
    assert r.unexpected_count == unique_failures(df, "k").count() == 3  # a, b, NULL
    assert r.element_count == 4
