"""End-to-end medallion pipeline integration: ingest -> bronze -> silver ->
gold with ledger lifecycle, quality gates, idempotent re-runs."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from conftest import trip_row, ts
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.catalog import Warehouse
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.pipeline.jobs import (
    MedallionPipeline,
    PIPELINE_NAME,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.schema import TRIP_SCHEMA


def _write_month(spark, src_dir, month, rows):
    path = os.path.join(src_dir, f"yellow_tripdata_{month}.parquet")
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in TRIP_SCHEMA.fields) for r in rows], TRIP_SCHEMA
    )
    df.write.mode("overwrite").parquet(path)
    return path


def _month_rows(month, n=30):
    rows = []
    for i in range(n):
        day = (i % 27) + 1
        rows.append(trip_row(
            tpep_pickup_datetime=ts(f"{month}-{day:02d} 08:00:00"),
            tpep_dropoff_datetime=ts(f"{month}-{day:02d} 08:15:00"),
            pulocationid=100 + (i % 3),
            payment_type=1 + (i % 2),
            fare_amount=10.0 + i,
            vendorid=1 + (i % 2),
        ))
    # one duplicate surrogate key (dedup W1) and one negative fare (F6)
    rows.append(dict(rows[0]))
    rows.append(trip_row(
        tpep_pickup_datetime=ts(f"{month}-05 09:00:00"),
        tpep_dropoff_datetime=ts(f"{month}-05 09:10:00"),
        fare_amount=-5.0,
    ))
    return rows


@pytest.fixture()
def pipe(spark, tmp_warehouse):
    src = os.path.join(tmp_warehouse, "source")
    os.makedirs(src, exist_ok=True)
    wh = Warehouse(os.path.join(tmp_warehouse, "wh"))
    alerts = []
    p = MedallionPipeline(
        spark, wh,
        source_path_for_month=lambda m: os.path.join(
            src, f"yellow_tripdata_{m}.parquet"
        ),
        alert_hook=lambda *a: alerts.append(a),
    )
    p._alerts = alerts
    p._src = src
    return p


def test_full_pipeline_two_months_and_idempotent_rerun(spark, pipe):
    _write_month(spark, pipe._src, "2024-01", _month_rows("2024-01"))
    _write_month(spark, pipe._src, "2024-02", _month_rows("2024-02", n=20))

    # first run: ledger has no SUCCESS -> 2024-01 (O2 first-run semantics)
    assert pipe.run_month() == "2024-01"
    silver1 = pipe.warehouse.read(spark, "silver", "silver_yellow_tripdata")
    n1 = silver1.count()
    assert n1 == 31  # 30 distinct + 1 neg-fare; the dup collapsed (W1)

    # second run advances to 2024-02 via the ledger watermark
    assert pipe.run_month() == "2024-02"
    silver2 = pipe.warehouse.read(spark, "silver", "silver_yellow_tripdata")
    n2 = silver2.count()
    assert n2 == n1 + 21

    # gold marts exist and reconcile with silver
    daily = pipe.warehouse.read(spark, "gold", "gold_daily_summary")
    assert daily.agg(F.sum("total_trips")).first()[0] == n2
    monthly = pipe.warehouse.read(spark, "gold", "gold_monthly_summary")
    assert monthly.count() == 2
    vendor = pipe.warehouse.read(spark, "gold", "gold_vendor_summary")
    assert vendor.count() == 2  # two vendors decoded

    # re-running 2024-02 explicitly is idempotent (S10 + merge semantics)
    pipe.run_month("2024-02")
    silver3 = pipe.warehouse.read(spark, "silver", "silver_yellow_tripdata")
    assert silver3.count() == n2
    monthly3 = pipe.warehouse.read(spark, "gold", "gold_monthly_summary")
    assert monthly3.count() == 2

    # ledger recorded three SUCCESS runs
    ledger = pipe.ledger.read()
    assert ledger.filter("status = 'SUCCESS'").count() == 3
    assert pipe.ledger.last_successful_month(PIPELINE_NAME) == "2024-02"
    assert pipe._alerts == []


def test_pipeline_quality_gate_failure_marks_ledger_and_alerts(spark, pipe):
    # NULL vendorids trip bronze's not_null dbt test (Q1, reference
    # bronze/schema.yml:7-10) — the earliest gate in the DAG, exactly where
    # the reference pipeline would halt
    rows = _month_rows("2024-01", n=10)
    rows += [trip_row(
        vendorid=None,
        tpep_pickup_datetime=ts(f"2024-01-1{i} 10:00:00"),
    ) for i in range(3)]
    _write_month(spark, pipe._src, "2024-01", rows)

    with pytest.raises(ValueError, match="vendorid"):
        pipe.run_month("2024-01")

    ledger = pipe.ledger.read()
    row = ledger.first()
    assert row["status"] == "FAILED"
    assert "vendorid" in row["error_message"]
    # failure does not advance the watermark; next target is still 2024-01
    assert pipe.ledger.target_month(PIPELINE_NAME) == "2024-01"
    # alert hook fired for the failed stage (O5), downstream never ran
    assert pipe._alerts and pipe._alerts[0][1] == "bronze_validate"
    assert not pipe.warehouse.exists("silver", "silver_yellow_tripdata")


@pytest.mark.parametrize("rows, stage, message", [
    # no row at all: the staging table is never written
    ([], "bronze_run", "'NoneType' object has no attribute 'select'"),
    # every pickup NULL: staging keeps the rows, bronze gets none of them
    ([dict(r, tpep_pickup_datetime=None) for r in _month_rows("2024-01")],
     "bronze_validate", "'NoneType' object has no attribute 'filter'"),
])
def test_first_month_with_no_bronze_rows_stops_early(spark, pipe, rows, stage,
                                                     message):
    _write_month(spark, pipe._src, "2024-01", rows)
    with pytest.raises(AttributeError) as err:
        pipe.run_month("2024-01")
    assert str(err.value) == message
    assert [a[1] for a in pipe._alerts] == [stage]
    row = pipe.ledger.read().first()
    assert (row["status"], row["error_message"]) == ("FAILED", message)


def test_month_with_no_bronze_rows_after_a_loaded_one_succeeds(spark, pipe):
    """The gates validate whole tables, so a month that adds no bronze row
    passes them once earlier months have loaded."""
    _write_month(spark, pipe._src, "2024-01", _month_rows("2024-01"))
    _write_month(spark, pipe._src, "2024-02", [])
    _write_month(spark, pipe._src, "2024-03", [
        dict(r, tpep_pickup_datetime=None) for r in _month_rows("2024-03")])
    for m in ("2024-01", "2024-02", "2024-03"):
        assert pipe.run_month(m) == m
    assert pipe.warehouse.read(spark, "silver", "silver_yellow_tripdata").count() == 31
    assert pipe.ledger.read().filter("status = 'SUCCESS'").count() == 3
    assert pipe._alerts == []


def test_failed_stage_waits_retry_delay_then_succeeds(spark, tmp_warehouse):
    """A stage that fails once under ``retries=1`` is retried after
    ``retry_delay`` seconds (the reference DAG waits between retries) and
    the month still ends SUCCESS."""
    src = os.path.join(tmp_warehouse, "source")
    os.makedirs(src, exist_ok=True)
    _write_month(spark, src, "2024-01", _month_rows("2024-01", n=10))
    calls = []

    def source_path(month):
        calls.append((month, time.monotonic()))
        if len(calls) == 1:
            raise OSError("source not reachable yet")
        return os.path.join(src, f"yellow_tripdata_{month}.parquet")

    alerts = []
    p = MedallionPipeline(
        spark, Warehouse(os.path.join(tmp_warehouse, "wh")), source_path,
        alert_hook=lambda *a: alerts.append(a), retries=1, retry_delay=0.3,
    )
    t0 = time.monotonic()
    assert p.run_month("2024-01") == "2024-01"
    assert time.monotonic() - t0 >= 0.3
    (m1, t1), (m2, t2) = calls
    assert m1 == m2 == "2024-01"
    assert t2 - t1 >= 0.3  # the wait sits between the two attempts
    assert alerts == []
    row = p.ledger.read().first()
    assert (row["target_month"], row["status"]) == ("2024-01", "SUCCESS")


# Spark jobs per call in a warm month of two 30-row months, as measured on
# local[4] (AQE on): a global aggregate is 2 jobs (shuffle map + result).
# The silver tests add one shuffle for ``unique`` and two jobs for the
# deduplicated bronze keys the ``relationships`` flag broadcasts.  A ledger
# call is one collect and one write.  Reads name their schema: no job.
JOB_BUDGET = {
    "target_month": 1, "register_run": 2, "mark_success": 2,
    "validate_bronze": 2, "test_silver": 5, "validate_silver": 2,
    "validate_gold": 2,
    "build_bronze": 1,  # the partition write; staging is read schema-known
}


def _count_jobs(spark, owner, names, counts):
    """Tag the jobs of each call of ``owner.<name>`` with its own job group
    and add their number to ``counts[name]``."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    for name in names:
        fn = getattr(owner, name)

        def tagged(*args, _fn=fn, _name=name, **kwargs):
            group = f"job-budget-{_name}-{id(args)}"
            sc.setJobGroup(group, _name)
            try:
                return _fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                bus.waitUntilEmpty(60_000)  # the status store is async
                counts[_name] = counts.get(_name, 0) + len(
                    sc.statusTracker().getJobIdsForGroup(group))

        setattr(owner, name, tagged)


def test_warm_month_job_budget(spark, pipe):
    _write_month(spark, pipe._src, "2024-01", _month_rows("2024-01"))
    _write_month(spark, pipe._src, "2024-02", _month_rows("2024-02"))
    pipe.run_month()
    counts: dict = {}
    _count_jobs(spark, pipe, ("validate_bronze", "test_silver", "validate_silver",
                              "validate_gold", "build_bronze"), counts)
    _count_jobs(spark, pipe.ledger, ("target_month", "register_run",
                                     "mark_success"), counts)
    assert pipe.run_month() == "2024-02"
    over = {k: (counts[k], budget) for k, budget in JOB_BUDGET.items()
            if counts[k] > budget}
    assert not over, f"stages over their job budget (jobs, budget): {over}"


def _tables(wh):
    for layer in sorted(os.listdir(wh.root)):
        for table in sorted(os.listdir(os.path.join(wh.root, layer))):
            yield layer, table


def test_recorded_schemas_match_disk(spark, pipe):
    """After two months and a re-run, the schema the warehouse reads each
    table with is the one a fresh read infers — names, order and types —
    including after the merge swap moved the key columns to the front."""
    _write_month(spark, pipe._src, "2024-01", _month_rows("2024-01"))
    _write_month(spark, pipe._src, "2024-02", _month_rows("2024-02", n=20))
    pipe.run_month()
    pipe.run_month()
    pipe.run_month("2024-02")
    wh = pipe.warehouse
    tables = list(_tables(wh))
    assert len(tables) == 9
    for layer, table in tables:
        path = wh.path(layer, table)
        fresh = spark.read.parquet(path).schema
        assert wh.schemas[path] == fresh, (layer, table)
        assert wh.read(spark, layer, table).schema == fresh, (layer, table)
    daily = wh.schemas[wh.path("gold", "gold_daily_summary")]
    assert daily.names[0] == "trip_date"
    # a month-partitioned table keeps ``month`` last, typed as inferred
    bronze = wh.schemas[wh.path("bronze", "bronze_yellow_tripdata")]
    assert bronze.names[-1] == "month"
