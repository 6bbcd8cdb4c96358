"""The full medallion pipeline as one driver program — the Spark
re-expression of the reference's Airflow DAG ``yellow_taxi_full_pipeline``
(reference ``dags/nyc_taxi_pipeline.py:43-244``; stage graph at ``:234-242``).

Stage order and barrier semantics match the reference exactly:

  ingest (staging month load) -> bronze run -> bronze validate ->
  silver run -> silver tests -> silver validate -> gold run ->
  gold validate -> finalize (ledger SUCCESS)

Any quality-gate failure raises, halting downstream stages; the ledger row
flips to FAILED with the (truncated) error, and the alert hook fires — the
same lifecycle as the reference's ``on_failure_callback`` + Slack webhook.

Each gate stage is one ``run_suite`` aggregate: bronze's dbt ``not_null``
tests ride in the same ``agg()`` as ``BRONZE_SUITE``, and the six silver dbt
tests are one query (grouped by ``unique_trip_id`` for ``unique``, a
broadcast bronze-key flag for ``relationships``).  The reference runs each
test and expectation as its own query; a failure here still raises the same
exception, naming the same check, at the same stage.

Spark-specific physical choices (SURVEY.md section 4):

- staging/bronze/silver are **month-partitioned parquet**; the P3 month
  filter becomes partition pruning, and idempotent month re-loads are
  dynamic partition overwrite instead of DELETE+COPY;
- silver is **cached once** and fanned out to all five gold marts (the
  reference runs 4 dbt threads against Postgres; sharing the scan is
  strictly better);
- gold merges are anti-join+union (merge_write_path) keyed exactly like the
  reference's dbt ``unique_key`` configs;
- every table is written through the ``Warehouse``, which records its schema,
  so re-reads run no parquet schema-inference job.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Warehouse
from ..functions.datetime import month_key
from ..operators.merge import merge_write_path
from ..plans import (
    bronze_trips,
    gold_daily_summary,
    gold_monthly_summary,
    gold_payment_summary,
    gold_vendor_summary,
    gold_zone_summary,
    silver_trips,
)
from ..quality.dbt_tests import (  # noqa: F401 — the per-test functions stay importable here
    accepted_values_failures,
    no_negative_total_failures,
    not_null_failures,
    relationship_failures,
    unique_failures,
)
from ..quality.expectations import DbtTestFailure, run_suite  # noqa: F401 — DbtTestFailure re-exported
from ..quality.suites import (
    BRONZE_SUITE,
    BRONZE_TESTS,
    GOLD_SUITE,
    SILVER_SUITE,
    SILVER_TESTS,
)
from ..sources.readers import read_trip_parquet
from .ledger import Ledger
from .runner import PipelineRunner

logger = logging.getLogger("nyc_taxi_spark.jobs")

PIPELINE_NAME = "yellow_taxi_full_pipeline"  # reference dags/nyc_taxi_pipeline.py:45


class MedallionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        source_path_for_month: Callable[[str], str],
        alert_hook: Callable[[str, str, str], None] | None = None,
        retries: int = 0,
        retry_delay: float = 0.0,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.source_path_for_month = source_path_for_month
        self.ledger = Ledger(spark, warehouse)
        self.alert_hook = alert_hook
        self.retries = retries
        self.retry_delay = retry_delay

    # -- helpers -----------------------------------------------------------
    def _read(self, layer: str, table: str) -> DataFrame | None:
        if self.warehouse.exists(layer, table):
            return self.warehouse.read(self.spark, layer, table)
        return None

    def _merge(self, layer: str, table: str, delta: DataFrame,
               keys: list[str]) -> None:
        """``merge_write_path`` into a warehouse table, which records the
        schema the swap wrote."""
        written = merge_write_path(
            self.spark, self.warehouse.path(layer, table), delta, keys,
            target=self._read(layer, table),
        )
        self.warehouse.record(self.spark, layer, table, written)

    # -- stages ------------------------------------------------------------
    def ingest_staging(self, month: str) -> None:
        """S1-S3 scan + S10 idempotent month write (partition overwrite)."""
        df = read_trip_parquet(self.spark, self.source_path_for_month(month))
        out = df.withColumn("month", month_key(F.col("tpep_pickup_datetime")))
        # rows whose pickup month is NULL/other still belong to this load;
        # tag them with the load month so the partition swap stays idempotent
        out = out.withColumn(
            "month", F.coalesce(F.col("month"), F.lit(month))
        )
        self.warehouse.write(out, "staging", "yellow_tripdata_raw",
                             partition_by=["month"])

    def build_bronze(self, month: str) -> None:
        staging = self._read("staging", "yellow_tripdata_raw")
        bronze_delta = bronze_trips(staging, target_month=month).withColumn(
            "month", month_key(F.col("tpep_pickup_datetime"))
        )
        # bronze unique_key = [vendorid, tpep_pickup_datetime]
        # (reference bronze_yellow_tripdata.sql:1-5); delta covers exactly one
        # month -> dynamic partition overwrite IS the merge
        self.warehouse.write(bronze_delta, "bronze", "bronze_yellow_tripdata",
                             partition_by=["month"])

    def validate_bronze(self) -> None:
        bronze = self._read("bronze", "bronze_yellow_tripdata")
        if bronze is None:
            # no month has written a bronze row yet (an empty or all-NULL
            # pickup first month): the error a not_null test raises on a
            # missing table, which the ledger and alert record
            raise AttributeError("'NoneType' object has no attribute 'filter'")
        run_suite(bronze, BRONZE_TESTS + BRONZE_SUITE, "bronze_yellow_tripdata")

    def build_silver(self, month: str) -> None:
        bronze = self._read("bronze", "bronze_yellow_tripdata")
        bronze_month = bronze.filter(F.col("month") == month)  # partition-pruned
        target = self._read("silver", "silver_yellow_tripdata")
        delta = silver_trips(bronze_month.drop("month"), target=target)
        # delete+insert on unique_trip_id (silver_yellow_tripdata.sql:1-5)
        self._merge("silver", "silver_yellow_tripdata", delta, ["unique_trip_id"])

    def test_silver(self) -> None:
        silver = self._read("silver", "silver_yellow_tripdata")
        bronze = self._read("bronze", "bronze_yellow_tripdata")
        run_suite(silver, SILVER_TESTS, "silver_yellow_tripdata", parent=bronze)

    def validate_silver(self) -> None:
        silver = self._read("silver", "silver_yellow_tripdata")
        run_suite(silver, SILVER_SUITE, "silver_yellow_tripdata")

    def build_gold(self) -> None:
        silver = self._read("silver", "silver_yellow_tripdata").cache()
        try:
            # incremental marts merge on their dbt unique_key configs
            daily = gold_daily_summary(
                silver, self._read("gold", "gold_daily_summary")
            )
            self._merge("gold", "gold_daily_summary", daily, ["trip_date"])
            monthly = gold_monthly_summary(
                silver, self._read("gold", "gold_monthly_summary")
            )
            self._merge("gold", "gold_monthly_summary", monthly, ["revenue_month"])
            zone = gold_zone_summary(silver, self._read("gold", "gold_zone_summary"))
            self._merge("gold", "gold_zone_summary", zone,
                        ["revenue_month", "pulocationid"])
            # full-rebuild marts (table materialization)
            self.warehouse.write(gold_vendor_summary(silver), "gold",
                                 "gold_vendor_summary")
            self.warehouse.write(gold_payment_summary(silver), "gold",
                                 "gold_payment_summary")
        finally:
            silver.unpersist()

    def validate_gold(self) -> None:
        monthly = self._read("gold", "gold_monthly_summary")
        run_suite(monthly, GOLD_SUITE, "gold_monthly_summary")

    # -- the DAG -----------------------------------------------------------
    def run_month(self, month: str | None = None) -> str:
        """Run the full pipeline for ``month`` (default: next after the last
        SUCCESS, O2).  Returns the processed month.  Ledger lifecycle and
        alerting wrap the stage graph exactly like the reference DAG."""
        month = month or self.ledger.target_month(PIPELINE_NAME)
        run_id = self.ledger.register_run(PIPELINE_NAME, month)

        runner = PipelineRunner(PIPELINE_NAME, alert_hook=self.alert_hook)
        runner.add("ingest", lambda ctx: self.ingest_staging(month),
                   retries=self.retries, retry_delay=self.retry_delay)
        runner.add("bronze_run", lambda ctx: self.build_bronze(month),
                   retries=self.retries, retry_delay=self.retry_delay)
        runner.add("bronze_validate", lambda ctx: self.validate_bronze(), retries=0)
        runner.add("silver_run", lambda ctx: self.build_silver(month),
                   retries=self.retries, retry_delay=self.retry_delay)
        runner.add("silver_test", lambda ctx: self.test_silver(), retries=0)
        runner.add("silver_validate", lambda ctx: self.validate_silver(), retries=0)
        runner.add("gold_run", lambda ctx: self.build_gold(),
                   retries=self.retries, retry_delay=self.retry_delay)
        runner.add("gold_validate", lambda ctx: self.validate_gold(), retries=0)
        try:
            runner.run()
        except Exception as exc:  # noqa: BLE001 — ledger must record failure
            self.ledger.mark_failed(run_id, str(exc))
            raise
        self.ledger.mark_success(run_id)
        return month
