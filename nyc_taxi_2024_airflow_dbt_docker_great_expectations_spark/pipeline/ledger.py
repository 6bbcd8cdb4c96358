"""Run ledger / watermark metadata (reference O2/O3, S11/S12, P10).

The reference keeps ``metadata.pipeline_metadata`` in Postgres
(DDL ``dags/nyc_taxi_pipeline.py:84-95``) and drives month selection off
``MAX(target_month) WHERE status='SUCCESS'`` (``:107-116``); success/failure
updates at ``:29-41`` and ``dags/failure_callbacks.py:23-28``.

Here the ledger is a tiny parquet table in the warehouse's ``metadata``
layer.  It is driver-scale data (one row per run), so each call reads it
with one ``collect()``, computes the change in Python — the conflict-ignore
insert (S11), the status update (S12), the watermark (P10) — and writes it
back at most once: two Spark jobs, not one per SQL statement.

Timestamps are timezone-aware UTC datetimes, so the host's ``TZ`` never
shifts ``created_at`` or ``runtime_seconds``.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Warehouse
from ..functions.datetime import next_month
from ..schema import LEDGER_SCHEMA

FIRST_MONTH = "2024-01"  # reference dags/nyc_taxi_pipeline.py:114
TABLE = ("metadata", "pipeline_metadata")
_TIMESTAMPS = ("created_at", "updated_at")


def _last_success(rows: list[dict], pipeline_name: str) -> str | None:
    """P10: ``SELECT MAX(target_month) WHERE pipeline=? AND status='SUCCESS'``."""
    return max(
        (r["target_month"] for r in rows
         if r["pipeline_name"] == pipeline_name and r["status"] == "SUCCESS"
         and r["target_month"] is not None),
        default=None,
    )


class Ledger:
    def __init__(self, spark: SparkSession, warehouse: Warehouse):
        self.spark = spark
        self.warehouse = warehouse

    # -- storage -----------------------------------------------------------
    def read(self) -> DataFrame:
        if self.warehouse.exists(*TABLE):
            return self.warehouse.read(self.spark, *TABLE)
        return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def _rows(self) -> list[dict]:
        """Every ledger row, in one job.  PySpark hands timestamps back as
        naive local time; they are made aware UTC again."""
        if not self.warehouse.exists(*TABLE):
            return []
        rows = [r.asDict() for r in self.warehouse.read(self.spark, *TABLE).collect()]
        for r in rows:
            for c in _TIMESTAMPS:
                if r[c] is not None:
                    r[c] = r[c].astimezone(dt.timezone.utc)
        return rows

    def _write(self, rows: list[dict]) -> None:
        """Overwrite the ledger with ``rows``: a ``VALUES`` list of bound
        parameters is a local relation in the JVM, where ``createDataFrame``
        would ship the rows through a Python worker (twice the CPU)."""
        names = LEDGER_SCHEMA.fieldNames()
        args = {f"v{i}_{j}": r[c] for i, r in enumerate(rows)
                for j, c in enumerate(names)}
        values = ", ".join(
            "(" + ", ".join(f":v{i}_{j}" for j in range(len(names))) + ")"
            for i in range(len(rows)))
        out = self.spark.sql(
            f"SELECT * FROM VALUES {values} AS t({', '.join(names)})", args=args)
        out = out.select(*[F.col(f.name).cast(f.dataType)
                           for f in LEDGER_SCHEMA.fields])
        self.warehouse.write(out.coalesce(1), *TABLE)

    # -- O2: month selection ----------------------------------------------
    def last_successful_month(self, pipeline_name: str) -> str | None:
        """P10: ``SELECT MAX(target_month) WHERE pipeline=? AND status='SUCCESS'``."""
        return _last_success(self._rows(), pipeline_name)

    def target_month(self, pipeline_name: str) -> str:
        """First run -> 2024-01, else last success + 1 month
        (reference dags/nyc_taxi_pipeline.py:111-116)."""
        last = self.last_successful_month(pipeline_name)
        return FIRST_MONTH if last is None else next_month(last)

    # -- O3: run lifecycle -------------------------------------------------
    def register_run(self, pipeline_name: str, target_month: str,
                     load_type: str = "incremental",
                     run_id: str | None = None) -> str:
        """S11: conflict-ignore insert of a RUNNING row
        (reference dags/nyc_taxi_pipeline.py:122-127)."""
        run_id = run_id or f"{pipeline_name}_{target_month}_{uuid.uuid4().hex[:8]}"
        rows = self._rows()
        if any(r["run_id"] == run_id for r in rows):
            return run_id  # ON CONFLICT DO NOTHING
        now = dt.datetime.now(dt.timezone.utc)
        rows.append(dict(
            pipeline_name=pipeline_name, run_id=run_id, load_type=load_type,
            target_month=target_month,
            last_successful_month=_last_success(rows, pipeline_name),
            status="RUNNING", runtime_seconds=None, error_message=None,
            created_at=now, updated_at=now,
        ))
        self._write(rows)
        return run_id

    def _set_status(self, run_id: str, status: str, error_message: str | None) -> None:
        """S12: status update of one run (runtime_seconds = epoch(now) -
        epoch(created_at), reference dags/nyc_taxi_pipeline.py:34-41; FAILED
        path failure_callbacks.py:23-28, error truncated to 500 chars like
        failure_callbacks.py:18)."""
        now = dt.datetime.now(dt.timezone.utc)
        rows = self._rows()
        runs = [r for r in rows if r["run_id"] == run_id]
        if not runs:
            return  # an UPDATE that matches no row changes nothing
        for r in runs:
            r.update(
                status=status,
                runtime_seconds=(now - r["created_at"]).total_seconds()
                if r["created_at"] else None,
                error_message=error_message[:500] if error_message else None,
                updated_at=now,
            )
        self._write(rows)

    def mark_success(self, run_id: str) -> None:
        self._set_status(run_id, "SUCCESS", None)

    def mark_failed(self, run_id: str, error: str) -> None:
        self._set_status(run_id, "FAILED", error)
