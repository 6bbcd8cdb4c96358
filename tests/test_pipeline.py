"""Ledger + runner control-plane semantics (reference tests/test_pipeline_logic.py
re-expressed without mocks: real Spark, tiny data)."""

from __future__ import annotations

import os
import time

import pytest

from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.catalog import Warehouse
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.pipeline import (
    Ledger,
    PipelineRunner,
)


def test_ledger_first_run_month(spark, tmp_warehouse):
    ledger = Ledger(spark, Warehouse(tmp_warehouse))
    # first run -> 2024-01 (reference test :16-33)
    assert ledger.target_month("p") == "2024-01"


def test_ledger_month_advance_and_lifecycle(spark, tmp_warehouse):
    ledger = Ledger(spark, Warehouse(tmp_warehouse))
    run1 = ledger.register_run("p", "2024-05")
    ledger.mark_success(run1)
    # 2024-05 SUCCESS -> next is 2024-06 (reference test :35-52)
    assert ledger.target_month("p") == "2024-06"

    run2 = ledger.register_run("p", "2024-06")
    ledger.mark_failed(run2, "boom " + "x" * 600)
    # failure does not advance the watermark
    assert ledger.target_month("p") == "2024-06"
    row = ledger.read().filter("run_id = '%s'" % run2).first()
    assert row["status"] == "FAILED"
    assert len(row["error_message"]) <= 500  # truncation (failure_callbacks.py:18)
    assert row["runtime_seconds"] is not None

    ok = ledger.read().filter("run_id = '%s'" % run1).first()
    assert ok["status"] == "SUCCESS"


def test_ledger_lifecycle_under_non_utc_tz(spark, tmp_warehouse):
    """Ledger times are UTC instants whatever the host's TZ: PySpark reads a
    naive datetime as local time, which once put created_at hours off."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        ledger = Ledger(spark, Warehouse(tmp_warehouse))
        run = ledger.register_run("p", "2024-05")
        ledger.mark_success(run)
        row = ledger.read().filter(f"run_id = '{run}'").first()
        assert 0 <= row["runtime_seconds"] < 60
        assert row["updated_at"] >= row["created_at"]
        assert abs(row["created_at"].timestamp() - time.time()) < 60
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_ledger_conflict_ignore(spark, tmp_warehouse):
    ledger = Ledger(spark, Warehouse(tmp_warehouse))
    ledger.register_run("p", "2024-01", run_id="fixed")
    ledger.register_run("p", "2024-01", run_id="fixed")  # S11: second is a no-op
    assert ledger.read().filter("run_id = 'fixed'").count() == 1


def test_runner_retries_and_context(spark):
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "month-2024-01"

    def consumer(ctx):
        # O6: downstream reads the upstream return value (XCom replacement)
        return ctx["load"] + "-consumed"

    runner = PipelineRunner("p", sleep=lambda s: None)
    runner.add("load", flaky, retries=3, retry_delay=0.0)
    runner.add("bronze", consumer)
    ctx = runner.run()
    assert ctx["load"] == "month-2024-01"
    assert ctx["bronze"] == "month-2024-01-consumed"
    assert calls["n"] == 3


def test_runner_terminal_failure_alerts_and_halts(spark):
    alerts = []

    def bad(ctx):
        raise RuntimeError("fatal")

    ran = []
    runner = PipelineRunner("p", alert_hook=lambda *a: alerts.append(a),
                            sleep=lambda s: None)
    runner.add("gate", bad, retries=1, retry_delay=0.0)
    runner.add("downstream", lambda ctx: ran.append(1))
    with pytest.raises(RuntimeError):
        runner.run()
    assert alerts and alerts[0][1] == "gate"
    assert ran == []  # barrier semantics: downstream never runs


def test_runner_select_exclude(spark):
    runner = PipelineRunner("p", sleep=lambda s: None)
    runner.add("a", lambda ctx: "A")
    runner.add("b", lambda ctx: "B")
    runner.add("c", lambda ctx: "C")
    assert set(runner.run(select=["a", "c"])) == {"a", "c"}   # O7 --select
    assert set(runner.run(exclude=["b"])) == {"a", "c"}       # O7 --exclude


def test_dual_logging(tmp_warehouse):
    import os

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.pipeline.logging_utils import (
        get_logger,
    )

    log_file = os.path.join(tmp_warehouse, "pipeline.log")
    logger = get_logger("test_dual", log_file)
    logger.info("hello medallion")
    # idempotent: second call must not duplicate handlers
    logger2 = get_logger("test_dual", log_file)
    assert logger2 is logger and len(logger.handlers) == 2
    for h in logger.handlers:
        h.flush()
    with open(log_file) as f:
        content = f.read()
    assert content.count("hello medallion") == 1
    assert "INFO" in content
