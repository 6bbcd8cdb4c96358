"""ANSI-session hardening on synthetic inputs.

A vanilla Spark 4 session runs ANSI mode ON, while the repo session runs
ANSI off as a pure PERFORMANCE choice (checked arithmetic costs 10-150% on
hot loops; see session.py).  That split is only safe if every query is
ANSI-NEUTRAL.  ``tests/test_oracle.py`` checks every registry query
against its DuckDB oracle in both modes; this module pins the edge shapes
the sf0.001 data does not contain: a zero z-score denominator in
``ab_test`` (once a DIVIDE_BY_ZERO only under ANSI) and lossy integer
coercion in the readers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ansi_spark(request):
    # reuse the shared session fixture but flip ANSI at runtime —
    # spark.sql.ansi.enabled is a runtime conf, exactly what the --ansi
    # gate sim (tools/check_oracle.py) does
    spark = request.getfixturevalue("spark")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_ab_test_zero_denominator_yields_null(ansi_spark, tmp_path):
    """The exact round-6 crash shape: every user on both sides converted
    (pooled rate exactly 1.0, z denominator exactly 0.0) must yield NULL,
    not DIVIDE_BY_ZERO — matching the DuckDB oracle's division semantics.

    The fixture is SYNTHETIC so the assertion is unconditional: the old
    form only asserted when the sf0.001 data happened to produce a
    unanimous side, i.e. it could vacuously pass while the regression it
    documents came back (round-7 ADVICE)."""
    import __spark_entry__ as entry

    # two users, one per variant (parity split), both convert
    rows = [
        (1, "2024-01-01 09:00:00", 10, "purchase", 1.0, "{}"),
        (2, "2024-01-01 09:01:00", 11, "purchase", 2.0, "{}"),
        (3, "2024-01-01 09:02:00", 10, "click", 0.0, "{}"),
    ]
    ev = ansi_spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    sf_dir = str(tmp_path)
    ev.write.parquet(f"{sf_dir}/events.parquet")

    out = entry.queries()["ab_test"](ansi_spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["rate0"], r["rate1"]) == (1.0, 1.0)
    assert r["z_score"] is None  # try_divide on the 0.0 denominator


def test_lossy_int_coercion_is_ansi_neutral(ansi_spark):
    """S3 coerce semantics (bad value -> NULL) hold under ANSI-on: the
    reader uses try_cast, not the session's cast mode."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.sources.readers import (
        coerce_int_columns,
    )

    df = ansi_spark.createDataFrame(
        [("1",), ("not-a-number",), (None,)], "vendorid string"
    )
    vals = [r["vendorid"]
            for r in coerce_int_columns(df, ["vendorid"]).collect()]
    assert vals == [1, None, None]
