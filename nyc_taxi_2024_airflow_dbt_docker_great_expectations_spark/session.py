"""SparkSession factory.

Parity notes (reference -> Spark):

- ``spark.sql.ansi.enabled=false``: a PERFORMANCE choice, not a semantic
  one.  Every operator is ANSI-NEUTRAL — guarded divisions use
  ``try_divide``, the reference's lossy ingest coercion
  (``pd.to_numeric(errors='coerce')``,
  reference ``dags/nyc_taxi_pipeline.py:148-150``) uses ``try_cast`` — so
  the whole registry runs bit-identically under a vanilla ANSI-on Spark 4
  session (enforced: ``tests/test_oracle.py`` runs every query in both
  modes, ``tests/test_ansi.py`` the synthetic edge shapes).  ANSI's checked arithmetic, however, costs
  10-150% on hot vectorized loops (measured at sf0.1: rank_correlation
  2.7->4.4s, semantic_dedup 1.45->3.6s — overflow checks on every add/mul
  in higher-order array functions and integer rank arithmetic), so the
  session runs the unchecked mode.  Flipping this conf changes NO query
  result, only speed.  SPARK_GRAFT_ANSI=true overrides for strict runs.
- ``spark.sql.session.timeZone=UTC``: the reference's Postgres TIMESTAMP
  columns are tz-naive (``dags/nyc_taxi_pipeline.py:72-79``); pinning UTC makes
  epoch extraction and string rendering deterministic.
- ``partitionOverwriteMode=dynamic``: the reference deletes a month slice
  before re-loading it (``dags/nyc_taxi_pipeline.py:130-135``); dynamic
  partition overwrite is the Spark-native idempotent equivalent.
- AQE on: runtime coalescing / skew-join splitting — essential at the 100 TB
  design point where static shuffle-partition counts are always wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "nyc-taxi-spark-engine"


def default_parallelism() -> int:
    """CPU budget: honour the driver's SPARK_GRAFT_CPUS, else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Heap for the local-mode JVM: Spark's 1g default assumes a thin
    cluster driver, but in local mode this one JVM hosts every task
    thread's execution memory — 32 concurrent tasks in 1g is an OOM (the
    10x scale smoke found exactly this: parquet writers scaled row groups
    to fit, then the PPJoin window spilled the heap).  Budget a quarter
    of system RAM, clamped to [4g, 32g]; SPARK_GRAFT_DRIVER_MEM
    overrides.  On a real cluster spark-submit's --driver-memory /
    --executor-memory take over and this never applies."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
        gb = max(4, min(32, total_kb // (4 * 1024 * 1024)))
    except (OSError, ValueError, IndexError):
        gb = 4
    return f"{gb}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[SPARK_GRAFT_CPUS]``.  ``shuffle_partitions`` defaults to the
    core count locally — on a 1000-executor cluster you would set this to
    2-3x total cores (AQE coalesces the excess at runtime anyway).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # no-op once a JVM exists (first builder wins); required before
        # launch so local-mode task threads get a real execution-memory
        # budget — see default_driver_memory
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        # perf-only: semantics are ANSI-neutral; see module docstring.
        # Normalize the env var to a strict 'true'/'false' — values like
        # '1', 'TRUE ', or 'yes' would otherwise reach the conf verbatim
        # and fail lazily at the first query instead of at session build.
        .config("spark.sql.ansi.enabled", str(
            os.environ.get("SPARK_GRAFT_ANSI", "false").strip().lower()
            in ("true", "1", "yes", "on")).lower())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
