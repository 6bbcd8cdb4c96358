"""Deterministic synthetic NYC yellow-taxi months for the pipeline workload.

Writes one raw TLC-style parquet file per month, with the provider's
mixed-case column names (``VendorID``, ``PULocationID``, ``Airport_fee``)
and int64 ids, so the engine's normalize + ``try_cast`` ingest path runs.
Injected defects follow SURVEY §2.9:

- about 0.5% exact-duplicate rows,
- about 1% negative fares,
- about 3% payment types outside 1-6,
- NULL pickups (about 0.2%),
- vendor and ratecode ids missing from the decode maps.

Distinct trips never share a pickup second, and no pickup falls on a
midnight, so the silver dedup key and the gold daily watermark behave
the same on every seed.

The manifest (expected silver rows, per-month gold totals) is computed
by DuckDB over the written files, never by the engine under test.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONEY = ["fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
         "improvement_surcharge", "congestion_surcharge", "Airport_fee"]

SCHEMA = pa.schema([
    ("VendorID", pa.int64()),
    ("tpep_pickup_datetime", pa.timestamp("us")),
    ("tpep_dropoff_datetime", pa.timestamp("us")),
    ("passenger_count", pa.int64()),
    ("trip_distance", pa.float64()),
    ("RatecodeID", pa.int64()),
    ("store_and_fwd_flag", pa.string()),
    ("PULocationID", pa.int64()),
    ("DOLocationID", pa.int64()),
    ("payment_type", pa.int64()),
    ("fare_amount", pa.float64()),
    ("extra", pa.float64()),
    ("mta_tax", pa.float64()),
    ("tip_amount", pa.float64()),
    ("tolls_amount", pa.float64()),
    ("improvement_surcharge", pa.float64()),
    ("total_amount", pa.float64()),
    ("congestion_surcharge", pa.float64()),
    ("Airport_fee", pa.float64()),
])


def month_name(i: int) -> str:
    """0-based month index -> 'YYYY-MM', starting at the ledger's 2024-01."""
    return f"{2024 + i // 12}-{i % 12 + 1:02d}"


def _month_bounds(month: str) -> tuple[dt.datetime, int]:
    start = dt.datetime.strptime(month, "%Y-%m")
    nxt = (start + dt.timedelta(days=32)).replace(day=1)
    return start, (nxt - start).days


def _with_nulls(rng, values: np.ndarray, share: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < share)


def month_table(seed: int, month_index: int, rows: int,
                null_vendor_rows: int = 0) -> pa.Table:
    """One month of raw trips; the same (seed, month, rows) gives the same
    table.  ``null_vendor_rows`` > 0 makes a month that bronze must reject."""
    rng = np.random.default_rng([seed, month_index, rows])
    start, days = _month_bounds(month_name(month_index))
    n_dup = rows // 200
    n = rows - n_dup
    # unique pickup seconds, none at 00:00:00 (see module docstring)
    slot = rng.choice(days * 86399, size=n, replace=False)
    pickup_s = np.sort((slot // 86399) * 86400 + 1 + slot % 86399)
    duration_s = rng.integers(60, 3600, n)
    epoch_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    pickup = epoch_us + pickup_s * 10**6
    dropoff = pickup + duration_s * 10**6

    # vendors 3-5 and ratecode 99 are absent from the decode maps
    vendor = rng.choice([1, 2, 6, 7, 3, 4, 5], n,
                        p=[0.40, 0.50, 0.03, 0.03, 0.02, 0.01, 0.01])
    ratecode = rng.choice([1, 2, 3, 4, 5, 6, 99], n,
                          p=[0.88, 0.04, 0.02, 0.01, 0.02, 0.01, 0.02])
    payment = rng.choice([1, 2, 3, 4, 5, 6], n, p=[0.70, 0.22, 0.03, 0.03, 0.01, 0.01])
    off = rng.random(n) < 0.03
    payment[off] = rng.choice([0, 7, 8, 9], int(off.sum()))
    distance = np.round(rng.lognormal(0.8, 0.7, n), 2)
    fare = np.round(3.0 + 2.5 * distance + rng.random(n), 2)
    fare[rng.random(n) < 0.01] *= -1.0
    extra = rng.choice([0.0, 0.5, 1.0, 2.5], n)
    mta = np.full(n, 0.5)
    tip = np.round(np.where(payment == 1, fare * rng.uniform(0, 0.3, n), 0.0), 2)
    tolls = np.where(rng.random(n) < 0.05, 6.94, 0.0)
    improvement = np.full(n, 1.0)
    congestion = rng.choice([0.0, 2.5], n, p=[0.2, 0.8])
    airport = np.where(rng.random(n) < 0.08, 1.75, 0.0)
    total = np.round(fare + extra + mta + tip + tolls + improvement
                     + congestion + airport, 2)
    if null_vendor_rows:
        vendor_arr = pa.array(vendor, mask=np.arange(n) < null_vendor_rows)
    else:
        vendor_arr = pa.array(vendor)

    table = pa.table({
        "VendorID": vendor_arr,
        "tpep_pickup_datetime": _with_nulls(rng, pickup, 0.002).cast(pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(dropoff).cast(pa.timestamp("us")),
        "passenger_count": _with_nulls(rng, rng.integers(0, 7, n), 0.02),
        "trip_distance": pa.array(distance),
        "RatecodeID": _with_nulls(rng, ratecode, 0.01),
        "store_and_fwd_flag": pa.array(np.where(rng.random(n) < 0.01, "Y", "N")),
        "PULocationID": pa.array(rng.integers(1, 266, n)),
        "DOLocationID": pa.array(rng.integers(1, 266, n)),
        "payment_type": pa.array(payment),
        "fare_amount": pa.array(fare),
        "extra": pa.array(extra),
        "mta_tax": pa.array(mta),
        "tip_amount": pa.array(tip),
        "tolls_amount": pa.array(tolls),
        "improvement_surcharge": pa.array(improvement),
        "total_amount": pa.array(total),
        "congestion_surcharge": _with_nulls(rng, congestion, 0.01),
        "Airport_fee": _with_nulls(rng, airport, 0.01),
    }, schema=SCHEMA)
    dup = table.take(pa.array(rng.choice(n, n_dup, replace=False)))
    return pa.concat_tables([table, dup])


def source_path(src_dir: str, month: str) -> str:
    return os.path.join(src_dir, f"yellow_tripdata_{month}.parquet")


def write_months(src_dir: str, seed: int, months: int, rows: int) -> list[str]:
    """Write ``months`` consecutive months from 2024-01; return their names."""
    os.makedirs(src_dir, exist_ok=True)
    names = []
    for i in range(months):
        names.append(month_name(i))
        pq.write_table(month_table(seed, i, rows), source_path(src_dir, names[-1]))
    return names


def write_rejected_month(src_dir: str, seed: int, month_index: int,
                         rows: int) -> str:
    """A month carrying NULL vendor ids, which bronze validation rejects."""
    name = month_name(month_index)
    pq.write_table(month_table(seed, month_index, rows, null_vendor_rows=3),
                   source_path(src_dir, name))
    return name


_MANIFEST_SQL = """
WITH silver AS (
  SELECT DISTINCT VendorID, tpep_pickup_datetime, tpep_dropoff_datetime,
         PULocationID, DOLocationID, passenger_count, trip_distance,
         {total} AS total
  FROM read_parquet('{path}')
  WHERE payment_type BETWEEN 1 AND 6
    AND strftime(tpep_pickup_datetime, '%Y-%m') = '{month}'
)
SELECT count(*) AS trips, coalesce(sum(total), 0) AS revenue FROM silver
"""


def manifest(src_dir: str, months: list[str]) -> dict:
    """Expected silver rows and per-month gold totals, computed by DuckDB."""
    import duckdb

    total = " + ".join(f"abs(coalesce({c}, 0))" for c in MONEY)
    con = duckdb.connect()
    try:
        # one thread: a parallel float sum changes its last digits from
        # run to run, and the same seed must give the same manifest
        con.execute("SET threads TO 1")
        per_month = {}
        for m in months:
            trips, revenue = con.execute(_MANIFEST_SQL.format(
                total=total, path=source_path(src_dir, m), month=m)).fetchone()
            per_month[m] = {"trips": int(trips), "revenue": float(revenue)}
    finally:
        con.close()
    return {"silver_rows": sum(v["trips"] for v in per_month.values()),
            "months": per_month}


def source_bytes(src_dir: str, months: list[str]) -> int:
    return sum(os.path.getsize(source_path(src_dir, m)) for m in months)

