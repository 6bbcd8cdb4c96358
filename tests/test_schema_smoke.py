"""Schema smoke over every registered query — the engine's analog of the
reference CI's ``dbt run --empty`` step (``.github/workflows/ci.yml:107-113``),
which runs every model against zero-row inputs so schema / analysis errors
surface in seconds instead of mid-pipeline.

Each ``queries()`` entry is built against sf0.001 and materialized with
``.limit(0)`` — Catalyst analysis, resolution, and physical planning all
run (catching missing columns, type mismatches, unresolvable expressions),
but no data beyond what query CONSTRUCTION itself computes (watermark
scalars, eager checkpoints) flows.  Values are checked separately, against
the DuckDB oracle, by ``tests/test_oracle.py``.

Streaming queries are excluded: their construction runs the stream to
completion regardless of a limit, so they are smoke-tested by their own
suites (and by the oracle test).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# construction of these RUNS a streaming query (availableNow) — not a
# zero-cost schema check; covered by tests/test_streaming_*.py
STREAMING = {"stateful_sessions", "stream_dedup"}


def _cases():
    return sorted(set(entry.queries()) - STREAMING)


@pytest.mark.parametrize("name", _cases())
def test_query_schema_smoke(spark, name):
    df = entry.queries()[name](spark, SF)
    # limit(0) materialization: full analysis + planning, zero data rows
    rows = df.limit(0).collect()
    assert rows == []
    assert len(df.schema.fields) > 0
