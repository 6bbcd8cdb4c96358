"""Every registry query against its DuckDB oracle, in both ANSI modes —
the engine's analog of the reference CI's ``dbt run --empty`` + ``dbt
test`` steps (``.github/workflows/ci.yml:107-113``), but checking values,
not only schemas.

Each ``QUERIES`` entry is built, planned and executed at sf0.001 on the
shared session and compared with its oracle SQL run on DuckDB: row count,
column names and order-insensitive values, bit-exact on floats
(``tools/check_oracle.compare``).  ANSI mode is flipped at runtime on the
shared session: the repo session runs ANSI off for speed (session.py),
while a vanilla Spark 4 session runs ANSI on, and results must be
identical in both.

Run one key with ``pytest tests/test_oracle.py -k <key>``; other SFs and
key subsets go through ``python tools/check_oracle.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_oracle import compare, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


@pytest.fixture(params=["ansi_off", "ansi_on"])
def session(request, spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled",
                   str(request.param == "ansi_on").lower())
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("name", list(entry.QUERIES))
def test_query_matches_oracle(session, duck, name):
    build, oracle = entry.QUERIES[name]
    problems = compare(name, build(session, SF).toPandas(),
                       duck.execute(oracle).fetchdf())
    assert not problems, problems
