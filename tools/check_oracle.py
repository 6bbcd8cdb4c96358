"""The DuckDB oracle for ``__spark_entry__.QUERIES``, for any SF dir.

Runs each entry's query on Spark and its oracle SQL on DuckDB at the
given SF dir, then compares row count, column names, and
order-insensitive values (exact on non-floats, tight tolerance +
exactness report on floats).  ``tests/test_oracle.py`` runs the same
comparison (``compare``) for every key in both ANSI modes at sf0.001;
this CLI is for other SFs and key subsets.

Usage: python tools/check_oracle.py [--ansi|--no-ansi] [sf_dir] [query ...]

``--ansi`` force-sets ``spark.sql.ansi.enabled=true`` at runtime — the
DRIVER gate runs a vanilla Spark 4 session (ANSI on), while the repo
session runs unchecked mode for speed (session.py), and round 6 proved
the difference is live: ab_test's DIVIDE_BY_ZERO crashed only under
ANSI.  ``--no-ansi`` force-sets the unchecked mode.  Every registry
query must pass BOTH modes before it is signed — results must be
bit-identical across modes (ANSI-neutrality), only speed may differ.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            # Spark DateType arrives as object-dtype datetime.date; string
            # timestamps are always ISO here.  Pinning format="ISO8601" for
            # the string case avoids pandas' per-element dateutil fallback
            # (slow + UserWarning spam on every mixed column).
            import datetime as _dt

            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (_dt.date, _dt.datetime)):
                df[c] = (
                    pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
                )
            else:
                try:
                    df[c] = (
                        pd.to_datetime(df[c], format="ISO8601")
                        .dt.tz_localize(None)
                        .astype("datetime64[us]")
                    )
                except (ValueError, TypeError):
                    df[c] = df[c].astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        return [f"row count {len(spark_pdf)} vs {len(duck_pdf)}"]
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return [f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"]
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if {ka, kb} == {"i", "f"} or {ka, kb} == {"u", "f"}:
            # equal VALUES but integer-vs-float dtypes: a value compare
            # passes while a toPandas-canon HASH (the driver's compare)
            # can diverge on representation — the round-6
            # mixture_weights lesson.  Flag it even though values match.
            problems.append(
                f"col {c}: numeric kind mismatch ({a[c].dtype} vs "
                f"{b[c].dtype}) — driver canon-hash risk"
            )
            continue
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            av = a[c].astype(float).to_numpy()
            bv = b[c].astype(float).to_numpy()
            exact = 0
            for x, y in zip(av, bv):
                if (math.isnan(x) and math.isnan(y)) or x == y:
                    exact += 1
                elif not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    problems.append(f"col {c}: {x!r} vs {y!r}")
                    break
            if exact != len(av) and not problems:
                problems.append(
                    f"col {c}: only {exact}/{len(av)} bit-exact (close but hash would differ)"
                )
        else:
            if not a[c].equals(b[c]):
                diff = a[c].astype(str) != b[c].astype(str)
                idx = diff[diff].index[:3].tolist()
                if idx:
                    problems.append(
                        f"col {c} (dtype {a[c].dtype}/{b[c].dtype}) differs at rows "
                        f"{idx}: {a[c].iloc[idx[0]]!r} vs {b[c].iloc[idx[0]]!r}"
                    )
                else:
                    problems.append(
                        f"col {c}: dtype mismatch only ({a[c].dtype} vs {b[c].dtype})"
                    )
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    ansi = "--ansi" in argv
    no_ansi = "--no-ansi" in argv
    if ansi:
        argv.remove("--ansi")
    if no_ansi:
        argv.remove("--no-ansi")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session import get_spark

    spark = get_spark("oracle-check")
    if ansi:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    elif no_ansi:
        # legacy-mode sweep: queries must not DEPEND on strict semantics
        spark.conf.set("spark.sql.ansi.enabled", "false")
    con = duck_connection(sf_dir)
    # a mistyped key (or an imagined flag like --keys) must not shrink
    # the sweep to nothing and print a vacuous "all passed"
    unknown = only - set(e.QUERIES)
    if unknown:
        print(f"ERROR: unknown key(s): {', '.join(sorted(unknown))}")
        return 2

    failures = 0
    for name, (build, oracle) in e.QUERIES.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = build(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        try:
            duck_pdf = con.execute(oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + " | ".join(problems[:4]))
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows)")
    print("all passed" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
