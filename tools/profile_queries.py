"""Isolated per-query profiler for optimization rounds.

Times a named subset of ``__spark_entry__.queries()`` with the exact bench
methodology (compile-warm at sf0.001, ``warm_persisted``, noop sink,
whole-subset rounds, best-of-N) in a dedicated session, and optionally
writes ``explain('formatted')`` plans for each query into ``--plans DIR``
(before/after evidence for an optimization).

Usage:
    python tools/profile_queries.py [--rounds N] [--plans DIR --suffix before]
                                    [--sf SF_DIR] query [query ...]

Prints one line per query: all round times and the min.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session import (
        get_spark,
    )

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qfns = entrymod.queries()
    missing = [q for q in args.queries if q not in qfns]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    warm_dir = "/root/testdata/sf0.001"
    for name in args.queries:
        try:
            qfns[name](spark, warm_dir).write.mode("overwrite").format(
                "noop").save()
        except Exception as exc:  # pragma: no cover - warm is best-effort
            print(f"warm {name}: {exc}", file=sys.stderr)
    try:
        entrymod.warm_persisted(spark, args.sf)
    except Exception as exc:  # pragma: no cover
        print(f"warm_persisted: {exc}", file=sys.stderr)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        for name in args.queries:
            df = qfns[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)

    rounds: list[dict[str, float]] = []
    for _ in range(args.rounds):
        cur: dict[str, float] = {}
        for name in args.queries:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            qfns[name](spark, args.sf).write.mode("overwrite").format(
                "noop").save()
            cur[name] = round(time.perf_counter() - t0, 3)
            spark.sparkContext.setJobDescription(None)
        rounds.append(cur)

    for name in args.queries:
        vals = [r[name] for r in rounds]
        print(f"{name:28s} min={min(vals):6.3f}  "
              + " ".join(f"{v:6.3f}" for v in vals))


if __name__ == "__main__":
    main()
