"""Write ``workloads.json``: which registry queries belong to which workload.

    python3 perfbench/lists.py

Membership is decided by the base tables each query reads, as named in
its DuckDB ``oracle_sql()``: a query that reads ``documents`` or
``embeddings`` belongs to ``registry_corpus``, every other query to
``registry_tables``.  Each query's expected output row count is the
oracle's row count at the benchmark's scale factor, computed by DuckDB.
The file is committed, so a later code change cannot move a query
between workloads; re-run this script only to change the benchmark.

``measured`` is the fixed subset a run times in every pass.  A full
registry pass at sf0.001 takes 30 s (tables) and 65 s (corpus) on a
4-core box, longer than one run may last, so each workload times a
fixed cross-section of its family; the seed sets only the order.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORPUS_TABLES = {"documents", "embeddings"}

MEASURED = {
    # scan, aggregate, grouping sets, window, join, merge, SCD, a streaming
    # micro-batch and one Arrow/pandas crossing
    "registry_tables": [
        "month_filter", "monthly_summary", "rollup_summary", "sessionization",
        "top_customer_per_nation", "merge_upsert", "scd2_history",
        "stream_dedup", "price_quartiles",
    ],
    # text and dedup families, queries answered from persisted indexes
    # (whose cold build is the workload's set-up), embedding top-k, and
    # Arrow/pandas crossings
    "registry_corpus": [
        "text_stats", "exact_dedup", "minhash_vs_index", "embedding_topk",
        "audio_meta",
    ],
}


def tables_read(sql: str) -> list[str]:
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def build() -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    out = {name: {"members": [], "measured": MEASURED[name], "tables": {},
                  "rows": {}} for name in MEASURED}
    for q in entry.queries():
        read = tables_read(oracle[q])
        w = out["registry_corpus" if CORPUS_TABLES & set(read) else "registry_tables"]
        w["members"].append(q)
        w["tables"][q] = read
        w["rows"][q] = con.execute(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
    for name, w in out.items():
        stray = set(w["measured"]) - set(w["members"])
        if stray:
            raise SystemExit(f"{name}: measured queries not members: {sorted(stray)}")
        w["members"].sort()
    return out


def main() -> None:
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(build(), f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
