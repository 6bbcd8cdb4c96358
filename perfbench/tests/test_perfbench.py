"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark through the benchmark command; the suite
takes about three minutes.
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tripgen  # noqa: E402
from tracing import parse_metric  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _lists() -> dict:
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return json.load(f)


def test_same_seed_same_files_and_manifest(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    months_a = tripgen.write_months(a, 7, 2, 1000)
    months_b = tripgen.write_months(b, 7, 2, 1000)
    tripgen.write_months(c, 8, 2, 1000)
    assert months_a == months_b == ["2024-01", "2024-02"]
    for m in months_a:
        assert filecmp.cmp(tripgen.source_path(a, m), tripgen.source_path(b, m),
                           shallow=False)
        assert not filecmp.cmp(tripgen.source_path(a, m),
                               tripgen.source_path(c, m), shallow=False)
    assert tripgen.manifest(a, months_a) == tripgen.manifest(b, months_b)


def test_generated_month_carries_the_defects(tmp_path):
    import pyarrow.compute as pc

    t = tripgen.month_table(3, 0, 20_000)
    assert t.schema.names[:2] == ["VendorID", "tpep_pickup_datetime"]
    assert "Airport_fee" in t.schema.names and "PULocationID" in t.schema.names
    assert str(t.schema.field("VendorID").type) == "int64"
    n = t.num_rows
    distinct = t.group_by(t.schema.names).aggregate([]).num_rows
    assert 0.003 < (n - distinct) / n < 0.007  # exact duplicates
    fare = t.column("fare_amount")
    assert 0.005 < pc.sum(pc.less(fare, 0)).as_py() / n < 0.015
    pay = t.column("payment_type")
    off = pc.sum(pc.or_(pc.less(pay, 1), pc.greater(pay, 6))).as_py()
    assert 0.02 < off / n < 0.04
    assert t.column("tpep_pickup_datetime").null_count > 0
    assert pc.sum(pc.is_in(t.column("VendorID"),
                           value_set=pc.cast([3, 4, 5], "int64"))).as_py() > 0
    assert pc.sum(pc.equal(t.column("RatecodeID"), 99)).as_py() > 0


def test_registry_lists_cover_every_query_exactly_once():
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    lists = _lists()
    tables = lists["registry_tables"]["members"]
    corpus = lists["registry_corpus"]["members"]
    assert not set(tables) & set(corpus)
    assert sorted(tables + corpus) == sorted(entry.queries())
    for w in lists.values():
        assert set(w["measured"]) <= set(w["members"])
        assert set(w["rows"]) == set(w["members"]) == set(w["tables"])
    for q in corpus:
        assert {"documents", "embeddings"} & set(lists["registry_corpus"]["tables"][q])


def test_benchmark_metrics_have_a_name_and_a_unit():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]


def test_parse_metric():
    assert parse_metric("724 ms") == 724.0
    assert parse_metric("1.8 s") == 1800.0
    assert parse_metric("78.3 KiB") == pytest.approx(78.3 * 1024)
    assert parse_metric("10,000") == 10000.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.1 s (0 ms, 1 ms, 2 ms (stage 3.0: task 4))") == 2100.0


def test_tree_cpu_counts_child_processes():
    import conditions

    before = conditions.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "time.sleep(60)"])
    try:  # the busy child is still alive, so its own times count
        deadline = time.monotonic() + 30
        while conditions.tree_cpu_s(os.getpid()) - before < 0.4:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait()
    # reaped, its time moves to this process's children times: still counted
    assert conditions.tree_cpu_s(os.getpid()) - before >= 0.4


def test_span_counters_match_the_jobs_stage_data():
    from pyspark.sql import SparkSession

    from tracing import Tracer

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-tracer")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        tracer = Tracer(spark, "test", True)
        with tracer.span("outer", "a") as outer:
            spark.range(0, 100_000, numPartitions=3).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
            with tracer.span("inner", "b") as inner:
                spark.range(0, 1000, numPartitions=2) \
                    .mapInPandas(lambda batches: batches, "id long").collect()
        tracker = spark.sparkContext.statusTracker()
        for sp in (outer, inner):
            jobs = tracker.getJobIdsForGroup(sp.group)
            stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
            ran = [i for i in map(tracker.getStageInfo, stage_ids)
                   if i is not None and i.numCompletedTasks > 0]
            assert sp.counters["jobs"] == len(jobs) > 0
            assert sp.counters["stages"] == len(ran) > 0
            assert sp.counters["tasks"] == sum(i.numCompletedTasks for i in ran)
        assert inner.counters["arrow_to_python_bytes"] > 0
        assert outer.counters["arrow_to_python_bytes"] == 0
        totals = tracer.layer_totals()
        assert totals["a"]["tasks"] == outer.counters["tasks"] + inner.counters["tasks"]
        assert totals["b"]["tasks"] == inner.counters["tasks"]
    finally:
        spark.stop()


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "pipeline_months", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(*args: str) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "3",
                        "--seconds", "0", *args], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    return result


def _assert_metrics(result: dict, kind: str) -> None:
    spec = _spec()
    assert set(result["metrics"]) == {m["name"] for m in spec[kind]}
    for m in spec[kind]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_pipeline_one_small_month(trace):
    result = _run("--workload", "pipeline_months", "--months", "1",
                  "--rows", "1000", "--trace", trace)
    _assert_metrics(result, "per_layer" if trace == "1" else "end_to_end")
    if trace == "1":
        assert result["metrics"]["quality.jobs"]["value"] > 0
        assert result["metrics"]["pipeline.ledger_jobs"]["value"] > 0


def test_smoke_registry_tables_few_queries():
    result = _run("--workload", "registry_tables", "--trace", "1",
                  "--queries", "month_filter,monthly_summary,stream_dedup")
    _assert_metrics(result, "per_layer")
    assert result["metrics"]["registry.exec_jobs"]["value"] > 0


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_registry_corpus_few_queries(trace):
    result = _run("--workload", "registry_corpus", "--trace", trace,
                  "--queries", "text_stats,minhash_vs_index")
    _assert_metrics(result, "per_layer" if trace == "1" else "end_to_end")
    if trace == "1":  # the cold index build is measured in set-up
        assert result["metrics"]["artifacts.build_s"]["value"] > 0
        assert result["metrics"]["artifacts.jobs"]["value"] > 0
    else:
        assert result["metrics"]["setup_s"]["value"] > 0


_BROKEN_QUERY = """
import sys
sys.path[:0] = [{root!r}, {bench!r}]
import __spark_entry__ as entry
import run

registered = entry.queries()


def broken(spark, sf):
    raise RuntimeError("this query always fails")


entry.queries = lambda: {{**registered, "month_filter": broken}}
sys.exit(run.main(sys.argv[1:]))
"""


def test_a_query_that_always_fails_lowers_ok_rate(tmp_path):
    script = tmp_path / "broken.py"
    script.write_text(_BROKEN_QUERY.format(root=ROOT, bench=BENCH))
    p = subprocess.run([sys.executable, str(script), "--workload", "registry_tables",
                        "--seed", "4", "--seconds", "0", "--trace", "1",
                        "--queries", "month_filter,monthly_summary"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    # one per pass, and one in the closing execution before the heap figure
    assert not result["correct"] and result["failed"] == 4
    with open(os.path.join(ROOT, ".perfbench", "out",
                           "registry_tables-seed4-trace1.json")) as f:
        record = json.load(f)
    assert 0 < record["end_to_end"]["ok_rate"] < 1
    assert len(record["detail"]["queries"]["month_filter"]["spans"]) == 3
