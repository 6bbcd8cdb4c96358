#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload as a closed loop with one client: a single driver
process on ``local[nproc]`` that runs its operations one after another,
starting from an empty warehouse and an empty ``spark.sql.warehouse.dir``.
It checks the outputs, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: every
end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``, every
per-layer metric with ``--trace 1``.  The full record (run conditions,
per-query detail, spans) goes to ``.perfbench/out/``.  See README.md
next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()  # taken first, so setup_s has full resolution

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
REGISTRY_SF = os.path.join(HERE, "data", "sf0.001")
MB = 1e6

sys.path.insert(0, HERE)

import conditions  # noqa: E402
import tripgen  # noqa: E402
from tracing import Tracer  # noqa: E402


def _age_at_t0() -> float:
    """Seconds from process start to ``T0``, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0)


AGE_AT_T0 = _age_at_t0()


def process_age_s() -> float:
    """Seconds since this process started."""
    return AGE_AT_T0 + time.perf_counter() - T0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.999999) - 1))]


def load_json(*parts: str) -> dict:
    with open(os.path.join(*parts)) as f:
        return json.load(f)


class Run:
    """What every workload shares: the session, the tracer, the counts of
    operations and checks, and the per-run detail."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.gen_s = 0.0  # input generation, left out of setup_s
        self.spark = None

    def start_spark(self) -> None:
        from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session import (
            get_spark,
        )

        nproc = len(os.sched_getaffinity(0))
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.enabled": "false",
        }
        if self.args.trace:
            # the tracer reads SQL executions by position: keep every one
            conf["spark.sql.ui.retainedExecutions"] = "1000000"
        self.spark = get_spark("perfbench", master=f"local[{nproc}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.tracer = Tracer(self.spark, self.run_id, bool(self.args.trace))

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has ended."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            self.jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            self.jvm.kill()
            self.jvm.wait()
        self.spark = None

    def cpu_s(self) -> float:
        """CPU seconds used so far by this run's processes."""
        return conditions.tree_cpu_s(os.getpid())

    def heap_live_mb(self) -> float:
        """JVM heap in use after a full collection: what the run retains."""
        import gc

        gc.collect()  # drop Python-side references to JVM objects first
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = float("inf")
        for _ in range(8):  # collect until the ContextCleaner has let go
            jvm.java.lang.System.gc()
            time.sleep(0.2)
            last, used = used, bean.getHeapMemoryUsage().getUsed() / MB
            if used >= 0.99 * last:
                break
        return used

    def op(self, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — a failed op is a measurement
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=6))
            return None

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed: {detail}")


def layer_metrics(totals: dict, root: str, rounds: int, wall_s: float,
                  source_bytes: float) -> dict:
    """Per-layer metrics per round, from :meth:`Tracer.layer_totals` over
    the warm rounds.  ``root`` is the layer of a round's top-level spans;
    ``source_bytes`` is the base data one round reads."""
    def get(layer: str, key: str = "s") -> float:
        return totals.get(layer, {}).get(key, 0.0) / rounds

    def mb(layer: str, key: str) -> float:
        return get(layer, key) / MB

    build_s, exec_s = get("registry.build"), get("registry.exec")
    return {
        "quality.s": get("quality"),
        "quality.jobs": get("quality", "jobs"),
        "pipeline.ledger_s": get("pipeline.ledger"),
        "pipeline.ledger_jobs": get("pipeline.ledger", "jobs"),
        "plans.silver_s": get("plans.silver"),
        "plans.silver_jobs": get("plans.silver", "jobs"),
        "plans.silver_shuffle_mb": mb("plans.silver", "shuffle_write_bytes"),
        "plans.gold_s": get("plans.gold"),
        "plans.gold_jobs": get("plans.gold", "jobs"),
        "operators.merge_s": get("operators.merge"),
        "operators.merge_written_mb": mb("operators.merge", "output_bytes"),
        "sources.ingest_s": get("sources.ingest"),
        "sources.ingest_jobs": get("sources.ingest", "jobs"),
        "plans.bronze_s": get("plans.bronze"),
        "plans.bronze_jobs": get("plans.bronze", "jobs"),
        "registry.build_s": build_s,
        "registry.build_jobs": get("registry.build", "jobs"),
        "registry.exec_s": exec_s,
        "registry.exec_jobs": get("registry.exec", "jobs"),
        "registry.build_share": build_s / (build_s + exec_s) if exec_s else 0.0,
        "extensions.python_s": get(root, "python_ms") / 1e3,
        "extensions.arrow_to_python_mb": mb(root, "arrow_to_python_bytes"),
        "extensions.arrow_from_python_mb": mb(root, "arrow_from_python_bytes"),
        "spark.jobs": get(root, "jobs"),
        "spark.stages": get(root, "stages"),
        "spark.tasks": get(root, "tasks"),
        "spark.input_mb": mb(root, "input_bytes"),
        "spark.shuffle_mb": mb(root, "shuffle_write_bytes"),
        "spark.spill_mb": mb(root, "spill_disk_bytes"),
        "spark.gc_s": get(root, "gc_ms") / 1e3,
        "spark.executor_s": get(root, "executor_ms") / 1e3,
        "spark.cores_busy": totals.get(root, {}).get("executor_ms", 0.0)
        / 1e3 / wall_s,
        "spark.read_amp": get(root, "input_bytes") / source_bytes,
        "spark.write_amp": get(root, "output_bytes") / source_bytes,
    }


def artifact_metrics(tracer: Tracer) -> dict:
    art = tracer.layer_totals().get("artifacts", {})
    return {"artifacts.build_s": art.get("s", 0.0),
            "artifacts.jobs": art.get("jobs", 0.0),
            "artifacts.written_mb": art.get("output_bytes", 0.0) / MB}


# -- pipeline_months ---------------------------------------------------------

MONTHS = 3  # defaults of --months and --rows
TRIPS_PER_MONTH = 20_000
STAGES = {  # MedallionPipeline stage method -> layer
    "ingest_staging": "sources.ingest",
    "build_bronze": "plans.bronze",
    "validate_bronze": "quality",
    "build_silver": "plans.silver",
    "test_silver": "quality",
    "validate_silver": "quality",
    "build_gold": "plans.gold",
    "validate_gold": "quality",
}
LEDGER_CALLS = ("target_month", "last_successful_month", "register_run",
                "mark_success", "mark_failed")
DBT_TESTS = ("not_null_failures", "unique_failures", "accepted_values_failures",
             "relationship_failures", "no_negative_total_failures")
GOLD_TABLES = ("gold_daily_summary", "gold_monthly_summary", "gold_zone_summary",
               "gold_vendor_summary", "gold_payment_summary")


def _fingerprint(spark, paths: list[str]) -> list[tuple]:
    """Content digest of each parquet table, in one job.  Independent of
    row order and of column order (the first merge into a table moves its
    key columns to the front)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for i, path in enumerate(paths):
        df = spark.read.parquet(path)
        parts.append(df.agg(
            F.lit(i).alias("table"), F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("digest")))
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return sorted(tuple(r) for r in rows)


def pipeline_months(run: Run) -> dict:
    from pyspark.sql import functions as F

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.catalog import Warehouse
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.pipeline import jobs

    src = os.path.join(run.work, "src")
    n_months = run.args.months
    t = time.perf_counter()
    months = tripgen.write_months(src, run.seed, n_months, run.args.rows)
    expected = tripgen.manifest(src, months)
    run.gen_s = time.perf_counter() - t

    run.start_spark()
    spark, tracer = run.spark, run.tracer
    wh = Warehouse(os.path.join(run.work, "warehouse"))
    alerts: list = []
    pipe = jobs.MedallionPipeline(spark, wh, lambda m: tripgen.source_path(src, m),
                                  alert_hook=lambda *a: alerts.append(a))

    round_no = 0
    checks: dict[int, int] = {}  # round -> quality checks evaluated

    def count_checks(n):
        def on_call(sp, args, kwargs):
            checks[round_no] = checks.get(round_no, 0) + n(args)
        return on_call

    for attr, layer in STAGES.items():
        tracer.wrap(pipe, attr, layer)
    for attr in LEDGER_CALLS:
        tracer.wrap(pipe.ledger, attr, "pipeline.ledger")
    tracer.wrap(jobs, "merge_write_path", "operators.merge")
    tracer.wrap(jobs, "run_suite", "quality", on_call=count_checks(lambda a: len(a[1])))
    for attr in DBT_TESTS:
        tracer.wrap(jobs, attr, "quality", on_call=count_checks(lambda a: 1))

    month_s: list[float] = []
    rerun_s: list[float] = []
    cpu_s: list[float] = []  # every run_month call, in order
    warm_roots: set[int] = set()
    # months after the first are the warm rounds (month 1 alone in a smoke)
    warm = range(1, n_months) if n_months > 1 else range(1)

    def month(label: str, name: str | None, sink: list) -> None:
        c0 = run.cpu_s()
        with tracer.span("run_month", "pipeline", round=label) as sp:
            t0 = time.perf_counter()
            run.op(pipe.run_month, name)
            sink.append(time.perf_counter() - t0)
        cpu_s.append(run.cpu_s() - c0)
        if sp is not None and round_no in warm:
            warm_roots.add(sp.id)

    setup_s = process_age_s() - run.gen_s
    for round_no, name in enumerate(months):
        month(name, None, month_s)  # the ledger picks the next month
    paths = [wh.path("silver", "silver_yellow_tripdata")] + [
        wh.path("gold", g) for g in GOLD_TABLES]
    before = run.op(_fingerprint, spark, paths)
    round_no += 1  # an idempotent re-run of the last month
    month(f"{months[-1]} re-run", months[-1], rerun_s)
    tracer.unwrap()
    heap_mb = run.heap_live_mb()

    # -- correctness, untimed --
    stored = dir_bytes(wh.root)
    n_silver = spark.read.parquet(paths[0]).count()
    run.check("silver_rows", n_silver == expected["silver_rows"],
              (n_silver, expected["silver_rows"]))
    trips = wh.read(spark, "gold", "gold_daily_summary").agg(
        F.sum("total_trips")).first()[0]
    run.check("gold_daily_sums_to_silver", trips == n_silver, (trips, n_silver))
    monthly = {r["revenue_month"].strftime("%Y-%m"): r.asDict() for r in
               wh.read(spark, "gold", "gold_monthly_summary").collect()}
    run.check("monthly_mart_rows", len(monthly) == n_months, sorted(monthly))
    for m, exp in expected["months"].items():
        got = monthly.get(m, {})
        ok = got.get("total_monthly_trips") == exp["trips"] and abs(
            got.get("total_monthly_revenue", 0.0) - exp["revenue"]
        ) <= 1e-9 * max(1.0, abs(exp["revenue"]))
        run.check(f"monthly_totals_{m}", ok, (got, exp))
    after = run.op(_fingerprint, spark, paths)
    run.check("rerun_unchanged", before is not None and before == after,
              (before, after))
    successes = pipe.ledger.read().filter("status = 'SUCCESS'").count()
    run.check("ledger_success_rows", successes == n_months + len(rerun_s),
              (successes, n_months + len(rerun_s)))
    # a month carrying NULL vendor ids must stop at bronze_validate
    bad = tripgen.write_rejected_month(src, run.seed, n_months, 1000)
    try:
        pipe.run_month(bad)
        rejected = False
    except ValueError:
        rejected = True
    failed_rows = pipe.ledger.read().filter(
        f"status = 'FAILED' AND target_month = '{bad}'").count()
    run.check("bad_month_rejected",
              rejected and failed_rows == 1 and len(alerts) == 1
              and alerts[0][1] == "bronze_validate",
              (rejected, failed_rows, alerts))

    src_bytes = tripgen.source_bytes(src, months)
    warm_ops = month_s[1:] + rerun_s
    run.detail = {"month_s": dict(zip(months, month_s)), "rerun_s": rerun_s,
                  "cpu_s": cpu_s, "manifest": expected,
                  "stored_bytes": stored, "source_bytes": src_bytes}
    out = {
        "e2e": {
            "setup_s": setup_s,
            "first_round_cpu_s": cpu_s[0],
            "round_cpu_s": statistics.mean(cpu_s[i] for i in warm),
            # one kind of operation, run_month: the percentile over each
            # kind's median warm figure (as on the registry) is its median
            "op_p90_cpu_s": statistics.median(cpu_s[1:]),
            "heap_live_mb": heap_mb,
            # wall-clock twins, in the record only
            "first_round_s": month_s[0],
            "round_s": statistics.median(month_s[i] for i in warm),
            "op_p50_s": statistics.median(warm_ops),
            "op_p90_s": statistics.median(warm_ops),
        },
        "layers": {},
    }
    if tracer.enabled:
        totals = tracer.layer_totals(warm_roots)
        wall = sum(tracer.spans[i].duration for i in warm_roots)
        layers = layer_metrics(totals, "pipeline", len(warm_roots), wall,
                               src_bytes / n_months)
        warm_checks = sum(n for r, n in checks.items() if r in warm)
        q_jobs = totals.get("quality", {}).get("jobs", 0.0)
        layers["quality.checks_per_job"] = warm_checks / q_jobs if q_jobs else 0.0
        layers["pipeline.rerun_s"] = statistics.median(rerun_s)
        layers["storage.stored_bytes_ratio"] = stored / src_bytes
        layers.update(artifact_metrics(tracer))
        out["layers"] = layers
    return out


# -- registry_tables / registry_corpus ---------------------------------------

def warm_passes(seconds: float) -> int:
    """Warm passes after the cold one: a fixed amount of work for a given
    ``--seconds`` (two passes per 5 s), so every run of it samples the
    same points of the JIT warm-up curve."""
    return max(2, round(seconds * 2 / 5))


def registry(run: Run, corpus: bool) -> dict:
    from pyspark.sql import Observation, functions as F

    spec = load_json(HERE, "workloads.json")[run.args.workload]
    run.start_spark()
    spark, tracer = run.spark, run.tracer
    import __spark_entry__ as entry

    registered = entry.queries()
    for q in spec["members"]:  # a listed query that is gone is a failed op
        if q not in registered:
            run.attempted += 1
            run.failed += 1
            run.errors.append(f"query {q} is missing from queries()")
    order = [q for q in run.args.queries or spec["measured"] if q in registered]
    random.Random(run.seed).shuffle(order)
    sf = REGISTRY_SF
    if corpus:
        # cold build of the persisted artifacts the measured queries read,
        # in set-up: each query function is called once, with no action,
        # and builds what it needs on demand
        with tracer.span("build_artifacts", "artifacts"):
            for q in order:
                with tracer.span(q, "artifacts", query=q):
                    run.op(registered[q], spark, sf)

    samples: list[tuple[int, str, float, float]] = []
    pass_s: list[float] = []
    pass_cpu: list[float] = []
    q_cpu: dict[str, list[float]] = {}
    warm_roots: set[int] = set()

    def query(p: int, q: str) -> None:
        c0 = run.cpu_s()
        with tracer.span(q, "registry", query=q, round=p) as sp:
            t0 = time.perf_counter()
            with tracer.span("build", "registry.build"):
                df = registered[q](spark, sf)
            t1 = time.perf_counter()
            obs = Observation()
            with tracer.span("exec", "registry.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                    .write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        samples.append((p, q, t1 - t0, t2 - t1))
        if p >= 1:
            q_cpu.setdefault(q, []).append(run.cpu_s() - c0)
        if sp is not None and p >= 1:
            warm_roots.add(sp.id)
        rows = obs.get["rows"]
        run.check(f"rows_{q}", rows == spec["rows"][q], (rows, spec["rows"][q]))

    setup_s = process_age_s() - run.gen_s
    for p in range(1 + warm_passes(run.args.seconds)):
        c0 = run.cpu_s()
        t0 = time.perf_counter()
        for q in order:
            run.op(query, p, q)
        pass_s.append(time.perf_counter() - t0)
        pass_cpu.append(run.cpu_s() - c0)
    # what the heap retains depends on the query that ran last, which the
    # seed picks: end on one untimed execution of a fixed query
    closing = sorted(order)[0] if order else None
    if closing:
        run.op(lambda: registered[closing](spark, sf).write.mode("overwrite")
               .format("noop").save())
    heap_mb = run.heap_live_mb()

    per_query: dict[str, dict] = {}
    warm_by_query: dict[str, list[float]] = {}
    for r, q, b, e in samples:
        per_query.setdefault(q, {"build_s": [], "exec_s": []})
        per_query[q]["build_s"].append(b)
        per_query[q]["exec_s"].append(e)
        if r >= 1:
            warm_by_query.setdefault(q, []).append(b + e)
    # each query's median warm time, then percentiles across queries: a
    # pooled percentile jumps between queries as the seed reorders them
    warm = [statistics.median(v) for v in warm_by_query.values()]
    run.detail = {"order": order, "pass_s": pass_s, "pass_cpu_s": pass_cpu,
                  "query_cpu_s": q_cpu, "queries": per_query,
                  "stored_bytes": dir_bytes(os.path.join(run.work, "spark-warehouse"))}
    out = {
        "e2e": {
            "setup_s": setup_s,
            "first_round_cpu_s": pass_cpu[0],
            "round_cpu_s": statistics.mean(pass_cpu[1:]),
            "op_p90_cpu_s": pct([statistics.median(v) for v in q_cpu.values()],
                                0.9),
            "heap_live_mb": heap_mb,
            # wall-clock twins, in the record only
            "first_round_s": pass_s[0],
            "round_s": statistics.median(pass_s[1:]),
            "op_p50_s": statistics.median(warm),
            "op_p90_s": pct(warm, 0.9),
        },
        "layers": {},
    }
    if tracer.enabled:
        sizes = {t: os.path.getsize(os.path.join(sf, f"{t}.parquet"))
                 for t in {t for q in order for t in spec["tables"][q]}}
        pass_bytes = sum(sizes[t] for q in order for t in spec["tables"][q])
        totals = tracer.layer_totals(warm_roots)
        wall = sum(tracer.spans[i].duration for i in warm_roots)
        layers = layer_metrics(totals, "registry", len(pass_s) - 1, wall,
                               pass_bytes)
        layers["quality.checks_per_job"] = 0.0
        layers["pipeline.rerun_s"] = 0.0
        base = sum(os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf))
        layers["storage.stored_bytes_ratio"] = run.detail["stored_bytes"] / base
        layers.update(artifact_metrics(tracer))
        by_id = tracer.inclusive()
        for sp in tracer.spans:  # one record per query execution, as detail
            if sp.layer == "registry":  # a query that always failed has no samples
                per_query.setdefault(sp.name, {"build_s": [], "exec_s": []}) \
                    .setdefault("spans", []).append(
                    {"round": sp.attrs["round"], "s": sp.duration,
                     **{k: v for k, v in by_id[sp.id].items() if v}})
        out["layers"] = layers
    return out


WORKLOADS = {
    "pipeline_months": pipeline_months,
    "registry_tables": lambda run: registry(run, corpus=False),
    "registry_corpus": lambda run: registry(run, corpus=True),
}


# -- command line --------------------------------------------------------------

def _sandbox(work: str) -> None:
    """Point Spark's local dirs and the JVM and Python temp dirs into the
    run's work dir.  A directory the engine names itself is left alone
    (the streaming queries keep their checkpoints in /dev/shm and remove
    them when the query or the interpreter ends)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--months", type=int, default=MONTHS,
                    help="pipeline_months: months to load")
    ap.add_argument("--rows", type=int, default=TRIPS_PER_MONTH,
                    help="pipeline_months: trips per month")
    ap.add_argument("--queries", type=lambda v: v.split(","),
                    help="registry: comma-separated queries to time "
                         "instead of the workload's measured list")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
            os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the engine ({PACKAGE}/, __spark_entry__.py) is not "
              f"in {ROOT}", file=sys.stderr)
        return 2
    spec = load_json(ROOT, "BENCHMARK.json")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)

    cond = conditions.Conditions(args.seed)
    work = os.path.join(OUT_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _sandbox(work)
    run = Run(args, work)
    try:
        result = WORKLOADS[args.workload](run)
        peak_rss_mb = conditions.vm_hwm_mb(run.jvm.pid)
        run_conditions = cond.finish(run.spark)
        tracing_read_s = run.tracer.read_s
        spans = run.tracer.records() if args.trace else []
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    e2e = result["e2e"]
    e2e["ok_rate"] = 1.0 - run.failed / run.attempted
    layers = result["layers"]
    if args.trace:
        layers["trace.read_s"] = tracing_read_s
        layers["jvm.peak_rss_mb"] = peak_rss_mb
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}

    os.makedirs(os.path.join(OUT_DIR, "out"), exist_ok=True)
    stem = os.path.join(OUT_DIR, "out", f"{args.workload}-seed{args.seed}")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "conditions": run_conditions, "end_to_end": e2e,
              "per_layer": layers, "attempted": run.attempted,
              "failed": run.failed, "errors": run.errors[:50],
              "peak_rss_mb": peak_rss_mb,
              "detail": run.detail, "spans": spans}
    if args.trace and os.path.exists(f"{stem}-trace0.json"):
        untraced = load_json(f"{stem}-trace0.json")["end_to_end"]
        record["tracing_overhead"] = {
            k: e2e[k] / untraced[k] - 1.0 for k in e2e
            if k.endswith("_s") and untraced.get(k)}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    for err in run.errors[:10]:
        print(err, file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
