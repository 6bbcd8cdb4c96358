"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query executes end-to-end into a ``noop`` sink (full materialization,
no driver collect bottleneck, no disk write skew) — the number measured is
the number a cluster job would scale from.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _buffcache_gb() -> float | None:
    """Page-cache size (GiB) from /proc/meminfo — the cold-vs-warm tell.

    The sandbox drops the page cache between driver turns; a cold run
    reads every parquet byte from disk and lands 20-60% slower on
    scan-bound queries (round-7 VERDICT: a 182s cold artifact masqueraded
    as a regression vs 155-166s warm locals).  Recording the cache state
    in the artifact makes a cold number self-identifying."""
    try:
        kb = {}
        with open("/proc/meminfo") as f:
            for line in f:
                parts = line.split()
                kb[parts[0].rstrip(":")] = int(parts[1])
        return round((kb.get("Buffers", 0) + kb.get("Cached", 0))
                     / (1024 * 1024), 2)
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # capture BEFORE the warm-up passes touch any file: the process-start
    # page-cache size is the "was this box cold?" tell
    buffcache_start = _buffcache_gb()

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Arrow/Python-worker pool once so
    # timings measure query execution, not process spin-up (whichever
    # query happens to run first would otherwise absorb ~2-4s of one-time
    # session cost): footers for every table the early queries scan, the
    # scalar AND grouped Arrow paths (separate worker pools), and the
    # streaming engine (state-store + checkpoint infra on first use)
    for t in ("lineitem", "documents", "embeddings", "orders", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    spark.range(1000).groupBy((F.col("id") % 8).alias("g")).applyInPandas(
        lambda pdf: pdf.head(1), "id long"
    ).count()
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (spark.readStream.format("rate").option("rowsPerSecond", 1)
             .load().writeStream.format("noop").trigger(availableNow=True)
             .option("checkpointLocation", ckpt).start())
        try:
            q.awaitTermination(30)
        finally:
            q.stop()  # never leave the warm-up stream running into the
            # timed pass (or its checkpoint dir deleted underneath it)

    # compile-warm pass: run every query once at the smallest SF so each
    # measured timing is steady-state query execution, not whole-stage
    # codegen JIT / Arrow pipeline spin-up / broadcast infra first-use —
    # those one-time costs otherwise land on whichever query happens to
    # hit each code path first and read as phantom regressions when the
    # registry order changes.  Disable with SPARK_GRAFT_BENCH_WARM=0.
    warm_dir = os.environ.get("SPARK_GRAFT_BENCH_WARM",
                              "/root/testdata/sf0.001")
    # single boolean reused for both the pass gate and the artifact so
    # env.compile_warm can never claim a pass that was silently skipped
    # (e.g. the warm directory doesn't exist on this box)
    compile_warm = warm_dir not in ("0", "") and os.path.isdir(warm_dir)
    if compile_warm:
        for name, fn in entrymod.queries().items():
            try:
                fn(spark, warm_dir).write.mode("overwrite").format(
                    "noop").save()
            except Exception:
                pass  # warm-up is best-effort; the timed run surfaces errors

    # build/adopt the persisted warehouse artifacts for the TARGET sf_dir
    # outside the timed region (per-session catalog adoption + staleness
    # memos otherwise land inside whichever timed query first touches
    # each table and read as phantom regressions); their per-artifact
    # cost goes on the books as ``artifacts_s``
    artifacts_s: dict[str, float] = {}
    try:
        artifacts_s = entrymod.warm_persisted(spark, sf_dir)
    except Exception:
        pass  # best-effort; the timed run surfaces real errors

    # best-of-N (SPARK_GRAFT_BENCH_REPEATS, default 2): repeat the whole
    # registry pass and keep each query's fastest time — run-to-run noise
    # at sf0.1 measured +-7% (PROGRESS r7), so a single pass cannot
    # distinguish a 10% regression from jitter, and a cold page cache
    # inflates scan-bound queries 20-60% (the round-7 phantom regression).
    # The second pass always runs cache-warm, so best-of-2 erases the
    # cold-box penalty even on a freshly-wiped machine.  Whole-registry
    # rounds (not per-query back-to-back repeats) so repeat k of query q
    # never free-rides on the JVM/cache residue of repeat k-1 of the same
    # query.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    rounds: list[dict[str, float]] = []
    for _ in range(repeats):
        cur: dict[str, float] = {}
        for name, fn in entrymod.queries().items():
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            cur[name] = round(time.perf_counter() - t0, 3)
        rounds.append(cur)
    timings = {name: min(r[name] for r in rounds) for name in rounds[0]}

    # adaptive tail repeats (round-12 VERDICT #6): most of the registry
    # now runs under 1s warm, where the inter-round noise p95 (~0.3s)
    # IS the signal — a best-of-3 min of a sub-0.5s query is still a
    # coin flip round-over-round.  Queries whose best-of-N landed under
    # TAIL_THRESHOLD_SEC get TAIL_EXTRA_ROUNDS more whole-subset rounds
    # (same round organization: no per-query back-to-back free-riding),
    # making their reported time a best-of-(repeats+extra) whose min is
    # far more stable.  Skipped for single-shot runs (repeats == 1 means
    # the caller wants one cheap pass, e.g. a smoke).
    TAIL_THRESHOLD_SEC = 0.5
    TAIL_EXTRA_ROUNDS = 2 if repeats > 1 else 0
    tail = sorted(n for n, v in timings.items() if v < TAIL_THRESHOLD_SEC)
    qfns = entrymod.queries()
    tail_rounds: list[dict[str, float]] = []
    for _ in range(TAIL_EXTRA_ROUNDS if tail else 0):
        cur = {}
        for name in tail:
            t0 = time.perf_counter()
            qfns[name](spark, sf_dir).write.mode("overwrite").format(
                "noop").save()
            cur[name] = round(time.perf_counter() - t0, 3)
        tail_rounds.append(cur)
    for name in tail:
        timings[name] = min([timings[name]]
                            + [tr[name] for tr in tail_rounds])

    # measured same-HEAD noise floor (round-10 VERDICT #4): the per-query
    # relative spread between this run's own whole-registry rounds —
    # identical code, identical data, same session — is the distribution
    # a round-over-round "mover" must clear before it means anything.
    # Round 1 is EXCLUDED whenever repeats >= 3: its spread against the
    # warm rounds is first-touch asymmetry (target-SF page-cache fill,
    # per-plan codegen), not steady-state jitter — measured p50 of the
    # 1-vs-2 spread was 0.51 at sf0.1 vs 0.0x between warm rounds.
    # Sub-floor queries are excluded: their spread is per-job fixed cost,
    # not scaling signal (same 0.2s floor reasoning as the scale gate).
    NOISE_FLOOR_SEC = 0.2
    noise_rounds = rounds[1:] if len(rounds) >= 3 else rounds
    noise_p50 = noise_p95 = None
    named_spreads = sorted(
        ((max(vals) - min(vals)) / min(vals), n)
        for n, vals in ((n, [r[n] for r in noise_rounds]) for n in timings)
        if min(vals) >= NOISE_FLOOR_SEC
    ) if len(noise_rounds) >= 2 else []
    spreads = [s for s, _ in named_spreads]
    if spreads:
        noise_p50 = round(spreads[int(0.50 * (len(spreads) - 1))], 3)
        noise_p95 = round(spreads[int(0.95 * (len(spreads) - 1))], 3)
    # the worst offenders BY NAME: a high p95 with one or two named
    # culprits is a query-level instability to chase; a high p95 spread
    # across many names is machine noise (the r13 +16% drift tell)
    noise_top = {n: round(s, 2) for s, n in named_spreads[-5:][::-1]}

    total = round(sum(timings.values()), 3)
    compact = {k: round(v, 2) for k, v in timings.items()}
    full = {
        "metric": "total_headline_query_time",
        "value": total,
        "unit": "sec",
        "queries": compact,
        # seconds to build (cold warehouse) or adopt each persisted
        # artifact before the timed pass, outside ``value``
        "artifacts_s": artifacts_s,
        "sf": float(sf),
        # self-describing run conditions (round-7 VERDICT #3): a cold-cache
        # artifact or single-shot run can no longer masquerade as a warm
        # best-of-N regression baseline
        "env": {
            "buffcache_gb_start": buffcache_start,
            "buffcache_gb_end": _buffcache_gb(),
            "repeats_best_of": repeats,
            "compile_warm": compile_warm,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
            # same-HEAD inter-round relative spread over queries whose
            # best time >= noise_floor_sec, WARM rounds only (round 1
            # excluded when repeats >= 3): the measured bar a
            # round-over-round mover must clear (n = queries measured)
            "noise_p50": noise_p50,
            "noise_p95": noise_p95,
            "noise_floor_sec": NOISE_FLOOR_SEC,
            "noise_n": len(spreads),
            "noise_rounds": len(noise_rounds),
            "noise_top": noise_top,
            # adaptive tail repeats: queries under tail_threshold_sec
            # after the best-of-N pass got tail_extra_rounds extra
            # whole-subset rounds (reported time = best of
            # repeats + tail_extra_rounds samples)
            "tail_threshold_sec": TAIL_THRESHOLD_SEC,
            "tail_extra_rounds": len(tail_rounds),
            "tail_n": len(tail),
        },
    }
    full_line = json.dumps(full, separators=(",", ":"))

    # The driver records only the last ~2000 chars of bench output; a
    # single long JSON line gets head-truncated there and fails to parse
    # (BENCH_r03.json: parsed=null).  Persist the complete result to a
    # repo-root artifact, print the full line first, and — when the full
    # line is too long to survive the tail window — ALSO print a short
    # final summary line (total + slowest queries) that always parses.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=2)

    print(full_line)
    if len(full_line) > 1800:
        kept: dict[str, float] = {}
        summary = {
            "metric": "total_headline_query_time",
            "value": total,
            "unit": "sec",
            "queries": kept,
            "sf": float(sf),
            "n_queries": len(timings),
            "truncated_to_slowest": True,
            "full": "BENCH_FULL.json",
        }
        for k, v in sorted(timings.items(), key=lambda kv: -kv[1]):
            kept[k] = round(v, 2)
            if len(json.dumps(summary, separators=(",", ":"))) > 1500:
                del kept[k]
                break
        print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
