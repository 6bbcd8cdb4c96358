from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
    salted_join,
    write_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join without shuffling either side (the at-scale co-location payoff)."""
    import shutil

    a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("w", F.col("id") * 3)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bucketed_a", "bucketed_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(a, "bucketed_a", ["id"], num_buckets=4)
    write_bucketed(b, "bucketed_b", ["id"], num_buckets=4)
    ta = spark.table("bucketed_a")
    tb = spark.table("bucketed_b")
    # small inputs would broadcast (also exchange-free, but that proves
    # nothing about bucketing); force the shuffle-family join path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "id")
        assert joined.count() == 1000
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # no Exchange feeds the join: bucketing pre-partitioned both sides
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantically invisible: same rows as a plain join,
    including a pathologically hot key."""
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(5)],
        "k int, payload int",
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")],
                                  "k int, name string")
    plain = big.join(small, "k")
    salted = salted_join(big, small, "k", salt=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join keeps unmatched big rows too
    big2 = big.unionByName(spark.createDataFrame([(9, 0)], "k int, payload int"))
    plain_l = big2.join(small, "k", "left")
    salted_l = salted_join(big2, small, "k", salt=8, how="left")
    assert sorted(map(tuple, salted_l.collect()), key=str) == sorted(
        map(tuple, plain_l.collect()), key=str
    )


def test_zorder_key_interleaves_and_round_trips(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        zorder_key,
    )
    pts = [(x, y) for x in (0, 1, 2, 3, 255, 65535)
           for y in (0, 1, 2, 3, 170, 65535)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y", zorder_key("x", "y").alias("z")).collect()

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in rows:
        assert r["z"] == morton(r["x"], r["y"])
    # bijective on the grid: decode round-trips
    assert len({r["z"] for r in rows}) == len(pts)
    assert morton(65535, 65535) == (1 << 32) - 1


def test_write_zordered_clusters_both_dims(spark, tmp_path):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        write_zordered,
    )
    import itertools

    grid = [(x, y, x * 64 + y) for x, y in
            itertools.product(range(64), range(64))]
    df = spark.createDataFrame(grid, "x long, y long, payload long").repartition(8)
    out = str(tmp_path / "zordered")
    write_zordered(df, out, "x", "y", bits=6, num_files=16)
    back = spark.read.parquet(out)
    assert back.count() == len(grid)
    # per-file bounding boxes cover far less than the full grid on BOTH
    # dims: a linear x-sort would leave the y-range at full width in every
    # file; z-order keeps both spans narrow (the data-skipping property)
    import pyspark.sql.functions as F
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg((F.max("x") - F.min("x")).alias("sx"),
             (F.max("y") - F.min("y")).alias("sy"))
        .collect()
    )
    assert len(spans) > 1
    avg_sx = sum(r["sx"] for r in spans) / len(spans)
    avg_sy = sum(r["sy"] for r in spans) / len(spans)
    assert avg_sx < 48 and avg_sy < 48


def test_adopt_bucketed_table_recovers_files(spark, tmp_path):
    import shutil, os
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        adopt_bucketed_table,
        drop_table_and_location,
        write_bucketed,
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                               "k long, v string")
    write_bucketed(df, "adopt_src", ["k"], num_buckets=4)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # simulate a catalog that forgot the table but kept the files
    shutil.copytree(os.path.join(wh, "adopt_src"),
                    os.path.join(wh, "adopt_dst"))
    assert not spark.catalog.tableExists("adopt_dst")
    assert adopt_bucketed_table(spark, "adopt_dst", ["k"], num_buckets=4)
    got = sorted(map(tuple, spark.table("adopt_dst").collect()))
    assert got == sorted(map(tuple, df.collect()))
    # bucket spec survives adoption
    ddl = spark.sql("SHOW CREATE TABLE adopt_dst").first()[0]
    assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl
    # a partial dir (no _SUCCESS) is NOT adopted
    shutil.copytree(os.path.join(wh, "adopt_src"),
                    os.path.join(wh, "adopt_partial"))
    os.remove(os.path.join(wh, "adopt_partial", "_SUCCESS"))
    assert not adopt_bucketed_table(spark, "adopt_partial", ["k"])
    for t in ("adopt_src", "adopt_dst", "adopt_partial"):
        drop_table_and_location(spark, t)


def test_adoption_validates_bucket_spec_and_props(spark):
    """Adoption must never declare a bucket spec (or build params) the
    files weren't written with — a false spec makes Spark silently skip
    shuffles in bucketed joins and return wrong rows."""
    import warnings

    from pyspark.sql.types import StructType

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        adopt_bucketed_table,
        drop_table_and_location,
        engine_digest,
        read_table_meta,
        write_bucketed,
        write_unbucketed,
    )

    import os
    import shutil

    df = spark.createDataFrame([(i, i % 7) for i in range(100)],
                               "k long, g long")
    props = {"kind": "t_index", "k": 3}
    write_bucketed(df, "meta_src", ["k"], num_buckets=4, sort_by=["g"],
                   props=props)
    meta = read_table_meta(spark, "meta_src")
    assert StructType.fromJson(meta.pop("schema")).simpleString() == (
        "struct<k:bigint,g:bigint>")
    assert meta == {"keys": ["k"], "num_buckets": 4, "sort_by": ["g"],
                    "props": props, "code": engine_digest()}
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def orphan(name: str) -> None:
        # simulate a catalog that forgot the table but kept the files
        # (DROP TABLE on a managed table would purge the location)
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.copytree(os.path.join(wh, "meta_src"), os.path.join(wh, name))

    orphan("meta_tbl")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no warning on the happy path
        assert adopt_bucketed_table(spark, "meta_tbl", ["k"], 4, props=props)
    ddl = spark.sql("SHOW CREATE TABLE meta_tbl").first()[0]
    assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl and "SORTED BY" in ddl
    spark.sql("DROP TABLE meta_tbl")

    # wrong keys / bucket count / props are each refused (-> rebuild path)
    for bad in (
        dict(keys=["g"], num_buckets=4, props=props),
        dict(keys=["k"], num_buckets=8, props=props),
        dict(keys=["k"], num_buckets=4, props={"kind": "t_index", "k": 5}),
    ):
        orphan("meta_tbl")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert not adopt_bucketed_table(spark, "meta_tbl", **bad)
        assert any("refusing to adopt" in str(x.message) for x in w)

    # caller passing no expectation adopts under the RECORDED spec
    orphan("meta_tbl")
    assert adopt_bucketed_table(spark, "meta_tbl")
    ddl = spark.sql("SHOW CREATE TABLE meta_tbl").first()[0]
    assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl
    drop_table_and_location(spark, "meta_tbl")
    drop_table_and_location(spark, "meta_src")

    # a meta-less dir (legacy write) records neither a schema nor the
    # code that wrote it: refused whether or not bucketing is expected
    drop_table_and_location(spark, "meta_less")
    df.write.saveAsTable("meta_less_src")
    shutil.copytree(os.path.join(wh, "meta_less_src"),
                    os.path.join(wh, "meta_less"))
    for expect in (dict(keys=["k"], num_buckets=4), {}):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert not adopt_bucketed_table(spark, "meta_less", **expect)
        assert any("refusing to adopt" in str(x.message) for x in w)
    drop_table_and_location(spark, "meta_less")
    drop_table_and_location(spark, "meta_less_src")

    # write_unbucketed records an empty spec + props
    write_unbucketed(df.limit(1), "meta_small", props={"kind": "stats"})
    assert read_table_meta(spark, "meta_small")["props"] == {"kind": "stats"}
    shutil.copytree(os.path.join(wh, "meta_small"),
                    os.path.join(wh, "meta_small2"))
    assert adopt_bucketed_table(spark, "meta_small2",
                                props={"kind": "stats"})
    assert spark.table("meta_small2").count() == 1
    drop_table_and_location(spark, "meta_small")
    drop_table_and_location(spark, "meta_small2")


def _forget_table(spark, table: str) -> str:
    """Simulate a new session: the catalog forgets ``table`` (a managed
    DROP purges the location, so the files are kept aside and put back).
    Returns the table's warehouse directory."""
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, table)
    shutil.rmtree(loc + "_keep", ignore_errors=True)
    shutil.copytree(loc, loc + "_keep")
    spark.sql(f"DROP TABLE `{table}`")
    shutil.move(loc + "_keep", loc)
    return loc


def test_adoption_rebuilds_tables_other_code_wrote(spark):
    """``artifacts.ensure`` adopts a surviving table only when its sidecar
    records the digest of the engine code under test and the written
    schema; a table another version of the code wrote, or a sidecar
    without a schema, is rebuilt — so the suite checks tables the code
    under test built."""
    import warnings

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.artifacts import (
        Artifact,
        ensure,
        table_name,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
        read_table_meta,
        write_table_meta,
    )

    builds = []

    def build(spark, sf_dir, prefix):
        builds.append(prefix)
        return spark.range(20).select(F.col("id").alias("k"))

    art = Artifact("digest_t", build, tables={"": ["k"]},
                   props={"kind": "digest_test"})
    sf = "/data/sf_digest"
    drop_table_and_location(spark, table_name(art, sf))
    table = ensure(spark, sf, art)
    assert len(builds) == 1

    _forget_table(spark, table)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the happy path adopts silently
        ensure(spark, sf, art)
    assert len(builds) == 1

    for edit in (lambda m: m.update(code="0" * 64),
                 lambda m: m.pop("schema")):
        _forget_table(spark, table)
        meta = read_table_meta(spark, table)
        edit(meta)
        write_table_meta(spark, table, meta)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ensure(spark, sf, art)
        assert any("refusing to adopt" in str(x.message) for x in w)
        assert sorted(r["k"] for r in spark.table(table).collect()) == (
            list(range(20)))
    assert len(builds) == 3
    drop_table_and_location(spark, table)


def test_adoption_runs_no_spark_job(spark):
    """Adoption declares the table from the schema its sidecar recorded;
    inferring it from the parquet footers costs one Spark job per table
    (30 of the 62 jobs of an adopting ``warm_persisted``)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        adopt_bucketed_table,
        drop_table_and_location,
        write_bucketed,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}", [i * 0.5], i % 2 == 0) for i in range(50)],
        "k long, v string, xs array<double>, even boolean")
    write_bucketed(df, "nojob_tbl", ["k"], num_buckets=4, props={"p": 1})
    _forget_table(spark, "nojob_tbl")
    sc = spark.sparkContext
    group = "test_adoption_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        assert adopt_bucketed_table(spark, "nojob_tbl", ["k"], 4,
                                    props={"p": 1})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert spark.table("nojob_tbl").schema.simpleString() == (
        "struct<k:bigint,v:string,xs:array<double>,even:boolean>")
    assert sorted(map(tuple, spark.table("nojob_tbl").collect())) == sorted(
        map(tuple, df.collect()))
    drop_table_and_location(spark, "nojob_tbl")


def test_collect_table_stats_feeds_cbo(spark, tmp_path):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.catalog import (
        collect_table_stats,
    )

    spark.range(1000).selectExpr("id", "id % 7 AS g") \
        .write.mode("overwrite").saveAsTable("stats_demo")
    try:
        stats = collect_table_stats(spark, "stats_demo", columns=["id", "g"])
        assert stats["rowCount"] == 1000
        assert stats["sizeInBytes"] > 0
        # column-level stats landed: NDV for g is visible in the catalog
        desc = {r["info_name"]: r["info_value"] for r in spark.sql(
            "DESCRIBE EXTENDED stats_demo g").collect()}
        assert int(desc["distinct_count"]) == 7
        assert int(desc["num_nulls"]) == 0
        # qualified names must quote per part, not as one identifier
        q = collect_table_stats(spark, "default.stats_demo")
        assert q["rowCount"] == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_demo")
