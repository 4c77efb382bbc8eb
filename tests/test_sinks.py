"""Sink layer tests: partitioned writes, evolution append, view materialization."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_schema_spark import sinks
from etl_schema_spark.sources.catalog import load_table
from etl_schema_spark.sources.views import ViewCatalog


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    sinks.write_partitioned(orders, out, ["order_year"])

    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("order_year") == 1996)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "order_year" in plan, plan


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """Dynamic overwrite is the write's own option: under a session left at
    static overwrite, rewriting one partition keeps the others, and the
    session still reads static afterwards (a session-wide flip would make
    every later overwrite in it dynamic)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "dyn")
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, part string")
        sinks.write_partitioned(df1, out, ["part"])
        df2 = spark.createDataFrame([(99, "b")], "k int, part string")
        sinks.write_partitioned(df2, out, ["part"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    rows = {(r.k, r.part) for r in spark.read.parquet(out).collect()}
    # partition a untouched, partition b replaced
    assert rows == {(1, "a"), (99, "b")}


def test_append_evolved_adds_column_additively(spark, tmp_path):
    out = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, "x")], "id int, name string")
    sinks.append_evolved(spark, v1, out)
    v2 = spark.createDataFrame([(2, "y", 3.5)], "id int, name string, score double")
    sinks.append_evolved(spark, v2, out)

    back = sinks.read_evolved(spark, out)
    assert set(back.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in back.collect()}
    assert rows == {(1, "x", None), (2, "y", 3.5)}


def test_append_evolved_keeps_historical_type(spark, tmp_path):
    out = str(tmp_path / "retype")
    v1 = spark.createDataFrame([(1, 10)], "id int, v int")
    sinks.append_evolved(spark, v1, out)
    # incoming retypes v to string — additive evolution keeps int, casting
    v2 = spark.createDataFrame([(2, "11")], "id int, v string")
    written = sinks.append_evolved(spark, v2, out)
    assert dict(written.dtypes)["v"] == "int"
    rows = {(r.id, r.v) for r in sinks.read_evolved(spark, out).collect()}
    assert rows == {(1, 10), (2, 11)}


def test_materialize_views_writes_dag_in_order(spark, sf_dir, tmp_path):
    cat = ViewCatalog(project_id="test")
    cat.add(
        "ds.base",
        "SELECT event_type, value FROM events_src",
        "base projection",
    )
    cat.add(
        "ds.rollup",
        "SELECT event_type, COUNT(*) AS n FROM `{{.ProjectID}}.ds.base` GROUP BY event_type",
        "depends on base",
    )
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_src")
    order = sinks.materialize_views(cat, spark, str(tmp_path / "mat"))
    assert order.index("ds.base") < order.index("ds.rollup")
    rolled = spark.read.parquet(str(tmp_path / "mat" / "ds__rollup"))
    assert rolled.count() == 5  # event types in testdata


def test_bigquery_surface_gated(spark):
    df = spark.range(1)
    w = sinks.bigquery_writer(df, "dataset.table")
    assert w is not None
    assert sinks.bigquery_available(spark) in (True, False)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must join with zero shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sinks.write_bucketed(orders, "b_orders", ["o_orderkey"], 8)
    sinks.write_bucketed(li, "b_lineitem", ["l_orderkey"], 8)

    joined = spark.table("b_lineitem").join(
        spark.table("b_orders").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan

    n = joined.count()
    assert n == li.count()  # every lineitem matches exactly one order
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_refresh_partitions_incremental_equals_full(spark, sf_dir, tmp_path):
    """Late-data refresh of one day must equal a full recompute."""
    out = str(tmp_path / "mv")
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )
    # initial full materialization
    sinks.write_partitioned(daily, out, ["day"])
    before = spark.read.parquet(out).count()

    # simulate: day X recomputed (e.g. late data arrived) — here the same
    # data, so the refreshed MV must equal the full recompute exactly
    some_day = daily.select("day").distinct().orderBy("day").first().day
    n = sinks.refresh_partitions(spark, daily, out, "day", [some_day])
    assert n > 0

    refreshed = {
        (r.day, r.event_type, r.n, r.total) for r in spark.read.parquet(out).collect()
    }
    full = {(r.day, r.event_type, r.n, r.total) for r in daily.collect()}
    assert refreshed == full
    assert spark.read.parquet(out).count() == before


def test_zorder_key_interleaves_bits(spark):
    from etl_schema_spark.sinks import zorder_key

    df = spark.createDataFrame([(3, 0), (0, 3), (3, 3)], "a int, b int")
    got = [
        r.z for r in df.select(zorder_key([F.col("a"), F.col("b")], bits=2).alias("z")).collect()
    ]
    # bit layout per level i: a at 2i+1, b at 2i
    # (3,0) -> 0b1010 = 10; (0,3) -> 0b0101 = 5; (3,3) -> 0b1111 = 15
    assert got == [10, 5, 15]


def test_zordered_write_prunes_both_dims(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from etl_schema_spark.sinks import write_zordered

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zpath = str(tmp_path / "z")
    npath = str(tmp_path / "naive")
    write_zordered(ev, zpath, ["user_id", "value"])
    ev.repartition(8).write.mode("overwrite").parquet(npath)

    # 2-D box predicate; count row groups whose min/max stats intersect it
    lo_u, hi_u = 10, 20
    lo_v, hi_v = 5.0, 10.0

    def hits(path):
        import glob

        n_total = n_hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                su = g.column(names["user_id"]).statistics
                sv = g.column(names["value"]).statistics
                n_total += 1
                if su.min <= hi_u and su.max >= lo_u and sv.min <= hi_v and sv.max >= lo_v:
                    n_hit += 1
        return n_hit, n_total

    z_hit, z_total = hits(zpath)
    n_hit, n_total = hits(npath)
    # the naive round-robin layout leaves every row group spanning the full
    # range (all hit); the z-ordered layout confines the box to a subset
    assert n_hit == n_total
    assert z_hit < n_hit
    # correctness: same rows either way
    assert (
        spark.read.parquet(zpath).count() == spark.read.parquet(npath).count()
    )


def test_write_partitioned_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the second natively-shipped splittable columnar format; the
    partitioned sink writes it with the same layout contract as parquet."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "events_orc")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "user_id", "value")
        .limit(500)
    )
    sinks.write_partitioned(ev, target, partition_cols=("event_type",), fmt="orc")
    back = spark.read.orc(target)
    assert back.count() == 500
    # partition pruning works through the ORC layout too
    one_type = back.filter(F.col("event_type") == "click")
    plan = one_type._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    a = {r["event_id"]: r["value"] for r in back.collect()}
    b = {r["event_id"]: r["value"] for r in ev.collect()}
    assert a == b
