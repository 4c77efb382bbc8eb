"""Probe: does Spark 4.1.2 (AQE on) reuse a shared repartitionByRange
exchange subtree referenced by two branches of one query (aggregate branch
+ broadcast-selection branch), or does it execute the shuffle twice?

Also checks the final formatted plan for ReusedExchange / reused query
stages, and that a freeze=False-style rank pick over a parquet scan gives
the same answer as a full window ranking.
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import Window, functions as F
from etl_schema_spark.session import get_spark

spark = get_spark("probe_reuse", master="local[4]")
sc = spark.sparkContext

df = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
    "event_type", "event_id", "value"
).filter(F.col("value").isNotNull())

# freeze=False shape, inline: shared ranged subtree, two consumers
ranged = (
    df.withColumn("_ord", F.struct("value", "event_id"))
    .repartitionByRange(16, F.col("event_type"), F.col("_ord"))
    .withColumn("_pid", F.spark_partition_id())
)
per = ranged.groupBy("_pid", "event_type").agg(F.count(F.lit(1)).alias("_cnt"))
w_off = Window.partitionBy("event_type").orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
chunk = per.select(
    "_pid", "event_type",
    F.sum("_cnt").over(Window.partitionBy("event_type")).alias("n"),
    F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    "_cnt",
)
sel = (
    chunk.select("_pid", "event_type", "_off", "_cnt",
                 F.explode(F.expr("array((n + 1) div 2)")).alias("rk"))
    .filter((F.col("rk") > F.col("_off")) & (F.col("rk") <= F.col("_off") + F.col("_cnt")))
    .groupBy("_pid", "event_type", "_off")
    .agg(F.array_sort(F.collect_list(F.col("rk") - F.col("_off"))).alias("_lts"))
)
w_local = Window.partitionBy("_pid", "event_type").orderBy("_ord")
picked = (
    ranged.join(F.broadcast(sel), ["_pid", "event_type"])
    .withColumn("_lrn", F.row_number().over(w_local).cast("bigint"))
    .filter(F.array_contains(F.col("_lts"), F.col("_lrn")))
    .withColumn("rk", F.col("_off") + F.col("_lrn"))
    .select("event_type", "value", "rk")
)

tracker = sc.statusTracker()
picked_rows = {(r.event_type, r.rk): r.value for r in picked.collect()}

# ground truth: full window rank
w = Window.partitionBy("event_type").orderBy("value", "event_id")
full = df.withColumn("rk", F.row_number().over(w))
cnts = {r.event_type: r.n for r in df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
want = {}
for r in full.collect():
    if r.rk == (cnts[r.event_type] + 1) // 2:
        want[(r.event_type, r.rk)] = r.value
print("MATCH:", picked_rows == want, len(picked_rows), "picked")

plan = picked._jdf.queryExecution().executedPlan().toString()
import re
n_shuffle_range = len(re.findall(r"Exchange rangepartitioning", plan))
n_reused = len(re.findall(r"ReusedExchange|reused", plan))
print("range exchanges in executed plan:", n_shuffle_range, "| reused markers:", n_reused)
# count actual shuffle IDs / stages via the UI-less route: look at formatted
fmt = picked._sc_jvm = None
from io import StringIO
import contextlib
buf = StringIO()
with contextlib.redirect_stdout(buf):
    picked.explain("formatted")
fmts = buf.getvalue()
print("---- formatted plan markers ----")
for line in fmts.splitlines():
    if ("Exchange" in line or "Reused" in line or "ShuffleQueryStage" in line
            or "TableCacheQueryStage" in line):
        print(line[:120])
print("---- shuffle dep count via listener-free check ----")
# After execution with AQE, re-run and count jobs/stages
spark.sparkContext.setJobGroup("probe2", "probe rerun")
t0 = time.perf_counter()
picked.write.format("noop").mode("overwrite").save()
print("noop rerun sec:", round(time.perf_counter() - t0, 3))
print(plan[:4000])
