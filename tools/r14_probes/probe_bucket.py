"""Probe: deterministic hex-prefix bucketing as the chunk id for the
two-phase running sum — correctness vs full window rank, plan shape,
and timing vs the seam form (alternating A/B in one session)."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import Window, functions as F
from etl_schema_spark.session import get_spark

spark = get_spark("probe_bucket", master="local[4]")

docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select("doc_id", "source")
keyed = docs.withColumn("shuffle_key", F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string"))))

N_BUCKETS = 32 * 32

def bucketed(df):
    b = (F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("bigint") * N_BUCKETS / F.lit(4294967296)).cast("bigint")
    bdf = df.withColumn("_bkt", b)
    counts = bdf.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    offsets = counts.select("_bkt", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"))
    w_local = Window.partitionBy("_bkt").orderBy("shuffle_key")
    return (
        bdf.join(F.broadcast(offsets), "_bkt")
        .select((F.col("_offset") + F.row_number().over(w_local)).alias("position"),
                "doc_id", "source", "shuffle_key")
    )

out = bucketed(keyed)
got = {r.doc_id: r.position for r in out.collect()}
w = Window.orderBy("shuffle_key")
want = {r.doc_id: r.position for r in keyed.select(
    F.row_number().over(w).alias("position"), "doc_id").collect()}
print("MATCH:", got == want, len(got))

# bucket balance
bal = (keyed.withColumn("_bkt", (F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("bigint") * N_BUCKETS / F.lit(4294967296)).cast("bigint"))
       .groupBy("_bkt").count().agg(F.min("count"), F.max("count"), F.count(F.lit(1))).collect())
print("bucket balance (min,max,nbuckets):", bal)

plan = out._jdf.queryExecution().executedPlan().toString()
import re
print("exchanges:", len(re.findall(r"Exchange (hash|range|Single)", plan)),
      "| range:", len(re.findall(r"Exchange rangepartitioning", plan)),
      "| scans:", len(re.findall(r"FileScan", plan)))

# timing A/B vs the current epoch_shuffle (seam form), alternating, sf0.1
import importlib
from etl_schema_spark.operators import corpus
from etl_schema_spark.streaming.scratch import release_scratch

sf = "/root/testdata/sf0.1"
def run_seam():
    corpus.epoch_shuffle(spark, sf).write.format("noop").mode("overwrite").save()
def run_bucket():
    d = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "source")
    k = d.withColumn("shuffle_key", F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string"))))
    bucketed(k).write.format("noop").mode("overwrite").save()

run_seam(); run_bucket()  # warm both
ts, tb = [], []
for i in range(4):
    t0 = time.perf_counter(); run_seam(); ts.append(time.perf_counter() - t0)
    t0 = time.perf_counter(); run_bucket(); tb.append(time.perf_counter() - t0)
release_scratch()
print("seam   :", [round(x, 3) for x in ts], "min", round(min(ts), 3))
print("bucket :", [round(x, 3) for x in tb], "min", round(min(tb), 3))
