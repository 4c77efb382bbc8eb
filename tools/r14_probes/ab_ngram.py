"""In-process A/B for dedup_ngram_jaccard's df-ranking stage:
A = current (dfreq aggregate + posting-dfreq join),
B = window count over partitionBy(shingle) (single shingle exchange).
Times the ORDERED PREFIX BUILD only (the stage the rewrite changes), and
verifies identical prefix tables."""
import os, sys, time, collections
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import Window, functions as F
from etl_schema_spark.session import get_spark
from etl_schema_spark.operators import dedup
from etl_schema_spark.operators.cachereg import release_pins, swap_pin

SF = "/root/testdata/sf0.1"
tau = dedup.JACCARD_TAU
spark = get_spark("ab_ngram", master="local[8]")

docs = swap_pin("abn.shingles", dedup._shingled_docs(spark, SF).filter(F.size("shingles") > 0).select(
    "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")))
docs.write.format("noop").mode("overwrite").save()
posting = docs.select("doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle"))

def prefix_of(by_rarity_agg):
    return by_rarity_agg.select(
        "doc_id", "n_sh",
        F.slice("by_rarity", 1, (F.size("by_rarity") - F.ceil(F.size("by_rarity") * tau) + 1).cast("int")).alias("prefix"))

def build_join():
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return prefix_of(
        posting.join(dfreq, "shingle").groupBy("doc_id").agg(
            F.any_value(F.col("n_sh")).alias("n_sh"),
            F.transform(F.array_sort(F.collect_list(F.struct("df", "shingle"))), lambda s: s["shingle"]).alias("by_rarity")))

def build_window():
    wdf = Window.partitionBy("shingle")
    return prefix_of(
        posting.withColumn("df", F.count(F.lit(1)).over(wdf)).groupBy("doc_id").agg(
            F.any_value(F.col("n_sh")).alias("n_sh"),
            F.transform(F.array_sort(F.collect_list(F.struct("df", "shingle"))), lambda s: s["shingle"]).alias("by_rarity")))

# identity check
a = sorted(tuple(r) for r in build_join().collect())
b = sorted(tuple(r) for r in build_window().collect())
print("identical prefixes:", a == b, len(a))

times = collections.defaultdict(list)
for r in range(6):
    for label, fn in (("join", build_join), ("window", build_window)):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        times[label].append(round(time.perf_counter() - t0, 3))
for label, ts in times.items():
    print(f"{label:8s} min={min(ts):.3f} med={sorted(ts)[len(ts)//2]:.3f} {ts}")
import re
pj = build_join()._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
pw = build_window()._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
for lbl, p in (("join", pj), ("window", pw)):
    print(lbl, "exchanges:", len(re.findall(r"Exchange (hash|range|Single)", p)), "sorts:", len(re.findall(r"\bSort\b", p)))
release_pins()
