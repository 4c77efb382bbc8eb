"""Stage-split profile of dedup_ngram_jaccard at sf0.1: time each pinned
build and the downstream stages separately (one session, local[8])."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F
from etl_schema_spark.session import get_spark
from etl_schema_spark.operators import dedup
from etl_schema_spark.operators.cachereg import release_pins, swap_pin
from etl_schema_spark.streaming.scratch import release_scratch

SF = "/root/testdata/sf0.1"
spark = get_spark("prof_ngram", master="local[8]")
spark.range(0, 64, 1, 8).mapInPandas(lambda it: it, "id long").write.format("noop").mode("overwrite").save()

def t(label, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"{label:34s} {dt:7.3f} s")
    return out

for rnd in range(3):
    release_pins()
    # 1. shingled docs pin build (tokenize + shingle + xxhash64 + cache)
    docs = dedup._shingled_docs(spark, SF).filter(F.size("shingles") > 0).select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"))
    docs = swap_pin("prof.shingles", docs)
    t("shingle pin materialize", lambda: docs.write.format("noop").mode("overwrite").save())
    # 2. posting + dfreq + ordered prefix build
    posting = docs.select("doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle"))
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    t("dfreq aggregate", lambda: dfreq.write.format("noop").mode("overwrite").save())
    tau = dedup.JACCARD_TAU
    ordered = (
        posting.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(F.any_value(F.col("n_sh")).alias("n_sh"),
             F.transform(F.array_sort(F.collect_list(F.struct("df", "shingle"))), lambda s: s["shingle"]).alias("by_rarity"))
        .select("doc_id", "n_sh",
                F.slice("by_rarity", 1, (F.size("by_rarity") - F.ceil(F.size("by_rarity") * tau) + 1).cast("int")).alias("prefix"))
    )
    ordered = swap_pin("prof.prefix", ordered)
    t("ordered prefix pin materialize", lambda: ordered.write.format("noop").mode("overwrite").save())
    # 3. candidates
    pref = ordered.select("doc_id", "n_sh", F.explode("prefix").alias("shingle"))
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle")
    candidates = (a.join(b, "shingle")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("n_b") >= F.col("n_a") * tau) & (F.col("n_a") >= F.col("n_b") * tau))
        .select("doc_a", "doc_b").dropDuplicates(["doc_a", "doc_b"]))
    t("candidates", lambda: candidates.write.format("noop").mode("overwrite").save())
    # 4. full query end-to-end (uses its own pins)
    t("FULL dedup_ngram_jaccard", lambda: dedup.dedup_ngram_jaccard(spark, SF).write.format("noop").mode("overwrite").save())
    print("---")
release_pins(); release_scratch()
