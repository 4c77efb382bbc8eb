"""Item 6 profile: multimodal_meta / simhash_fingerprint / knn_classify
core-scaling inversion at sf0.1. Runs each at the given core count with
warm passes, and also times the cpu_parallel fan-out itself."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
cores = sys.argv[1]
from pyspark.sql import functions as F
from etl_schema_spark.session import get_spark
from etl_schema_spark.operators.cachereg import release_pins
from etl_schema_spark.streaming.scratch import release_scratch

SF = "/root/testdata/sf0.1"
spark = get_spark("prof_codec", master=f"local[{cores}]")
import __spark_entry__ as e
qs = e.queries()
qs["q1_pricing_summary"](spark, SF).write.format("noop").mode("overwrite").save()
import pandas as _pd  # noqa
spark.range(0, 64, 1, int(cores)).mapInPandas(lambda it: it, "id long").write.format("noop").mode("overwrite").save()

out = {}
for name in ["multimodal_meta", "simhash_fingerprint", "knn_classify", "token_count", "pii_scrub"]:
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        qs[name](spark, SF).write.format("noop").mode("overwrite").save()
        ts.append(round(time.perf_counter() - t0, 3))
    out[name] = ts
    print(f"local[{cores}] {name:22s} min={min(ts):.3f} {ts}")
# cpu_parallel fan-out cost alone: scan+repartition+count vs scan+count
from etl_schema_spark.sources.catalog import cpu_parallel, load_table
d = load_table(spark, SF, "documents").select("doc_id", "text")
for label, frame in (("plain scan", d), ("cpu_parallel", cpu_parallel(d))):
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        ts.append(round(time.perf_counter() - t0, 3))
    print(f"local[{cores}] {label:22s} min={min(ts):.3f} {ts}")
release_pins(); release_scratch()
