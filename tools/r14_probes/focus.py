"""Focus bench: time named queries at sf0.1 with the noop sink.
Usage: python focus.py <label> <query> [query...]
One warmup pass (q1 + arrow worker warm), then cold per query, then 4 warm
passes; prints JSON {label, query: {cold, warm: [...], warm_min}}.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from etl_schema_spark.session import get_spark

label = sys.argv[1]
names = sys.argv[2:]
SF = "/root/testdata/sf0.1"

import __spark_entry__ as entrymod

qs = entrymod.queries()
spark = get_spark("focus", master="local[32]")
qs["q1_pricing_summary"](spark, SF).write.format("noop").mode("overwrite").save()
import pandas as _pd  # noqa
spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, "id long").write.format("noop").mode("overwrite").save()

out = {}
for name in names:
    spark.sparkContext.setJobDescription(f"focus:{name}")
    t0 = time.perf_counter()
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    cold = time.perf_counter() - t0
    warm = []
    for _ in range(4):
        t0 = time.perf_counter()
        qs[name](spark, SF).write.format("noop").mode("overwrite").save()
        warm.append(round(time.perf_counter() - t0, 3))
    out[name] = {"cold": round(cold, 3), "warm": warm, "warm_min": min(warm)}

from etl_schema_spark.operators.cachereg import release_pins
from etl_schema_spark.streaming.scratch import release_scratch
release_pins(); release_scratch()
print(json.dumps({"label": label, "queries": out}))
