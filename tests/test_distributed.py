"""The one chunking mode of the two-phase ranks (operators/distributed.py):

- a string order key that is not lowercase hex fails loudly instead of
  landing in a bucket that breaks the order
- running sum, rank pick and rank slice equal the full window under any
  shuffle partition count (the chunk id never reads the layout)
- a task retried after a first-attempt failure recomputes the same chunk
  ids, so the result is unchanged (no frozen copy is needed)
"""

import os
import subprocess
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("key", ["doc-17", "ABCDEF0123456789", "abc"])
def test_non_hex_string_key_fails_loudly(spark, key):
    from etl_schema_spark.operators.distributed import grouped_running_sum

    df = spark.createDataFrame(
        [("g", "0123456789abcdef", 1), ("g", key, 2)], "g string, k string, v int"
    )
    with pytest.raises(Exception, match="not lowercase hex"):
        grouped_running_sum(df, "g", "k", "v", "rs").collect()


def _rank_frame(spark):
    # 3 groups; with MANTISSA_BITS = 14 a chunk holds several rows:
    # x puts 4 consecutive values of either sign in one log-linear bin,
    # and the heavy integer tie c (0..3) is broken by an id whose bins
    # hold 64 ids each
    sign = F.when(F.col("id") % 5 == 0, -1.0).otherwise(1.0)
    return spark.range(0, 1500).select(
        (F.col("id") % 3).alias("g"),
        (sign * (F.lit(2.0**30) + (F.col("id") % 700) * 2.0**14)).alias("x"),
        (F.col("id") % 3 + F.col("id") % 2).alias("c"),
        (F.lit(1 << 40) + F.col("id") * (1 << 20)).alias("id"),
    )


def _check_ranks(spark, df):
    """Running sum, pick and slice against the single-task window."""
    from etl_schema_spark.operators.distributed import (
        grouped_rank_pick,
        grouped_rank_slice,
        grouped_running_sum,
    )

    for order in (F.struct("x", "id"), F.struct("c", "id")):
        w = Window.partitionBy("g").orderBy(order)
        full = {
            r.id: (r.rk, r.n)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rk"),
                F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
            ).collect()
        }
        rs = grouped_running_sum(df, "g", order, F.lit(1), "rk")
        assert {r.id: r.rk for r in rs.collect()} == {
            i: rk for i, (rk, _) in full.items()
        }
        targets = F.expr("array(1, n div 3, (n + 1) div 2, n)")
        p = grouped_rank_pick(df, "g", order, targets)
        want = {
            i for i, (rk, n) in full.items() if rk in {1, n // 3, (n + 1) // 2, n}
        }
        assert {r.id for r in p.picked.collect()} == want
        s = grouped_rank_slice(
            df, "g", order, F.expr("n div 10"), F.expr("n - n div 10")
        )
        want = {i for i, (rk, n) in full.items() if n // 10 < rk <= n - n // 10}
        assert {r.id for r in s.kept.collect()} == want


@pytest.mark.parametrize("partitions", [1, 7, 64])
def test_ranks_invariant_to_shuffle_partitions(spark, partitions):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        _check_ranks(spark, _rank_frame(spark))
    finally:
        spark.conf.set(key, before)


_RETRY_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import DoubleType

marker = {marker!r}


@F.udf(DoubleType())
def flaky(x):
    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0 and ctx.partitionId() == 0:
        open(marker, "w").close()
        raise RuntimeError("injected first-attempt failure")
    return x


spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "7")
    .getOrCreate()
)
from tests.test_distributed import _check_ranks, _rank_frame

df = _rank_frame(spark).repartition(4).withColumn("x", flaky("x"))
_check_ranks(spark, df)
print("RANKS-OK")
"""


def test_ranks_survive_task_retry(tmp_path):
    """local[2,2] allows one retry per task; the input's first partition
    fails its first attempt in every stage that scans it."""
    marker = str(tmp_path / "failed")
    script = _RETRY_SCRIPT.format(repo=REPO, marker=marker)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "RANKS-OK" in out.stdout, out.stderr[-4000:]
    assert os.path.exists(marker), "no task failure was injected"
