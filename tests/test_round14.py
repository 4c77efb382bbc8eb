"""Round-14 optimization tests:

- deterministic hex-prefix bucketing chunks md5-keyed two-phase ranks
  (the chunk id is a pure row function — monotone, uniform,
  recompute-stable)
- grouped_rank_pick sorts each selected chunk ONCE (per-chunk local-rank
  arrays; ADVICE r13 replicated a chunk per target)
- grouped_rank_slice tolerates caller columns named _off/_cnt (ADVICE r13
  collision)
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_hex_prefix_bucket_monotone_and_bounded(spark):
    from etl_schema_spark.operators.distributed import hex_prefix_bucket

    df = spark.range(0, 3000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    n = 64
    rows = (
        df.select("k", hex_prefix_bucket(F.col("k"), n).alias("b"))
        .orderBy("k")
        .collect()
    )
    bs = [r.b for r in rows]
    assert all(0 <= b < n for b in bs)
    assert bs == sorted(bs), "bucket id must be monotone in the key"
    # uniform-ish: md5 prefixes spread over most buckets
    assert len(set(bs)) > n * 0.9


def test_grouped_running_sum_bucketed_equals_window(spark):
    """An md5-keyed running sum chunks by the hex-prefix bucket and equals
    the full window ranking, with no sampled range split in the plan."""
    from etl_schema_spark.operators.distributed import grouped_running_sum

    df = spark.range(0, 2000).select(
        (F.col("id") % 5).alias("g"),
        F.md5(F.col("id").cast("string")).alias("k"),
        (F.col("id") % 7 + 1).alias("v"),
    )
    out = grouped_running_sum(df, "g", F.col("k"), "v", "rs")
    got = {(r.g, r.k): r.rs for r in out.collect()}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "conv(substring(" in plan
    w = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.g, r.k): r.rs
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_grouped_rank_pick_multiple_targets_one_chunk(spark):
    """ADVICE r13: when several targets land in ONE chunk,
    the selected chunk must still sort once (a single (pid, group)
    window) and every target row must come back with its global rank."""
    from etl_schema_spark.operators.distributed import grouped_rank_pick

    df = spark.range(0, 500).select(
        (F.col("id") % 2).alias("g"),
        (F.lit(1 << 40) + (F.col("id") * 31) % 500).alias("v"),
        F.col("id").alias("tie"),
    )
    # every v shares one log-linear bin (2^40 + [0, 500) is inside one
    # bin for any MANTISSA_BITS <= 30), so p25/p50/p75 of a group land in
    # ONE chunk
    targets = F.expr("array(n div 4, (n + 1) div 2, (3 * n) div 4)")
    p = grouped_rank_pick(df, "g", F.struct("v", "tie"), targets)
    got = {(r.g, r.rk): (r.v, r.tie) for r in p.picked.collect()}
    w = Window.partitionBy("g").orderBy("v", "tie")
    full = df.withColumn("rk", F.row_number().over(w))
    n_by_g = {r.g: r.n for r in p.counts.collect()}
    want = {}
    for r in full.collect():
        n = n_by_g[r.g]
        for t in {n // 4, (n + 1) // 2, (3 * n) // 4}:
            if r.rk == t:
                want[(r.g, t)] = (r.v, r.tie)
    assert got == want
    # one local-rank window keyed (pid, group) — not (pid, group, target);
    # AQE's toString appends the initial plan, so cut at the final one
    plan = (
        p.picked._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("row_number()") == 1
    assert "array_contains" in plan


def test_grouped_rank_pick_single_target_path(spark):
    """single_target=True (the mad_outliers median shape) skips the
    per-chunk target-array aggregate and must match the full ranking and
    the default path exactly."""
    from etl_schema_spark.operators.distributed import grouped_rank_pick

    df = spark.range(0, 900).select(
        (F.col("id") % 4).alias("g"),
        ((F.col("id") * 13) % 900).alias("v"),
        F.col("id").alias("tie"),
    )
    targets = F.expr("array((n + 1) div 2)")
    p1 = grouped_rank_pick(
        df, "g", F.struct("v", "tie"), targets, single_target=True
    )
    p2 = grouped_rank_pick(df, "g", F.struct("v", "tie"), targets)
    got1 = {(r.g, r.rk): (r.v, r.tie) for r in p1.picked.collect()}
    got2 = {(r.g, r.rk): (r.v, r.tie) for r in p2.picked.collect()}
    assert got1 == got2
    w = Window.partitionBy("g").orderBy("v", "tie")
    full = df.withColumn("rk", F.row_number().over(w))
    n_by_g = {r.g: r.n for r in p1.counts.collect()}
    want = {
        (r.g, r.rk): (r.v, r.tie)
        for r in full.collect()
        if r.rk == (n_by_g[r.g] + 1) // 2
    }
    assert got1 == want
    # the fast path has no target-array aggregate in its plan
    plan = p1.picked._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_grouped_rank_slice_tolerates_off_cnt_columns(spark):
    """ADVICE r13: caller columns named _off/_cnt must not make the edge
    join ambiguous — internal chunk columns go through tmp() now."""
    from etl_schema_spark.operators.distributed import grouped_rank_slice

    df = spark.range(0, 400).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 17) % 400).alias("v"),
        F.col("id").alias("tie"),
        F.lit(99).alias("_off"),
        F.lit(42).alias("_cnt"),
    )
    s = grouped_rank_slice(
        df, "g", F.struct("v", "tie"),
        F.expr("n div 10"), F.expr("n - n div 10"),
    )
    got = sorted((r.g, r.v, r.tie) for r in s.kept.collect())
    w = Window.partitionBy("g").orderBy("v", "tie")
    full = df.withColumn("rk", F.row_number().over(w))
    n_by_g = {r.g: r.n for r in s.counts.collect()}
    want = sorted(
        (r.g, r.v, r.tie)
        for r in full.collect()
        if n_by_g[r.g] // 10 < r.rk <= n_by_g[r.g] - n_by_g[r.g] // 10
    )
    assert got == want
    # caller columns survive untouched
    assert {"_off", "_cnt"} <= set(s.kept.columns)
