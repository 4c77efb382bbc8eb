"""Round-13 pins: the VERDICT r12 punch list.

- streaming ingest_front_door: multi-batch admit-then-append — a batch-2
  copy of a batch-1 ADMITTED doc verdicts 'duplicate' (exact tier) or
  'near_dup' (banding tier) against the run's index deltas, which the
  static session-pinned index alone could never see; redelivery converges
- session.shuffle_partitions tolerates non-numeric conf values
- the neardup band index carries the LSH_BUCKET_CAP occupancy cap
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

# distinctive vocabulary no sf0.001 corpus doc shares shingles with
_BASE = (
    "zyqvex ploomba wrenchal kovitz blarnex quidmore flenty xarwopple "
    "grumbleshanks vorpaline dexgazer mirthquill zandercroft oblivex "
    "pranglewort subniferous klaxxon wopplegrim farnsythe quellbinder"
)


def _doc(doc_id: int, text: str) -> tuple:
    return (doc_id, text, "en", "synthetic", len(text))


def _write_file(spark, rows, path: str) -> None:
    """One parquet FILE (not dir) the streaming file source can list."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sq_fd_stage_")
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp, ignore_errors=True)


def test_front_door_appends_index_across_batches(spark, tmp_path):
    """VERDICT r12 item 6 (Done criterion): batch 2's exact copy of a
    batch-1 ADMITTED doc verdicts 'duplicate' and its near-copy verdicts
    'near_dup', both witnessing the batch-1 doc — proof the admitted
    fingerprints/band signatures were appended to the run's index and
    adjudicated against, since neither doc exists in the static corpus
    index. A third drain with no new files changes nothing (idempotent
    replay over the ledger + checkpoint)."""
    from etl_schema_spark.streaming import ingest_front_door_sink

    target = str(tmp_path / "sink")
    arr = str(tmp_path / "arriving")
    os.makedirs(arr)

    a_id, b_id, c_id = 9_000_001, 9_000_002, 9_000_003
    near_text = _BASE.replace("quellbinder", "differento")
    _write_file(spark, [_doc(a_id, _BASE)], os.path.join(arr, "b1.parquet"))

    # drain 1: doc A is novel -> admitted, its signatures appended
    ingest_front_door_sink(spark, SF, target, arriving_dir=arr)
    out1 = {
        r.doc_id: r for r in spark.read.parquet(os.path.join(target, "out")).collect()
    }
    assert out1[a_id].verdict == "admitted"
    # the admit-append deltas exist and carry doc A
    md5_delta = spark.read.parquet(os.path.join(target, "_index", "md5"))
    assert [r.doc_id for r in md5_delta.collect()] == [a_id]
    band_delta = spark.read.parquet(os.path.join(target, "_index", "band"))
    assert band_delta.filter(F.col("doc_id") == a_id).count() > 0

    # drain 2: B = exact copy, C = near copy — both arrive AFTER A admitted
    _write_file(
        spark,
        [_doc(b_id, _BASE), _doc(c_id, near_text)],
        os.path.join(arr, "b2.parquet"),
    )
    ingest_front_door_sink(spark, SF, target, arriving_dir=arr)
    out2 = {
        r.doc_id: r for r in spark.read.parquet(os.path.join(target, "out")).collect()
    }
    assert out2[a_id].verdict == "admitted"  # batch-1 verdict untouched
    assert out2[b_id].verdict == "duplicate" and out2[b_id].witness == a_id
    assert out2[c_id].verdict == "near_dup" and out2[c_id].witness == a_id
    # only A was admitted, so the delta still carries exactly one md5 row
    md5_rows = sorted(
        r.doc_id
        for r in spark.read.parquet(os.path.join(target, "_index", "md5")).collect()
    )
    assert md5_rows == [a_id]

    # drain 3: nothing new — verdicts byte-identical (replay convergence)
    ingest_front_door_sink(spark, SF, target, arriving_dir=arr)
    out3 = {
        r.doc_id: (r.verdict, r.witness, r.detail)
        for r in spark.read.parquet(os.path.join(target, "out")).collect()
    }
    assert out3 == {
        k: (v.verdict, v.witness, v.detail) for k, v in out2.items()
    }


def test_front_door_quality_tier_in_stream(spark, tmp_path):
    """A quality-failing arriving doc routes 'quality_fail' and is NOT
    appended to the index — a later copy of it re-adjudicates fresh
    (rejected docs never pollute the lake's fingerprint table)."""
    from etl_schema_spark.streaming import ingest_front_door_sink

    target = str(tmp_path / "sink")
    arr = str(tmp_path / "arriving")
    os.makedirs(arr)
    bad_id, copy_id = 9_100_001, 9_100_002
    bad = (bad_id, _BASE, "xx", "synthetic", len(_BASE))  # undeclared lang
    _write_file(spark, [bad], os.path.join(arr, "b1.parquet"))
    ingest_front_door_sink(spark, SF, target, arriving_dir=arr)
    out1 = {
        r.doc_id: r for r in spark.read.parquet(os.path.join(target, "out")).collect()
    }
    assert out1[bad_id].verdict == "quality_fail"
    assert out1[bad_id].detail == "accepted_lang"
    assert (
        spark.read.parquet(os.path.join(target, "_index", "md5")).count() == 0
    )

    # the same text arriving later (declared lang) is NOT a duplicate —
    # the rejected doc left no fingerprint behind
    _write_file(
        spark, [_doc(copy_id, _BASE)], os.path.join(arr, "b2.parquet")
    )
    ingest_front_door_sink(spark, SF, target, arriving_dir=arr)
    out2 = {
        r.doc_id: r for r in spark.read.parquet(os.path.join(target, "out")).collect()
    }
    assert out2[copy_id].verdict == "admitted"


def test_shuffle_partitions_tolerates_auto(spark):
    """ADVICE r12 (low): a non-numeric conf value falls back instead of
    raising ValueError out of every range-split consumer. Vanilla Spark
    rejects setting the conf to 'auto' itself, so the AQE-managed
    platform that serves it is faked at the conf boundary."""
    from etl_schema_spark.session import shuffle_partitions

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key, default=None):
            return self._v

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert shuffle_partitions(_Spark("auto"), 17) == 17
    assert shuffle_partitions(_Spark(None), 17) == 17
    assert shuffle_partitions(_Spark("64"), 17) == 64
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_topk_drift_truly_bounded(spark, duck):
    """VERDICT r12 item 7: phase 1 is the Arrow per-partition bounded
    heap (MapInPandas in the plan), the r11 (week, salt) re-shuffle +
    full-group collect_list is gone, and the output is byte-identical
    to the unchanged oracle."""
    from tests.conftest import assert_matches_oracle

    from etl_schema_spark.operators import drift

    df = drift.topk_drift_weekly(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # bounded per-partition top-K
    assert "BatchEvalPython" not in plan  # Arrow, not row-at-a-time
    assert "_salt" not in plan  # the salted full-counts re-shuffle is gone
    assert_matches_oracle(df, duck, drift.topk_drift_weekly_oracle())


def test_neardup_band_index_capped(spark):
    """ADVICE r12 (low): the band index's per-bucket occupancy is capped
    at LSH_BUCKET_CAP (min-doc_id keepers), in exploded form."""
    from etl_schema_spark.operators import dedup

    idx = dedup.neardup_band_index(spark, SF)
    assert set(idx.columns) == {"doc_id", "mh", "bucket"}
    top = (
        idx.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    assert top.mx <= dedup.LSH_BUCKET_CAP


def test_grouped_rank_pick_matches_full_rank(spark):
    """r13 rank-selection pushdown: picked rows at requested global ranks
    equal the full-ranking answer (the v leads span several chunks, so
    targets straddle chunk boundaries), duplicate
    targets collapse, counts come from the split's own chunk table, and
    only target-holding chunks feed the local sort (broadcast-join-bounded
    selection, never a full-input window rank)."""
    from etl_schema_spark.operators.distributed import grouped_rank_pick
    from pyspark.sql import Window

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 37) % 2000).alias("v"),
        F.col("id").alias("tie"),
    )
    # median + p90 + a duplicated target (array_distinct must collapse it)
    targets = F.expr("array((n + 1) div 2, (n * 9) div 10, (n + 1) div 2)")
    p = grouped_rank_pick(df, "g", F.struct("v", "tie"), targets)
    got = {(r.g, r.rk): (r.v, r.tie) for r in p.picked.collect()}
    w = Window.partitionBy("g").orderBy("v", "tie")
    full = df.withColumn("rk", F.row_number().over(w))
    n_by_g = {r.g: r.n for r in p.counts.collect()}
    assert n_by_g == {0: 667, 1: 667, 2: 666}
    want = {}
    for r in full.collect():
        n = n_by_g[r.g]
        for t in {(n + 1) // 2, (n * 9) // 10}:
            if r.rk == t:
                want[(r.g, t)] = (r.v, r.tie)
    assert got == want
    # rows is the input with original columns only
    assert set(p.rows.columns) == {"g", "v", "tie"}
    assert p.rows.count() == 2000
    # selection is broadcast-bounded: the picked plan joins the metadata
    # side as a BroadcastHashJoin, no full-input window rank remains
    plan = p.picked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_grouped_rank_slice_matches_full_rank(spark):
    """r13 trimmed-slice pushdown: kept == the (lo, hi] rank band of the
    full ranking, with interior chunks passed through sort-free and edge
    chunks cut exactly; kept row ORDER is unspecified (consumers
    aggregate order-insensitively)."""
    from etl_schema_spark.operators.distributed import grouped_rank_slice
    from pyspark.sql import Window

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 37) % 2000).alias("v"),
        F.col("id").alias("tie"),
    )
    s = grouped_rank_slice(
        df,
        "g",
        F.struct("v", "tie"),
        F.expr("n div 10"),
        F.expr("n - n div 10"),
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
