"""Rollup/statistics operator tests (SURVEY §2A)."""

from etl_schema_spark.operators import rollups

from .conftest import assert_matches_oracle


def test_dedup_best_per_user(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.dedup_best_per_user(spark, sf_dir), duck, rollups.dedup_best_per_user_oracle()
    )


def test_dedup_is_one_row_per_user(spark, sf_dir):
    df = rollups.dedup_best_per_user(spark, sf_dir)
    assert df.count() == df.select("user_id").distinct().count()


def test_hourly_rollup(spark, sf_dir, duck):
    assert_matches_oracle(rollups.hourly_rollup(spark, sf_dir), duck, rollups.hourly_rollup_oracle())


def test_daily_deciles(spark, sf_dir, duck):
    assert_matches_oracle(rollups.daily_deciles(spark, sf_dir), duck, rollups.daily_deciles_oracle())


def test_daily_deciles_shape(spark, sf_dir):
    df = rollups.daily_deciles(spark, sf_dir).collect()
    by_day = {}
    for r in df:
        by_day.setdefault(r.partition_date, []).append(r)
    for day, rows in by_day.items():
        assert len(rows) == 11  # deciles 0..10
        vals = [r.decile_value for r in sorted(rows, key=lambda r: r.decile)]
        assert vals == sorted(vals)  # monotone


def test_switch_utilization(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.switch_utilization(spark, sf_dir), duck, rollups.switch_utilization_oracle()
    )


def test_sidestream_view(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.sidestream_view(spark, sf_dir), duck, rollups.sidestream_view_oracle()
    )


def test_wildcard_union(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.wildcard_union(spark, sf_dir), duck, rollups.wildcard_union_oracle()
    )


def test_multistream_throughput(spark, sf_dir, duck):
    from etl_schema_spark.operators import rollups

    assert_matches_oracle(
        rollups.multistream_throughput(spark, sf_dir),
        duck,
        rollups.multistream_throughput_oracle(),
    )


def test_sliding_window_stats_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.sliding_window_stats(spark, sf_dir),
        duck,
        rollups.sliding_window_stats_oracle(),
    )


def test_sliding_window_reaggregates_hourly(spark, sf_dir):
    """n_3h at hour H equals the sum of n_1h over {H-2h, H-1h, H} — the
    RANGE frame re-aggregates buckets, it doesn't slide over rows."""
    from pyspark.sql import functions as F

    df = rollups.sliding_window_stats(spark, sf_dir).cache()
    one = df.select("event_type", F.col("hour").cast("long").alias("h"), "n_1h")
    expanded = one.select(
        "event_type",
        F.explode(
            F.array(F.col("h"), F.col("h") + 3600, F.col("h") + 7200)
        ).alias("h_target"),
        "n_1h",
    ).groupBy("event_type", "h_target").agg(F.sum("n_1h").alias("expect_3h"))
    joined = df.select(
        "event_type", F.col("hour").cast("long").alias("h_target"), "n_3h"
    ).join(expanded, ["event_type", "h_target"])
    assert joined.filter(F.col("n_3h") != F.col("expect_3h")).count() == 0


def test_rolling_active_users_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        rollups.rolling_active_users(spark, sf_dir),
        duck,
        rollups.rolling_active_users_oracle(),
    )


def test_rolling_active_users_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    df = rollups.rolling_active_users(spark, sf_dir).cache()
    # WAU >= DAU always; stickiness in (0, 1]
    assert df.filter(F.col("wau") < F.col("dau")).count() == 0
    assert df.filter((F.col("stickiness") <= 0) | (F.col("stickiness") > 1)).count() == 0
