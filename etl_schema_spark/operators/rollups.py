"""Rollup / statistics operators.

Parity map:
  dedup_best_per_user  views/website/entry07_platform_decile_*.sql —
                       ROW_NUMBER() OVER (PARTITION BY remote_ip ORDER BY
                       mbps DESC) = 1 ("best test per client").
  hourly_rollup        views/website/entry07_platform_hourly_*.sql —
                       TIMESTAMP_TRUNC(hour) counts over deduped tests,
                       UNION ALL of two systems.
  daily_deciles        views/website/entry07_platform_decile_*.sql —
                       APPROX_QUANTILES(mbps, 10) + UNNEST WITH OFFSET.
                       We use *exact* percentiles (Spark `percentile`) so the
                       DuckDB oracle (quantile_cont) hash-matches; at cluster
                       scale swap in percentile_approx — same plan shape.
  switch_utilization   views/utilization/switch.sql + schema/switch.json —
                       per-hour per-interface counter rollup (max/avg).
  sidestream_view      views/sidestream/web100.sql + the website views'
                       mbps-from-counters derivation.

The registry's `log_pdf_cdf` and `geomean_by_type` (functions/
ops.ndt7_download_pdf_managed.sql, ops.ndt7_geomean_managed.sql) are
functions.table_functions.metric_pdf / metric_geomean with no direction
filter on the `best` fleet.

Scale notes:
  - Window partitions are (site) / (user) keyed — high cardinality, low
    skew. The deciles window is per-day: ~365 partitions/year, each small
    because percentile aggregates before the explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table, wildcard_scan
from .contracts import (
    FINITE_VALUE_SQL,
    VCLEAN_SQL,
    VDEC4_SQL,
    _trunc6,
    finite_value,
    vclean,
    vdec4,
)
from .views_layer import (
    _EXTENDED_SQL,
    DOWNLOAD_TYPES,
    UPLOAD_TYPES,
    VALID_BEST_SQL,
    extended_view,
    is_valid_best,
)

DECILE_PROBS = [i / 10.0 for i in range(11)]


def dedup_best_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best event per user (deterministic tie-break on ts, event_id).

    Parity: entry07_platform_decile_downloads_dedup_daily_after.sql
    (raw_web100_remote / raw_web100_max CTEs).
    """
    ext = extended_view(spark, sf_dir).filter(is_valid_best())
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        ext.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly test counts, download vs upload systems unioned.

    Parity: entry07_platform_hourly_downloads_after.sql (TIMESTAMP_TRUNC hour
    + GROUP BY + UNION ALL of web100/ndt5 branches).
    """
    ext = extended_view(spark, sf_dir).filter(is_valid_best())
    down = ext.filter(F.col("event_type").isin(*DOWNLOAD_TYPES)).withColumn(
        "system", F.lit("downloads")
    )
    up = ext.filter(F.col("event_type").isin(*UPLOAD_TYPES)).withColumn(
        "system", F.lit("uploads")
    )
    return (
        down.unionByName(up)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "system")
        .agg(F.count(F.lit(1)).alias("tests"))
        .orderBy("hour", "system")
    )


def daily_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day decile vector of `value`, exploded with offset.

    Parity: entry07_platform_decile_*.sql (APPROX_QUANTILES ... deciles,
    then `FROM web100, web100.deciles AS value WITH OFFSET AS index`).
    """
    ext = extended_view(spark, sf_dir).filter(is_valid_best())
    per_day = ext.groupBy("partition_date").agg(
        F.count(F.lit(1)).alias("tests"),
        F.percentile("value", F.array(*[F.lit(p) for p in DECILE_PROBS])).alias("qs"),
    )
    return (
        per_day.select(
            "partition_date",
            "tests",
            F.posexplode("qs").alias("decile", "decile_value"),
        )
        .withColumn("decile_value", F.round("decile_value", 6))
        .orderBy("partition_date", "decile")
    )


def switch_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour per-type counter utilization (max/avg/sum).

    Parity: views/utilization/switch.sql over schema/switch.json (sampled
    switch counters rolled up per interface per window).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("samples"),
            # guarded domain (contracts.py, fuzz wave 5): a NaN counter
            # sample would become the max/mean on Spark (NaN ranks above
            # +Inf) and crash DuckDB's cast path; corrupt samples degrade
            # to NULL, which MAX/AVG/SUM skip identically in both engines
            F.round(F.max(vclean("value")), 4).alias("peak"),
            F.round(F.avg(vclean("value")), 4).alias("mean"),
            F.round(F.sum(vdec4("value")).cast("double"), 4).alias("total"),
        )
        .orderBy("hour", "event_type")
    )


def sidestream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-protocol raw+derived view: rate from counters.

    Parity: views/sidestream/web100.sql + the website views' mbps derivation
    (8 * HCThruOctetsAcked / SUM(SndLimTime*)): rate = value / (k_value + 1).
    """
    ext = extended_view(spark, sf_dir)
    return (
        ext.filter(F.col("is_complete") & ~F.col("is_error"))
        .select(
            "event_id",
            "partition_date",
            "user_id",
            "event_type",
            # floor-truncation, not round: Spark's round() decimal-izes via the
            # double's shortest repr while DuckDB rounds the true binary value,
            # so they disagree on exact .5e-6 boundaries; floor(x*1e6)/1e6 is
            # the same IEEE op sequence in both engines. The rate is guarded
            # (contracts.py, fuzz wave 5): a corrupt counter degrades to a
            # NULL rate instead of Spark's floor saturating at Long.MAX;
            # try_divide mirrors DuckDB's x/0 -> NULL should k_value be -1.
            F.when(
                finite_value("value"),
                _trunc6(F.try_divide(F.col("value"), F.col("k_value") + 1)),
            ).alias("rate"),
            "k_value",
        )
    )


def wildcard_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob scan + daily counts.

    Parity: views/statistics/v0_cities.sql (`FROM ...cities_2*` wildcard
    tables). The glob pattern hits the parquet source directly, so partition
    pruning and schema merge behave as they would over yearly snapshots.
    """
    df = wildcard_scan(spark, f"{sf_dir}/events*.parquet", "events")
    return (
        df.groupBy(F.col("ts").cast("date").alias("date"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("date")
    )


# --- DuckDB oracles -------------------------------------------------------


def dedup_best_per_user_oracle() -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL}),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id
              ORDER BY value DESC, ts ASC, event_id ASC) AS rn
          FROM extended WHERE {VALID_BEST_SQL}
        )
        SELECT user_id, event_id, ts, event_type, value
        FROM ranked WHERE rn = 1 ORDER BY user_id
    """


def hourly_rollup_oracle() -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL}),
        valid AS (SELECT * FROM extended WHERE {VALID_BEST_SQL}),
        unioned AS (
          SELECT *, 'downloads' AS system FROM valid
          WHERE event_type IN ('click','view')
          UNION ALL
          SELECT *, 'uploads' AS system FROM valid
          WHERE event_type IN ('purchase','signup')
        )
        SELECT date_trunc('hour', ts) AS hour, system, COUNT(*) AS tests
        FROM unioned GROUP BY 1, 2 ORDER BY hour, system
    """


def daily_deciles_oracle() -> str:
    probs = ", ".join(str(p) for p in DECILE_PROBS)
    return f"""
        WITH extended AS ({_EXTENDED_SQL}),
        per_day AS (
          SELECT partition_date, COUNT(*) AS tests,
                 quantile_cont(value, [{probs}]) AS qs
          FROM extended WHERE {VALID_BEST_SQL}
          GROUP BY partition_date
        ),
        idx AS (SELECT unnest(generate_series(0, 10)) AS decile)
        SELECT partition_date, tests, decile,
               ROUND(qs[decile + 1], 6) AS decile_value
        FROM per_day CROSS JOIN idx
        ORDER BY partition_date, decile
    """


def switch_utilization_oracle() -> str:
    return f"""
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS samples,
               ROUND(MAX({VCLEAN_SQL}), 4) AS peak,
               ROUND(AVG({VCLEAN_SQL}), 4) AS mean,
               ROUND(CAST(SUM({VDEC4_SQL}) AS DOUBLE), 4) AS total
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """


def sidestream_view_oracle() -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL})
        SELECT event_id, partition_date, user_id, event_type,
               CASE WHEN {FINITE_VALUE_SQL}
                    THEN FLOOR(value / (k_value + 1) * 1e6) / 1e6
               END AS rate, k_value
        FROM extended
        WHERE is_complete AND NOT is_error
        ORDER BY event_id
    """


def wildcard_union_oracle() -> str:
    return """
        SELECT CAST(ts AS DATE) AS date, COUNT(*) AS rows
        FROM events GROUP BY 1 ORDER BY date
    """


def multistream_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stream test throughput: per-test time range (HAVING-filtered),
    snapshots re-joined under a range predicate, rate from windowed sums.

    Parity: views/msak/throughput1_downloads.sql — the reference computes
    per-MeasurementID start/end times (HAVING test duration <= 60s), joins
    the per-stream ServerMeasurements snapshots back restricted to the test
    window (StartTime + ElapsedTime <= test_end_time), and derives aggregate
    throughput from the last valid snapshot sums. Here (user_id, event_type)
    plays MeasurementID, events play stream snapshots, and the test window
    caps at one hour past the first snapshot.

    Scale: the ranges aggregate and the snapshot re-join shuffle on the same
    (user_id, event_type) key — Catalyst reuses the partitioning, and the
    range predicate stays a post-join filter on co-partitioned data (never a
    cartesian).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "value")
    ranges = (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("test_start"), F.max("ts").alias("test_end"))
        .filter(
            F.unix_micros("test_end") - F.unix_micros("test_start") <= 30 * 86400 * 1_000_000
        )
    )
    windowed = ev.join(ranges, ["user_id", "event_type"]).filter(
        F.col("ts") <= F.col("test_start") + F.expr("INTERVAL 1 HOUR")
    )
    return (
        windowed.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.any_value("test_start").alias("test_start"),
            F.max("ts").alias("last_snapshot"),
            _trunc6(
                # guarded lift (contracts.py, fuzz wave 5)
                F.sum(vdec4("value")).cast("double")
                / (
                    (
                        F.unix_micros(F.max("ts"))
                        - F.unix_micros(F.any_value("test_start"))
                    ).cast("double")
                    / 1e6
                    + 1
                )
            ).alias("rate"),
        )
        .orderBy("user_id", "event_type")
    )


def multistream_throughput_oracle() -> str:
    return f"""
        WITH ranges AS (
          SELECT user_id, event_type,
                 MIN(ts) AS test_start, MAX(ts) AS test_end
          FROM events
          GROUP BY user_id, event_type
          HAVING epoch_us(MAX(ts)) - epoch_us(MIN(ts)) <= CAST(30 * 86400 AS BIGINT) * 1000000
        ),
        windowed AS (
          SELECT e.user_id, e.event_type, e.ts, e.value, r.test_start
          FROM events e
          JOIN ranges r USING (user_id, event_type)
          WHERE e.ts <= r.test_start + INTERVAL 1 HOUR
        )
        SELECT user_id, event_type,
               COUNT(*) AS n_snapshots,
               ANY_VALUE(test_start) AS test_start,
               MAX(ts) AS last_snapshot,
               FLOOR(CAST(SUM({VDEC4_SQL}) AS DOUBLE)
                     / (CAST(epoch_us(MAX(ts)) - epoch_us(ANY_VALUE(test_start)) AS DOUBLE)
                        / 1e6 + 1) * 1e6) / 1e6
                 AS rate
        FROM windowed
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """


def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window rollup: per event_type and hour, the count
    and mean over the trailing 3-hour window — the batch twin of a
    Structured Streaming `window(ts, "3 hours", "1 hour")` aggregation
    (streaming/jobs.py holds the tumbling form; this is the overlapping
    one).

    Computed as hourly partials first (one shuffle, map-side combine),
    then a RANGE frame over epoch seconds re-aggregates 3 buckets per row —
    the window reads O(|hours|) pre-aggregated rows, never the raw events
    again. Means decompose through exact DECIMAL sums so window order
    can't perturb the float result. The RANGE frame (not ROWS) makes
    missing hours count as absent instead of sliding over 3 *rows*.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            # guarded integer lift (contracts.py, fuzz wave 5): corrupt
            # values degrade to NULL; floor stays far inside int64
            F.when(finite_value("value"), F.floor(F.col("value") * 1e6))
            .cast("decimal(18,0)")
            .alias("v6"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v6").alias("s6"))
        .withColumn("hour_s", F.col("hour").cast("long"))
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rangeBetween(-7200, Window.currentRow)
    )
    return hourly.select(
        "event_type",
        "hour",
        F.col("n").cast("bigint").alias("n_1h"),
        (F.floor(F.col("s6").cast("double") / F.col("n") ) / 1e6).alias("mean_1h"),
        F.sum("n").over(w3).cast("bigint").alias("n_3h"),
        (
            F.floor(F.sum("s6").over(w3).cast("double") / F.sum("n").over(w3)) / 1e6
        ).alias("mean_3h"),
    )


def sliding_window_stats_oracle() -> str:
    return f"""
        WITH hourly AS (
          SELECT event_type,
                 date_trunc('hour', ts) AS hour,
                 CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
                 COUNT(*) AS n,
                 SUM(CAST(CASE WHEN {FINITE_VALUE_SQL} THEN FLOOR(value * 1e6) END
                          AS DECIMAL(18,0))) AS s6
          FROM events
          GROUP BY 1, 2, 3
        )
        SELECT event_type, hour,
               CAST(n AS BIGINT) AS n_1h,
               FLOOR(CAST(s6 AS DOUBLE) / n) / 1e6 AS mean_1h,
               CAST(SUM(n) OVER w3 AS BIGINT) AS n_3h,
               FLOOR(CAST(SUM(s6) OVER w3 AS DOUBLE) / SUM(n) OVER w3) / 1e6 AS mean_3h
        FROM hourly
        WINDOW w3 AS (PARTITION BY event_type ORDER BY hour_s
                      RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, hour
    """


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day, with the stickiness ratio — the
    rolling COUNT(DISTINCT) family, which has no algebraic partial
    aggregate and therefore no native window form.

    The scale-correct shape: reduce the fact to distinct (day, user) pairs
    first (one shuffle, map-side combine), then *explode each pair into the
    ≤7 future days it contributes to* — a bounded 7× fan-out of the small
    distinct table, never of the raw fact — and count distinct users per
    target day. The naive alternative (self-join days × 7-day ranges of
    raw events, or collect_set over a window) shuffles the fact per window
    width. Output keeps only observed days, so partial leading windows are
    real observations, not spine artifacts.
    """
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contributions = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
        "user_id",
    )
    wau = (
        contributions.join(days, "day")  # only observed days; broadcast-sized
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            _trunc6(F.col("dau") / F.col("wau")).alias("stickiness"),
        )
    )


def rolling_active_users_oracle() -> str:
    return """
        WITH du AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
          FROM events
        ),
        days AS (SELECT DISTINCT day FROM du),
        dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day),
        wau AS (
          SELECT d.day, COUNT(DISTINCT du.user_id) AS wau
          FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
          GROUP BY d.day
        )
        SELECT day,
               CAST(dau AS BIGINT) AS dau,
               CAST(wau AS BIGINT) AS wau,
               FLOOR(dau * 1.0 / wau * 1e6) / 1e6 AS stickiness
        FROM dau JOIN wau USING (day)
        ORDER BY day
    """
