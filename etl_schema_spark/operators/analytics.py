"""OLAP analytics shapes the reference's statistics/website rollups imply:
hierarchy rollups (ROLLUP/GROUPING), pivoting, exact-decimal correlation,
funnel analysis, time-weighted averages, and cohort set-difference (churn).

views/statistics/* aggregates metrics across geography hierarchies
(continent → country → city) and views/website/* compares cohorts across
systems; these operators are those capabilities in engine-generic form on
the testdata star/event tables.

Determinism: every floating aggregate is decomposed into exact DECIMAL /
BIGINT sums combined once per group in double (a parallel double reduction
is order-dependent; the decimal decomposition is not). Pearson correlation
is computed from the five co-moment sums, never a streaming corr() whose
merge order varies run to run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .contracts import (
    FINITE_VALUE_SQL,
    PLAUSIBLE_TS_SQL,
    VDEC4_SQL,
    VDEC_SQL as _VDEC_SQL,
    finite_value,
    plausible_ts,
    vdec as _vdec,
    vdec4,
)

DEC = "decimal(18,4)"


def _trunc6(c: Column) -> Column:
    return F.floor(c * 1e6) / 1e6


# _vdec / _VDEC_SQL are the central guarded lifts from .contracts: the
# truncate-to-6dp DECIMAL(18,6) exact-sum decomposition, with non-finite
# and |v| >= 1e12 values degrading to NULL on BOTH engines (fuzz wave 5:
# one corrupt telemetry row must not kill or silently corrupt the plan).


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup: revenue by ROLLUP(region, nation) with GROUPING
    level flags — the statistics-view continent→country→city rollup shape
    (views/statistics/v0_cities.sql aggregates the same way per level).

    One shuffle; Catalyst expands the rollup into a single Expand +
    aggregate, so the fact is read once for all three levels.

    Empty-input contract (fuzz wave 10): rollup levels are computed over
    OBSERVED rows — an empty partition yields an empty rollup. Spark's
    ``.rollup()`` natively emits zero rows on zero input, while ANSI
    ``GROUP BY ROLLUP`` emits the ``()`` grand-total grouping set even
    over an empty relation; the oracle's ``HAVING COUNT(*) > 0`` pins the
    observed-rows semantics (a no-op on any non-empty input, since every
    grouping-set row aggregates at least one source row).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region")
    revenue = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(28,8)")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.sum(revenue).alias("_rev"),
            (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("int").alias("lvl"),
        )
        .select(
            "r_name",
            "n_name",
            "lvl",
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
        )
        .orderBy("lvl", "r_name", "n_name")
    )


def rollup_revenue_oracle() -> str:
    return """
        SELECT r_name, n_name,
               GROUPING(r_name) * 2 + GROUPING(n_name) AS lvl,
               ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        HAVING COUNT(*) > 0
        ORDER BY lvl, r_name, n_name
    """


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (long → wide), the website-view
    cross-system comparison shape (entry07_platform_* UNIONs systems side
    by side; a pivot is the same comparison as columns).

    The pivot value list is explicit — with it, Spark skips the extra
    distinct-values job and plans one partial-aggregated shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )
    return out.select(
        "user_id", *[F.col(t).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES]
    ).orderBy("user_id")


def pivot_event_counts_oracle() -> str:
    conds = ",\n               ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
        SELECT user_id,
               {conds}
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """


def corr_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of event value vs hour-of-day, per event type —
    computed from the five exact co-moment sums (n, Σx, Σy, Σxy, Σx², Σy²)
    so the result is order-independent (corr()'s streaming merge is not).

    One partial-aggregated shuffle; the closed form combines scalars once
    per group in double.
    """
    # Pairwise domain (fuzz waves 5+6): a corrupt value must remove the
    # (x, y) PAIR from the regression, not just blank one sum — n and
    # every co-moment come from the same filtered population.
    ev = load_table(spark, sf_dir, "events").filter(finite_value("value"))
    x = _vdec()
    y = F.hour("ts").cast("long")
    base = (
        ev.select(F.col("event_type"), x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    # try_divide: a single-row group has zero variance. Spark's ANSI
    # divide-by-zero error covers integral/decimal only — double x/0
    # yields Inf/NaN — so the guard here is Inf/NaN-vs-NULL PARITY:
    # try_divide degrades to NULL, bit-matching DuckDB's x/0 -> NULL
    # for doubles (wave-6; rationale corrected per ADVICE r7)
    corr = F.try_divide(
        n * sxy - sx * sy, F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    )
    return base.select(
        "event_type", "n", _trunc6(corr).alias("corr_value_hour")
    ).orderBy("event_type")


def corr_value_hour_oracle() -> str:
    return f"""
        WITH moments AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 SUM({_VDEC_SQL}) AS sx,
                 SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sy,
                 SUM({_VDEC_SQL} * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sxy,
                 SUM({_VDEC_SQL} * {_VDEC_SQL}) AS sxx,
                 SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT) * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS syy
          FROM events
          WHERE {FINITE_VALUE_SQL}
          GROUP BY event_type
        )
        SELECT event_type, n,
               FLOOR(
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e6) / 1e6 AS corr_value_hour
        FROM moments
        ORDER BY event_type
    """


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → first click strictly after it → first purchase
    strictly after that, per user; one summary row of stage survivors.

    Decorrelated stepwise mins: each stage is a grouped MIN re-joined to the
    next stage's candidate events — never a per-user subquery. The chain is
    three shuffles on user_id (AQE coalesces the tiny tails); the final
    LEFT-join chain + single agg avoids any 1-row cross join.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t_click = (
        ev.filter(F.col("event_type") == "click")
        .join(t_view, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t_click, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t_view.join(t_click, "user_id", "left_outer")
        .join(t_purchase, "user_id", "left_outer")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_click_after_view"),
            F.count("t_purchase").alias("n_purchase_after_click"),
        )
    )


def funnel_conversion_oracle() -> str:
    return """
        WITH t_view AS (
          SELECT user_id, MIN(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        t_click AS (
          SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN t_view v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        t_purchase AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN t_click c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT COUNT(v.t_view) AS n_view,
               COUNT(c.t_click) AS n_click_after_view,
               COUNT(p.t_purchase) AS n_purchase_after_click
        FROM t_view v
        LEFT OUTER JOIN t_click c ON v.user_id = c.user_id
        LEFT OUTER JOIN t_purchase p ON v.user_id = p.user_id
    """


def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean value: each event's value holds until the
    next event (step interpolation), weighted by the hold duration — the
    telemetry-correct average when samples are irregular (a switch-counter
    utilization shape; cf. views/utilization/switch.sql gauge semantics).

    One window (shuffle on user_id) + one grouped agg over exact
    decimal×seconds products.

    Replay determinism (r11, the running_totals/ewma class found by a
    proactive sweep of (ts, event_id)-ordered windows): under a
    CONFLICTING event_id replay the two copies tie on both primary sort
    keys with different values, and WHICH copy picks up the nonzero
    hold interval to the next event was order-dependent. The window
    order extends to the remaining row (ASC NULLS LAST, both engines),
    so a violated PK-unique precondition degrades to a deterministic
    answer; inert on a PK-unique scan.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        "ts",
        "event_id",
        F.asc_nulls_last("event_type"),
        F.asc_nulls_last("value"),
        F.asc_nulls_last("props"),
    )
    gap = F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")
    stepped = ev.select(
        "user_id", _vdec().alias("v"), gap.alias("gap")
    ).filter(F.col("gap").isNotNull())
    return (
        stepped.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("gap")).alias("_wsum"),
            F.sum("gap").alias("hold_seconds"),
        )
        .filter(F.col("hold_seconds") > 0)
        .select(
            "user_id",
            "hold_seconds",
            _trunc6(F.col("_wsum").cast("double") / F.col("hold_seconds")).alias(
                "tw_value"
            ),
        )
        .orderBy("user_id")
    )


def time_weighted_value_oracle() -> str:
    return f"""
        WITH stepped AS (
          SELECT user_id,
                 {_VDEC_SQL} AS v,
                 LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id,
                       event_type ASC NULLS LAST, value ASC NULLS LAST,
                       props ASC NULLS LAST)
                   - CAST(FLOOR(epoch(ts)) AS BIGINT) AS gap
          FROM events
        )
        SELECT user_id,
               CAST(SUM(gap) AS BIGINT) AS hold_seconds,
               FLOOR(CAST(SUM(v * gap) AS DOUBLE) / SUM(gap) * 1e6) / 1e6 AS tw_value
        FROM stepped
        WHERE gap IS NOT NULL
        GROUP BY user_id
        HAVING SUM(gap) > 0
        ORDER BY user_id
    """


def churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort set difference: users active in the first week of the window
    with no activity on its final day (EXCEPT → left-anti join), with their
    week-1 engagement. The website views run the same comparison across
    platform generations (entry07_*_comparison unions).
    """
    # NULL-key contract (fuzz wave 6): a NULL user_id is outside the
    # keyed cohort domain on both sides. Spark's left-anti keeps a
    # NULL-key probe row (NULL != anything) and groupBy makes it a
    # cohort, while SQL's NOT IN evaluates NULL to UNKNOWN and drops it
    # — exclude explicitly so both engines agree.
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    week1 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    )
    lastday = (
        ev.filter(F.col("ts") >= F.lit("2024-01-30").cast("timestamp"))
        .select("user_id")
        .distinct()
    )
    return (
        week1.join(lastday, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_week1"),
            F.sum(_vdec()).cast("double").alias("value_week1"),
        )
        .orderBy("user_id")
    )


def churned_users_oracle() -> str:
    return f"""
        SELECT user_id,
               COUNT(*) AS n_events_week1,
               CAST(SUM({_VDEC_SQL}) AS DOUBLE) AS value_week1
        FROM events
        WHERE user_id IS NOT NULL
          AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
          AND user_id NOT IN (
            SELECT user_id FROM events
            WHERE user_id IS NOT NULL AND ts >= TIMESTAMP '2024-01-30')
        GROUP BY user_id
        ORDER BY user_id
    """


def multigrain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics view *family* as one query: every geographic grain
    with and without a segmentation dimension, via GROUPING SETS.

    The reference materializes 13 statistics views from one template —
    continents/countries/regions/cities each as a plain geo rollup AND an
    `_asn`-segmented variant plus a global `_asn` view
    (views/statistics/v0_continents.sql vs v0_continents_asn.sql vs
    v0_global_asn.sql, fanned out by create_dataset_views.sh). That is a
    grain *cross*: {global, region, nation} × {all, per-segment}. One
    GROUPING SETS pass computes all six members over a single read of the
    fact — Catalyst expands to Expand + one hash aggregate — instead of
    six view scans. Order priority stands in for the ASN segment.

    Revenue is an exact DECIMAL sum cast to double once per group, so the
    result is order-independent and bit-portable (see module docstring).

    Empty-input contract (fuzz wave 10): grouping-set members are computed
    over OBSERVED rows — an empty fact yields an empty cross, matching
    Spark's native ``groupingSets`` behavior; the oracle's
    ``HAVING COUNT(*) > 0`` drops only ANSI's phantom ``()`` row over an
    empty relation (see rollup_revenue).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    gsets = [
        [],
        ["r_name"],
        ["r_name", "n_name"],
        ["o_orderpriority"],
        ["r_name", "o_orderpriority"],
        ["r_name", "n_name", "o_orderpriority"],
    ]
    return (
        joined.groupingSets(gsets, "r_name", "n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("_rev"),
            (
                F.grouping("r_name") * 4
                + F.grouping("n_name") * 2
                + F.grouping("o_orderpriority")
            )
            .cast("bigint")
            .alias("gid"),
        )
        .select(
            "r_name",
            "n_name",
            "o_orderpriority",
            "gid",
            F.col("_n").cast("bigint").alias("n_orders"),
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
            _trunc6(F.col("_rev").cast("double") / F.col("_n")).alias("avg_order"),
        )
    )


def multigrain_stats_oracle() -> str:
    return """
        SELECT r_name, n_name, o_orderpriority,
               CAST(GROUPING(r_name) * 4 + GROUPING(n_name) * 2
                    + GROUPING(o_orderpriority) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
                 AS revenue,
               FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) * 1e6) / 1e6 AS avg_order
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS (
          (), (r_name), (r_name, n_name), (o_orderpriority),
          (r_name, o_orderpriority), (r_name, n_name, o_orderpriority)
        )
        HAVING COUNT(*) > 0
        ORDER BY gid, r_name, n_name, o_orderpriority
    """


def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with forward fill (LOCF) per event type —
    the hypertable resampling contract (`time_bucket_gapfill` + `locf`):
    every hour in the observed range exists in the output, empty hours
    carry the last observed hourly mean, and `is_gap` marks them.

    The time spine is |types| × hours — metadata-sized next to the events
    fact, built from a broadcast 1-row min/max. The fill is one window per
    type ordered by hour (state = one value). Hourly means use the exact
    DECIMAL decomposition (module docstring), so the filled values are
    bit-portable. At 100 TB you gap-fill per device/series — swap the
    partition key; the shape is identical.
    """
    # Output contract (contracts.py, fuzz wave 5): values outside the
    # measurable domain degrade to NULL via the guarded _vdec (SUM skips,
    # COUNT(*) keeps the row — n_events still counts the arrival); rows
    # outside [TS_ADMIT_LO, TS_ADMIT_HI) are EXCLUDED entirely — the
    # spine is |types| x (max-min) hours, so one corrupt year-2150 row
    # would inflate it by ~1.1M hours per type at ANY data scale. The
    # window bounds are the named module constants in contracts.py, not
    # magic literals (ADVICE r6).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(plausible_ts("ts"))
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
        )
    )
    hourly = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_vdec("value")).cast("double") / F.count(F.lit(1))).alias("vmean"),
    )
    bounds = ev.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            _trunc6(F.last("vmean", ignorenulls=True).over(w)).alias("value_locf"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


def gapfill_locf_oracle() -> str:
    return f"""
        WITH ev AS (
          SELECT event_type, ts, value
          FROM events
          WHERE {PLAUSIBLE_TS_SQL}
        ),
        hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 COUNT(*) AS n,
                 CAST(SUM({_VDEC_SQL}) AS DOUBLE) / COUNT(*) AS vmean
          FROM ev GROUP BY event_type, date_trunc('hour', ts)
        ),
        b AS (
          SELECT MIN(date_trunc('hour', ts)) AS lo,
                 MAX(date_trunc('hour', ts)) AS hi
          FROM ev
        ),
        types AS (SELECT DISTINCT event_type FROM ev),
        spine AS (
          SELECT event_type,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM types, b
        )
        SELECT s.event_type, s.hour,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
               FLOOR(last_value(h.vmean IGNORE NULLS) OVER (
                 PARTITION BY s.event_type ORDER BY s.hour
                 ROWS UNBOUNDED PRECEDING) * 1e6) / 1e6 AS value_locf,
               (h.n IS NULL) AS is_gap
        FROM spine s
        LEFT JOIN hourly h ON h.event_type = s.event_type AND h.hour = s.hour
        ORDER BY s.event_type, s.hour
    """


def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection: events whose value sits more
    than 3 population standard deviations from their type's mean — the
    standard numeric-cleaning pass before rollups or model features.

    Moments come from exact integer sums (floor(value*1e6) and its square,
    summed as DECIMAL(38,0)), so mean/variance are bit-identical however
    the shuffle orders the rows; the per-row z then uses only IEEE ops
    (divide, sqrt are correctly rounded — engine-portable). One
    partial-aggregated groupBy over 5 groups, broadcast back onto the
    scan: two passes over the fact, zero wide shuffles.
    """
    # Finite domain filter (fuzz wave 5): moments and the z population
    # come from the same clean row set — a corrupt value can neither
    # shift the mean nor appear as an "outlier" itself.
    #
    # Second moment (ADVICE r7): a direct SUM(v6²) DECIMAL(38,0) has only
    # ~100-row headroom at the 1e12 domain bound (each square reaches
    # 1e36), so a cluster of in-domain unit-bug rows could still overflow
    # under ANSI — counter to the degrade-don't-crash contract. Split
    # |v6| = a*1e6 + b (a <= 1e12, b < 1e6, both nonnegative so integer
    # div/mod agree across engines) and sum a², ab, b² separately:
    # each term is <= 1e24 per row, giving ~1e14-row headroom per type,
    # and sum(v6²) = Sa2*1e12 + 2*Sab*1e6 + Sb2 recombines exactly in
    # double with a fixed expression order — still bit-portable.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(finite_value("value"))
        .select(
            "event_id", "event_type", "value", F.floor(F.col("value") * 1e6).alias("v6")
        )
    )
    v6d = F.col("v6").cast("decimal(18,0)")
    a = F.expr("abs(v6) div 1000000").cast("decimal(18,0)")
    b = F.expr("abs(v6) % 1000000").cast("decimal(18,0)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v6d).alias("s1"),
        F.sum(a * a).alias("sa2"),
        F.sum(a * b).alias("sab"),
        F.sum(b * b).alias("sb2"),
    )
    mean6 = F.col("s1").cast("double") / F.col("n")
    s2 = (
        F.col("sa2").cast("double") * 1e12
        + F.col("sab").cast("double") * 2e6
        + F.col("sb2").cast("double")
    )
    var6 = s2 / F.col("n") - mean6 * mean6
    # var == 0 (constant group) would divide by zero — ANSI crash on
    # Spark, NULL on DuckDB; a tiny negative var from double rounding
    # would sqrt to NaN, which the engines floor differently. Guard the
    # divisor two-sided: non-positive variance → z undefined → filtered.
    z = F.try_divide(F.col("v6") - mean6, F.when(var6 > 0, F.sqrt(var6)))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs("z") > 3.0)
        .select(
            "event_id",
            "event_type",
            "value",
            (F.floor(F.col("z") * 1e4) / 1e4).alias("zscore"),
        )
    )


def zscore_outliers_oracle() -> str:
    return f"""
        WITH base AS (
          SELECT event_id, event_type, value,
                 CAST(FLOOR(value * 1e6) AS BIGINT) AS v6
          FROM events
          WHERE {FINITE_VALUE_SQL}
        ),
        split AS (
          SELECT *,
                 CAST(abs(v6) // 1000000 AS DECIMAL(18,0)) AS ah,
                 CAST(abs(v6) % 1000000 AS DECIMAL(18,0)) AS bl
          FROM base
        ),
        stats AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 SUM(CAST(v6 AS DECIMAL(18,0))) AS s1,
                 SUM(ah * ah) AS sa2,
                 SUM(ah * bl) AS sab,
                 SUM(bl * bl) AS sb2
          FROM split GROUP BY event_type
        ),
        moments AS (
          SELECT event_type, n, s1,
                 CAST(sa2 AS DOUBLE) * 1e12 + CAST(sab AS DOUBLE) * 2e6
                   + CAST(sb2 AS DOUBLE) AS s2
          FROM stats
        ),
        z AS (
          SELECT b.event_id, b.event_type, b.value,
                 CASE WHEN s2 / n
                           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
                      THEN (b.v6 - CAST(s1 AS DOUBLE) / n)
                           / sqrt(s2 / n
                                  - (CAST(s1 AS DOUBLE) / n)
                                    * (CAST(s1 AS DOUBLE) / n))
                 END AS zr
          FROM base b JOIN moments USING (event_type)
        )
        SELECT event_id, event_type, value,
               FLOOR(zr * 1e4) / 1e4 AS zscore
        FROM z
        WHERE ABS(zr) > 3.0
        ORDER BY event_id
    """


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-seen week,
    tracked over weeks-since-signup, with the retained fraction — the
    product-analytics triangle every events store gets asked for.

    Two shuffles total: first-seen week per user (min over one groupBy),
    then distinct (cohort, weeks_since, user) counts. The cohort dimension
    re-joins as a broadcast (|weeks| rows). Week arithmetic is integer
    datediff/7 — no float until the final truncated ratio; date_trunc
    'week' is Monday-start in Spark and DuckDB alike.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    )
    first_week = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        ev.join(first_week, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("weeks_since"),
        )
        .distinct()
    )
    cohort_size = first_week.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_users")
    )
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("cohort_users").cast("bigint").alias("cohort_users"),
            (F.floor(F.col("active_users") / F.col("cohort_users") * 1e6) / 1e6).alias(
                "retention"
            ),
        )
    )


def retention_cohorts_oracle() -> str:
    return """
        WITH ev AS (
          SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events
        ),
        fw AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
        act AS (
          SELECT DISTINCT ev.user_id, fw.cohort_week,
                 CAST((ev.week - fw.cohort_week) // 7 AS INT) AS weeks_since
          FROM ev JOIN fw USING (user_id)
        ),
        cs AS (
          SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_users
          FROM fw GROUP BY cohort_week
        )
        SELECT a.cohort_week, a.weeks_since,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
               CAST(cs.cohort_users AS BIGINT) AS cohort_users,
               FLOOR(COUNT(DISTINCT a.user_id) * 1.0 / cs.cohort_users * 1e6) / 1e6
                 AS retention
        FROM act a JOIN cs USING (cohort_week)
        GROUP BY a.cohort_week, a.weeks_since, cs.cohort_users
        ORDER BY a.cohort_week, a.weeks_since
    """


def linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of value over time: slope (value/day), intercept,
    and R² — the regression member of the exact-moment family
    (`corr_value_hour` proves the portability argument; this reuses it).

    x = epoch-day (exact integer), y = value through the DECIMAL
    decomposition; the five co-moment sums are exact and order-independent,
    and the closed-form combine is a handful of IEEE ops per group. One
    partial-aggregated shuffle over |types| groups — trend detection at
    100 TB costs one scan.
    """
    # Pairwise domain (fuzz waves 5+6): corrupt values remove the whole
    # (x, y) pair — same discipline as corr_value_hour.
    ev = load_table(spark, sf_dir, "events").filter(finite_value("value"))
    base = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).alias("x"),
            _vdec().alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("x")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    # try_divide: a group whose events share one day has sxx*n == sx²
    # (zero x-variance). Double x/0 is NOT an ANSI error in Spark (that
    # applies to integral/decimal); it yields Inf/NaN where DuckDB's
    # x/0 yields NULL (wave-6 class 1); slope NULL propagates to
    # intercept on both engines.
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2num = (n * sxy - sx * sy) * (n * sxy - sx * sy)
    r2den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return base.select(
        "event_type",
        "n",
        _trunc6(slope).alias("slope_per_day"),
        _trunc6(intercept).alias("intercept"),
        _trunc6(F.try_divide(r2num, r2den)).alias("r2"),
    )


def linear_trend_oracle() -> str:
    return f"""
        WITH moments AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 SUM(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS sx,
                 SUM({_VDEC_SQL}) AS sy,
                 SUM({_VDEC_SQL} * (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400)) AS sxy,
                 SUM((CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400)
                     * (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400)) AS sxx,
                 SUM({_VDEC_SQL} * {_VDEC_SQL}) AS syy
          FROM events
          WHERE {FINITE_VALUE_SQL}
          GROUP BY event_type
        )
        SELECT event_type, n,
               FLOOR((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * 1e6) / 1e6 AS slope_per_day,
               FLOOR((CAST(sy AS DOUBLE)
                      - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / n * 1e6) / 1e6 AS intercept,
               FLOOR((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     * 1e6) / 1e6 AS r2
        FROM moments ORDER BY event_type
    """


def seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline and per-day deviation: each
    (event_type, hour-of-day) gets a corpus-wide mean value (the seasonal
    profile); each (event_type, date) then reports its actual value sum
    against the seasonally-expected sum (Σ baseline_mean × hourly count)
    — the "is today's traffic shaped like a normal day" monitor the
    reference's hourly website views feed
    (views/website/entry07_platform_hourly_*.sql; this adds the
    seasonal-expectation layer on top of the plain hourly rollup).

    Determinism: value sums go through DECIMAL(18,4); the baseline mean is
    truncated to 6 dp and re-cast to DECIMAL(18,6) so the expected sum
    (mean × count, summed) is EXACT integer-scaled arithmetic in both
    engines — no float reduction anywhere until the final display columns.

    Scale: one fact scan partial-aggregated to (type, date, hod) — the
    only full shuffle; the baseline is |types|×24 rows (broadcast); the
    daily re-aggregate runs over the already-hourly table. Nothing touches
    raw rows twice.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("date"),
            F.hour("ts").alias("hod"),
            # guarded lift (fuzz wave 5): corrupt values leave the sum,
            # COUNT(*) keeps the row — mirrored in the oracle
            vdec4("value").alias("v"),
        )
        .groupBy("event_type", "date", "hod")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    # hourly feeds the baseline AND the daily re-aggregate — pinned via
    # swap_pin (VERDICT r12 item 4 bare-persist sweep: releasable, one
    # steady-state frame per site instead of one per invocation)
    from .cachereg import swap_pin

    hourly = swap_pin("analytics.seasonal.hourly", hourly)
    base = (
        hourly.groupBy("event_type", "hod")
        .agg(F.sum("n").alias("n_base"), F.sum("s").alias("s_base"))
        .select(
            "event_type",
            "hod",
            _trunc6(F.col("s_base").cast("double") / F.col("n_base"))
            .cast("decimal(18,6)")
            .alias("baseline_mean"),
        )
    )
    daily = (
        hourly.join(F.broadcast(base), ["event_type", "hod"])
        .groupBy("event_type", "date")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("actual"),
            F.sum(F.col("baseline_mean") * F.col("n")).alias("expected"),
        )
    )
    t4 = lambda c: F.floor(c * 1e4) / 1e4  # noqa: E731
    return daily.select(
        "event_type",
        "date",
        F.col("n_events").cast("bigint").alias("n_events"),
        t4(F.col("actual").cast("double")).alias("actual_sum"),
        t4(F.col("expected").cast("double")).alias("expected_sum"),
        _trunc6(
            F.try_divide(
                F.col("actual").cast("double"), F.col("expected").cast("double")
            )
        ).alias("seasonal_ratio"),
    )


def seasonal_baseline_oracle() -> str:
    return f"""
        WITH hourly AS (
          SELECT event_type,
                 CAST(ts AS DATE) AS d,
                 EXTRACT(hour FROM ts) AS hod,
                 COUNT(*) AS n,
                 SUM({VDEC4_SQL}) AS s
          FROM events
          GROUP BY 1, 2, 3
        ), base AS (
          SELECT event_type, hod,
                 CAST(FLOOR(CAST(SUM(s) AS DOUBLE) / SUM(n) * 1e6) / 1e6
                      AS DECIMAL(18,6)) AS baseline_mean
          FROM hourly GROUP BY 1, 2
        )
        SELECT h.event_type,
               h.d AS date,
               CAST(SUM(h.n) AS BIGINT) AS n_events,
               FLOOR(CAST(SUM(h.s) AS DOUBLE) * 1e4) / 1e4 AS actual_sum,
               FLOOR(CAST(SUM(b.baseline_mean * h.n) AS DOUBLE) * 1e4) / 1e4
                 AS expected_sum,
               FLOOR(CAST(SUM(h.s) AS DOUBLE)
                     / CAST(SUM(b.baseline_mean * h.n) AS DOUBLE) * 1e6) / 1e6
                 AS seasonal_ratio
        FROM hourly h
        JOIN base b ON b.event_type = h.event_type AND b.hod = h.hod
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def user_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for every (from_type, to_type) pair, the transition count and the
    row-normalized probability — the behavioral model behind journey
    analysis and next-event prediction features.

    Plan: one lead() window per user (high-cardinality partition — embar-
    rassingly parallel, nothing like a low-cardinality reducer), then a
    partial-aggregated count over |types|^2 pairs and a metadata-sized
    normalization window over the aggregate.

    Event-time admission (fuzz wave 13): a NULL ts shifts every lead()
    pairing (Spark ASC sorts NULLs first, DuckDB last), so the sequence
    domain is contracts.plausible_ts on both sides.
    """
    ev = load_table(spark, sf_dir, "events").filter(plausible_ts("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = (
        pairs.groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        _trunc6(F.col("n") / F.sum("n").over(w_row)).alias("prob"),
    )


def user_transition_matrix_oracle() -> str:
    return f"""
        WITH seq AS (
          SELECT event_type AS from_type,
                 LEAD(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS to_type
          FROM events
          WHERE {PLAUSIBLE_TS_SQL}
        ),
        counts AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               FLOOR(n * 1.0 / (SUM(n) OVER (PARTITION BY from_type)) * 1e6)
                 / 1e6 AS prob
        FROM counts ORDER BY from_type, to_type
    """


MAD_SIGMA = 3.0


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event_type: lower-median of `value`,
    median absolute deviation (MAD), and how many events sit beyond
    MAD_SIGMA * MAD — the robust twin of `zscore_outliers` (mean/stddev
    break under the heavy tails this flags; median/MAD do not).

    Medians are EXACT ORDER STATISTICS (the lower median, element at rank
    (n+1) div 2), never interpolated — rank selection is integer-exact and
    engine-portable where interpolation arithmetic is not.

    Scale shape: event_type is a hot key, so ranks come from the
    distributed two-phase pattern (``distributed.grouped_running_sum`` of
    1s over order-key chunks = per-group global rank with bounded task
    state) — never `row_number() OVER (PARTITION BY event_type)`, which
    sorts a whole type in one task. Two rank passes (value, then
    |value - median|), each joined back via broadcast of the
    |event_type|-sized median tables.
    """
    from .distributed import grouped_rank_pick

    # Measurable-domain filter, same contract as its sibling
    # tail_latency_percentiles (contracts.finite_value, ADVICE r6):
    # NULLs are excluded because Spark's rank struct sorts NULL first
    # while DuckDB's ROW_NUMBER puts it last (a single NULL shifted the
    # median rank by one between engines, fuzz r6); NaN/Inf/|v| >= 1e12
    # because a NaN reaching the median rank floors to NULL on Spark but
    # stays NaN on DuckDB; `n` counts measurable values only.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(finite_value("value"))
    )
    # r13 (guide §2.3): each pass SELECTS one order statistic, so the full
    # per-row rank (sort every chunk + offsets join onto every row) is
    # replaced by grouped_rank_pick — per-chunk counts locate the median's
    # chunk, only that chunk sorts. The pass's input (p1.rows / p2.rows)
    # feeds the next stage, and the `counts` table comes from the pass's
    # own chunk counts instead of a separate count query.
    # single_target=True (r14): one median rank per type, so the
    # per-chunk target-array aggregate buys nothing and measurably cost
    # ~0.2-0.4 s per pass here (see grouped_rank_pick).
    median_target = F.expr("array((n + 1) div 2)")
    p1 = grouped_rank_pick(
        ev, "event_type", F.struct("value", "event_id"), median_target,
        single_target=True,
    )
    med = p1.picked.select("event_type", F.col("value").alias("median"))
    d = p1.rows.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("median"))
    )
    p2 = grouped_rank_pick(
        d, "event_type", F.struct("dev", "event_id"), median_target,
        single_target=True,
    )
    mad = p2.picked.select("event_type", F.col("dev").alias("mad"))
    flagged = p2.rows.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.first("median").alias("med_raw"),
            F.first("mad").alias("mad_raw"),
            F.sum(
                F.when(F.col("dev") > MAD_SIGMA * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            (F.floor(F.col("med_raw") * 1e6) / 1e6).alias("median"),
            (F.floor(F.col("mad_raw") * 1e6) / 1e6).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


def mad_outliers_oracle() -> str:
    return f"""
        WITH ev AS (
          SELECT event_type, event_id, value FROM events
          WHERE {FINITE_VALUE_SQL}
        ),
        counts AS (
          SELECT event_type, COUNT(*) AS n, (COUNT(*) + 1) // 2 AS target
          FROM ev GROUP BY event_type
        ),
        r1 AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rk
          FROM ev
        ),
        med AS (
          SELECT r1.event_type, r1.value AS median
          FROM r1 JOIN counts USING (event_type) WHERE rk = target
        ),
        d AS (
          SELECT ev.event_type, ev.event_id, ev.value, med.median,
                 ABS(ev.value - med.median) AS dev
          FROM ev JOIN med USING (event_type)
        ),
        r2 AS (
          SELECT event_type, dev,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY dev, event_id
                 ) AS rk2
          FROM d
        ),
        mad AS (
          SELECT r2.event_type, r2.dev AS mad
          FROM r2 JOIN counts USING (event_type) WHERE rk2 = target
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(ANY_VALUE(d.median) * 1e6) / 1e6 AS median,
               FLOOR(ANY_VALUE(mad.mad) * 1e6) / 1e6 AS mad,
               CAST(SUM(CASE WHEN d.dev > {MAD_SIGMA} * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM d JOIN mad ON mad.event_type = d.event_type
        GROUP BY d.event_type
        ORDER BY d.event_type
    """


TAIL_PCTS = (50, 95, 99)


def tail_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of `value` per event_type as ORDER STATISTICS
    (the value at rank ceil(p/100 * n) — the "nearest-rank" percentile
    definition, integer-exact and engine-portable where interpolated
    percentiles are not).

    Scale shape: one two-phase distributed rank pass
    (``distributed.grouped_running_sum`` of 1s over chunks of
    (event_type, value)) serves ALL percentiles at once — the rank table
    is computed once and filtered against the |types| x |percentiles|
    broadcast target list. Never `percentile() OVER (PARTITION BY
    event_type)` or a per-type sort in one task.
    """
    from .distributed import grouped_rank_pick

    # NULL values excluded from the rank domain on both sides — same
    # engine null-ordering asymmetry as mad_outliers (fuzz_edge_docs r6).
    # Non-finite and decimal-range-exceeding values too (fuzz wave 5):
    # Spark's floor(v*1e6) is a LongType that SILENTLY saturates at
    # Long.MAX (for inf and for finite |v| >= ~9.2e12) where DuckDB
    # keeps the double, and one corrupt telemetry row must not shift
    # every percentile rank — same "degrade to NULL, NULL leaves the
    # measurable domain" contract as similarity.finite_vectors. The
    # 1e12 bound is the DECIMAL(18,6) domain the module's exact-sum
    # decomposition already assumes.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & (F.abs(F.col("value")) < F.lit(1e12))
        )
    )
    # r13 (guide §2.3): three order statistics per type — rank-selection
    # pushdown (grouped_rank_pick) sorts only the chunks holding a target
    # instead of ranking every row, and the per-type counts come from the
    # split's chunk table instead of a second events scan. Two pcts can
    # resolve to the SAME rank on a small type: picked carries the rank
    # once, and the broadcast pct-metadata join fans it back out exactly
    # as the old rk == target filter did. CEIL arithmetic is unchanged
    # (double, same expression both engines).
    pct_arr = ",".join(
        f"cast(ceil({p} / 100.0 * n) as bigint)" for p in TAIL_PCTS
    )
    p = grouped_rank_pick(
        ev, "event_type", F.struct("value", "event_id"), F.expr(f"array({pct_arr})")
    )
    targets = p.counts.select(
        F.col("event_type").alias("_ty"),
        "n",
        F.explode(F.array(*[F.lit(pc) for pc in TAIL_PCTS])).alias("pct"),
    ).withColumn("target", F.ceil(F.col("pct") / 100.0 * F.col("n")).cast("bigint"))
    return (
        p.picked.join(
            F.broadcast(targets),
            (F.col("rk") == F.col("target")) & (F.col("event_type") == F.col("_ty")),
        )
        .select(
            "event_type",
            F.col("pct").cast("bigint").alias("pct"),
            F.col("n").cast("bigint").alias("n"),
            (F.floor(F.col("value") * 1e6) / 1e6).alias("value_at_pct"),
        )
        .orderBy("event_type", "pct")
    )


def tail_latency_percentiles_oracle() -> str:
    pcts = ", ".join(str(p) for p in TAIL_PCTS)
    return f"""
        WITH ev AS (SELECT event_type, event_id, value FROM events
                    WHERE value IS NOT NULL AND isfinite(value)
                      AND abs(value) < 1e12),
        counts AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type),
        targets AS (
          SELECT event_type, n, unnest([{pcts}]) AS pct FROM counts
        ),
        t2 AS (
          SELECT event_type, n, pct,
                 CAST(CEIL(pct / 100.0 * n) AS BIGINT) AS target
          FROM targets
        ),
        ranked AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rk
          FROM ev
        )
        SELECT t2.event_type,
               CAST(t2.pct AS BIGINT) AS pct,
               CAST(t2.n AS BIGINT) AS n,
               FLOOR(ranked.value * 1e6) / 1e6 AS value_at_pct
        FROM t2 JOIN ranked
          ON ranked.event_type = t2.event_type AND ranked.rk = t2.target
        ORDER BY t2.event_type, t2.pct
    """


def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the corpus-skew summary
    a sampling/mixing decision reads (0 = every user contributes equally,
    ->1 = a few users dominate; the classic long-tail diagnostic for
    user-generated training data).

    Exact rank formula G = (2 * sum(i * x_i)) / (n * sum(x)) - (n + 1)/n
    over counts x sorted ascending — and the global rank i comes from the
    distributed two-phase pattern (constant-group grouped_running_sum),
    never a single-task `row_number() OVER ()`. All sums are exact
    integers until the final division.
    """
    from .distributed import grouped_running_sum

    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = grouped_running_sum(
        per_user.withColumn("_g", F.lit(1)),
        "_g",
        F.struct("x", "user_id"),
        F.lit(1),
        "i",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("total_events"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("weighted"),
    )
    gini = (
        2.0 * F.col("weighted") / (F.col("n_users") * F.col("total_events"))
        - (F.col("n_users") + 1) / F.col("n_users")
    )
    return agg.select(
        "n_users",
        "total_events",
        (F.floor(gini * 1e6) / 1e6).alias("gini"),
    )


def user_activity_gini_oracle() -> str:
    return """
        WITH per_user AS (
          SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
        ),
        ranked AS (
          SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM per_user
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT) AS total_events,
               FLOOR((2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
                      - (COUNT(*) + 1.0) / COUNT(*)) * 1e6) / 1e6 AS gini
        FROM ranked
    """


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split with cumulative reach: for each day,
    users whose first-ever event falls on that day (new) vs users active
    that day with an earlier first day (returning), plus the running
    distinct-user total (parity: the website views' adoption rollups,
    views/website/*, which chart first-seen vs repeat cohorts).

    Two shuffles on user_id (per-user first day, then the distinct
    (user, day) activity set joins it co-partitioned — same key, the
    exchange is reused), then one metadata-sized day aggregate. The
    cumulative total is a running sum over ~30 day rows — a driver-safe
    ordered window over an already-aggregated frame, never over raw rows.

    Event-time admission (fuzz wave 13): a NULL ts makes a NULL day
    bucket that the engines order differently (and a year-9999 row would
    be a nonsense cohort day), so the day domain is
    contracts.plausible_ts on both sides.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(plausible_ts("ts"))
        .select("user_id", F.to_date("ts").alias("day"))
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    active = ev.distinct()
    per_day = (
        active.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).cast("bigint").alias("n_new"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).cast("bigint").alias("n_returning"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
        .orderBy("day")
    )


def new_vs_returning_oracle() -> str:
    return f"""
        WITH first_day AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
          FROM events WHERE {PLAUSIBLE_TS_SQL} GROUP BY user_id
        ),
        active AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events WHERE {PLAUSIBLE_TS_SQL}
        ),
        per_day AS (
          SELECT a.day,
                 CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                 CAST(SUM(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
          FROM active a JOIN first_day f USING (user_id)
          GROUP BY a.day
        )
        SELECT day, n_new, n_returning,
               CAST(SUM(n_new) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        FROM per_day
        ORDER BY day
    """


FUNNEL_WINDOW_HOURS = 24


def windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (the windowFunnel shape): per user, the
    deepest view -> click -> purchase chain where every later step lands
    within FUNNEL_WINDOW_HOURS of the user's first view; output is the
    4-row level histogram (0 = active but never viewed). Unlike
    ``funnel_conversion`` (unbounded gaps, survivor counts), this bounds
    the whole chain to a conversion window — the funnel the reference's
    website views imply for campaign attribution.

    Same decorrelated stepwise-min chain as funnel_conversion: each stage
    is a grouped MIN co-shuffled on user_id (never a per-user subquery),
    the deadline rides the join, and the level histogram is a
    metadata-sized final aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    users = ev.select("user_id").distinct()
    t_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .withColumn(
            "deadline",
            F.timestamp_micros(
                F.unix_micros("t_view") + FUNNEL_WINDOW_HOURS * 3600 * 1000000
            ),
        )
    )
    t_click = (
        ev.filter(F.col("event_type") == "click")
        .join(t_view, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("deadline")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t_click, "user_id")
        .join(t_view.select("user_id", "deadline"), "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("deadline")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    levels = (
        users.join(t_view.select("user_id", "t_view"), "user_id", "left")
        .join(t_click, "user_id", "left")
        .join(t_purchase, "user_id", "left")
        .select(
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    return (
        levels.groupBy("level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("level")
    )


def windowed_funnel_oracle() -> str:
    us = FUNNEL_WINDOW_HOURS * 3600 * 1000000
    return f"""
        WITH t_view AS (
          SELECT user_id, MIN(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        dl AS (
          SELECT user_id, t_view,
                 epoch_us(t_view) + {us} AS deadline_us
          FROM t_view
        ),
        t_click AS (
          SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN dl USING (user_id)
          WHERE e.event_type = 'click'
            AND e.ts > dl.t_view AND epoch_us(e.ts) <= dl.deadline_us
          GROUP BY e.user_id
        ),
        t_purchase AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN t_click c USING (user_id) JOIN dl USING (user_id)
          WHERE e.event_type = 'purchase'
            AND e.ts > c.t_click AND epoch_us(e.ts) <= dl.deadline_us
          GROUP BY e.user_id
        ),
        levels AS (
          SELECT CASE WHEN p.t_purchase IS NOT NULL THEN 3
                      WHEN c.t_click IS NOT NULL THEN 2
                      WHEN v.t_view IS NOT NULL THEN 1
                      ELSE 0 END AS level
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN t_view v USING (user_id)
          LEFT JOIN t_click c USING (user_id)
          LEFT JOIN t_purchase p USING (user_id)
        )
        SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM levels GROUP BY level ORDER BY level
    """


def daily_modal_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distribution of each user's modal event type: for every
    (user, day) pick the most frequent event_type (ties -> lexicographically
    smallest), then count users per (day, modal_type) — the "dominant
    behavior" pivot the website views build per cohort.

    One shuffle on (user_id, day) for the counts; the modal pick is a
    row_number over that same partitioning (high-cardinality, parallel);
    the final (day, type) rollup is metadata-sized.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    cnt = ev.groupBy("user_id", "day", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id", "day").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    modal = cnt.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        modal.groupBy("day", F.col("event_type").alias("modal_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("day", "modal_type")
    )


def daily_modal_event_oracle() -> str:
    return """
        WITH cnt AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
          FROM events GROUP BY user_id, CAST(ts AS DATE), event_type
        ),
        modal AS (
          SELECT user_id, day, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id, day
                                    ORDER BY n DESC, event_type ASC) AS rn
          FROM cnt
        )
        SELECT day, event_type AS modal_type,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM modal WHERE rn = 1
        GROUP BY day, event_type
        ORDER BY day, modal_type
    """


def gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with LINEAR interpolation per event type —
    the hypertable `time_bucket_gapfill` + `interpolate` contract, the
    sibling of :func:`gapfill_locf` (which carries the last value flat).
    Empty hours take the line between the surrounding observed hourly
    means; hours before the first / after the last observation stay NULL
    (no extrapolation), `is_gap` marks fills.

    Same plan as gapfill_locf: metadata-sized spine (|types| x hours) from
    broadcast bounds, then two ignoreNulls windows per type (prev/next
    observed value+hour — state is one row each way). The interpolation
    weight uses exact integer hour arithmetic; the value math is the same
    IEEE double expression on both engines, trunc6 at the end.
    """
    # Same admission contracts as gapfill_locf (fuzz wave 5): corrupt
    # values degrade to NULL via the guarded _vdec, and rows outside the
    # plausible-ts window are EXCLUDED — the spine is |types| x hours, so
    # one year-2150 row would inflate it by ~1.1M hours per type.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(plausible_ts("ts"))
        .select("event_type", F.date_trunc("hour", "ts").alias("hour"), "value")
    )
    hourly = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_vdec("value")).cast("double") / F.count(F.lit(1))).alias("vmean"),
    )
    bounds = ev.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left").withColumn(
        "h_us", F.unix_micros("hour")
    )
    obs_h = F.when(F.col("vmean").isNotNull(), F.col("h_us"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("vmean", ignorenulls=True).over(wb)
    prev_h = F.last(obs_h, ignorenulls=True).over(wb)
    next_v = F.first("vmean", ignorenulls=True).over(wf)
    next_h = F.first(obs_h, ignorenulls=True).over(wf)
    interp = F.when(
        F.col("vmean").isNotNull(), F.col("vmean")
    ).otherwise(
        prev_v
        + (next_v - prev_v)
        * ((F.col("h_us") - prev_h) / (next_h - prev_h))
    )
    return joined.select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        _trunc6(interp).alias("value_interp"),
        F.col("n").isNull().alias("is_gap"),
    ).orderBy("event_type", "hour")


def gapfill_interp_oracle() -> str:
    return f"""
        WITH ev AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 {_VDEC_SQL} AS vdec
          FROM events
          WHERE {PLAUSIBLE_TS_SQL}
        ),
        hourly AS (
          SELECT event_type, hour, COUNT(*) AS n,
                 CAST(SUM(vdec) AS DOUBLE) / COUNT(*) AS vmean
          FROM ev GROUP BY event_type, hour
        ),
        bounds AS (
          SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM ev
        ),
        spine AS (
          SELECT t.event_type, s.hour
          FROM (SELECT DISTINCT event_type FROM ev) t,
               (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                FROM bounds) s
        ),
        joined AS (
          SELECT s.event_type, s.hour, h.n, h.vmean,
                 epoch_us(s.hour) AS h_us
          FROM spine s LEFT JOIN hourly h USING (event_type, hour)
        ),
        ctx AS (
          SELECT *,
                 LAST_VALUE(vmean IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
                 LAST_VALUE(CASE WHEN vmean IS NOT NULL THEN h_us END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
                 FIRST_VALUE(vmean IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
                 FIRST_VALUE(CASE WHEN vmean IS NOT NULL THEN h_us END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
          FROM joined
        )
        SELECT event_type, hour,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
               FLOOR((CASE WHEN vmean IS NOT NULL THEN vmean
                      ELSE prev_v + (next_v - prev_v)
                           * ((h_us - prev_h) / (next_h - prev_h))
                      END) * 1e6) / 1e6 AS value_interp,
               n IS NULL AS is_gap
        FROM ctx
        ORDER BY event_type, hour
    """


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of each user's event_type
    state: one row per RUN of consecutive equal types (per user, time
    order), with valid_from / valid_to (next change, NULL while current),
    a version number, and the run's event count — the CDC/warehouse
    primitive that turns an event stream into an as-of-queryable
    dimension (pairs with asof_attribution for point-in-time joins).

    One shuffle on user_id: a lag marks change points, a running sum of
    change flags numbers the versions (classic gaps-and-islands), a
    groupBy collapses runs, and a lead attaches each version's close
    time. Per-user windows — high cardinality, naturally parallel.

    Event-time admission (fuzz wave 13): a NULL ts shifts the run
    boundaries (Spark ASC sorts NULLs first, DuckDB last), so the
    dimension's time domain is contracts.plausible_ts on both sides.

    Replay determinism (r11, VERDICT r10 item 6): a CONFLICTING event_id
    replay at the same ts used to tie in the per-user time order, leaving
    run boundaries through the tie partition-layout-dependent
    (run-to-run flaky in the r10 --wave9 battery). The window order
    therefore extends to the FULL ROW in ascending NULLS-LAST order —
    the streaming_ingest_restore tie-break device, identical on both
    engines — so a violated PK-unique precondition degrades to a
    DETERMINISTIC history instead of a flaky one. On a PK-unique scan
    the extra keys are inert (they refine only (ts, event_type) ties,
    whose relative order cannot move a run boundary). Front door for the
    replay class itself: the exactly-once restore
    (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(plausible_ts("ts"))
        .select("user_id", "event_type", "ts", "event_id", "value", "props")
    )
    w = Window.partitionBy("user_id").orderBy(
        "ts",
        "event_type",
        F.asc_nulls_last("event_id"),
        F.asc_nulls_last("value"),
        F.asc_nulls_last("props"),
    )
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        1,
    ).otherwise(0)
    runs = ev.withColumn("chg", changed).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy("user_id", "version").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        hist.withColumn("valid_to", F.lead("valid_from").over(wv))
        .select(
            "user_id",
            F.col("version").cast("bigint").alias("version"),
            "event_type",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


def scd2_history_oracle() -> str:
    return f"""
        WITH ev AS (
          SELECT user_id, event_type, ts, event_id, value, props FROM events
          WHERE {PLAUSIBLE_TS_SQL}
        ),
        marked AS (
          SELECT *,
                 CASE WHEN LAG(event_type) OVER w IS NULL
                        OR event_type <> LAG(event_type) OVER w
                      THEN 1 ELSE 0 END AS chg
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type,
                       event_id ASC NULLS LAST, value ASC NULLS LAST,
                       props ASC NULLS LAST)
        ),
        runs AS (
          -- chg DESC: the two-pass tie-interleaving guard (r11, see
          -- sessionized_events_oracle) — EXACT replay copies tie on the
          -- whole row, so only the pass-1 flag itself can order them
          SELECT *,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type,
                     event_id ASC NULLS LAST, value ASC NULLS LAST,
                     props ASC NULLS LAST, chg DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
          FROM marked
        ),
        hist AS (
          SELECT user_id, version,
                 MIN(event_type) AS event_type,
                 MIN(ts) AS valid_from,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM runs GROUP BY user_id, version
        )
        SELECT user_id,
               CAST(version AS BIGINT) AS version,
               event_type, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                 AS valid_to,
               LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                 IS NULL AS is_current,
               n_events
        FROM hist
        ORDER BY user_id, version
    """


def rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM feature table — recency (days since the user's last
    event, measured at the corpus high-water mark), frequency (events),
    monetary (exact decimal value sum), tenure days, and mean
    inter-event gap — the standard churn/LTV feature block a downstream
    model trains on (the feature-engineering twin of churned_users'
    hard cutoff).

    One groupBy(user_id) computes every per-user aggregate; the 1-row
    corpus high-water mark broadcasts onto the result (allowlisted 1-row
    BNLJ, the domain_mix_weights pattern). Gaps use exact integer
    microseconds; monetary uses the decimal decomposition.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("us"), "value"
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(_vdec("value")).cast("double").alias("monetary"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
    )
    hwm = ev.agg(F.max("us").alias("hwm_us"))
    return (
        per_user.crossJoin(F.broadcast(hwm))
        .select(
            "user_id",
            F.expr("(hwm_us - last_us) div 86400000000").cast("bigint").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
            F.expr("(last_us - first_us) div 86400000000").cast("bigint").alias(
                "tenure_days"
            ),
            F.when(
                F.col("frequency") > 1,
                F.expr("(last_us - first_us) div (frequency - 1)"),
            )
            .cast("bigint")
            .alias("mean_gap_micros"),
        )
        .orderBy("user_id")
    )


def rfm_features_oracle() -> str:
    return f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us,
                 {_VDEC_SQL} AS vdec
          FROM events
        ),
        per_user AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(vdec) AS DOUBLE) AS monetary,
                 MIN(us) AS first_us,
                 MAX(us) AS last_us
          FROM ev GROUP BY user_id
        ),
        hwm AS (SELECT MAX(us) AS hwm_us FROM ev)
        SELECT user_id,
               CAST((hwm_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
               frequency,
               monetary,
               CAST((last_us - first_us) // 86400000000 AS BIGINT) AS tenure_days,
               CAST(CASE WHEN frequency > 1
                    THEN (last_us - first_us) // (frequency - 1) END AS BIGINT)
                 AS mean_gap_micros
        FROM per_user, hwm
        ORDER BY user_id
    """


def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest data-quality audit: per user, how often does arrival order
    (event_id, the ingest sequence) disagree with event time — count of
    consecutive arrivals whose timestamp steps BACKWARD, the largest
    backward jump, and the out-of-order ppm. This is the table that
    decides a streaming job's watermark delay: the max backward jump IS
    the lateness horizon the watermark must cover (pairs with the
    streaming family's `withWatermark("1 hour")` choice).

    One shuffle on user_id; a single lag window per user in arrival
    order; integer microseconds. (Adjacent-pair disorder, not the O(n²)
    global inversion count — the adjacent metric is the one a watermark
    actually bounds.)
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev_us = F.lag("us").over(w)
    marked = ev.withColumn(
        "back_jump",
        F.when(prev_us.isNotNull() & (F.col("us") < prev_us), prev_us - F.col("us")),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count("back_jump").cast("bigint").alias("n_backward"),
            F.coalesce(F.max("back_jump"), F.lit(0))
            .cast("bigint")
            .alias("max_backward_micros"),
        )
        .withColumn(
            "backward_ppm",
            F.when(
                F.col("n_events") > 1,
                F.expr("(n_backward * 1000000) div (n_events - 1)"),
            )
            .otherwise(0)
            .cast("bigint"),
        )
        .orderBy("user_id")
    )


def late_arrival_audit_oracle() -> str:
    return """
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        ),
        marked AS (
          SELECT user_id,
                 CASE WHEN LAG(us) OVER w IS NOT NULL AND us < LAG(us) OVER w
                      THEN LAG(us) OVER w - us END AS back_jump
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(back_jump) AS BIGINT) AS n_backward,
               CAST(COALESCE(MAX(back_jump), 0) AS BIGINT) AS max_backward_micros,
               CAST(CASE WHEN COUNT(*) > 1
                    THEN (COUNT(back_jump) * 1000000) // (COUNT(*) - 1)
                    ELSE 0 END AS BIGINT) AS backward_ppm
        FROM marked
        GROUP BY user_id
        ORDER BY user_id
    """


# --- exact-rank trimmed mean ------------------------------------------------

TRIM_FRAC_DENOM = 10  # trim floor(n/10) rows from each tail (10%)


def trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 10% trimmed mean of `value`: drop the lowest and
    highest floor(n/10) values by EXACT rank, average the middle — the
    robust location estimate between the mean (breaks on one unit-bug
    row) and the median (discards too much). Pairs with mad_outliers in
    the robust-stats family; same measurable-value domain contract.

    Exactness: the kept-rows sum is the guarded DECIMAL(18,6) lift
    (contracts.vdec) — order-independent, so the 32-way shuffle and the
    oracle's single thread agree bit-for-bit; only the final divide is
    IEEE (correctly rounded, then trunc6).

    Scale shape: event_type is a hot key, so ranks come from the
    distributed two-phase pattern (``distributed.grouped_running_sum`` —
    order-key chunks + per-chunk window + broadcast prefix offsets),
    never `row_number() OVER (PARTITION BY event_type)` (one task per
    type at 100 TB). Tail bounds join back via a broadcast of the
    |event_type|-sized count table.
    """
    from .distributed import grouped_rank_slice

    # NULL event_type is outside the keyed domain (wave-6 contract:
    # unattributed events don't get a robust-location row) — explicit on
    # both sides rather than relying on equi-join NULL semantics
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(finite_value("value") & F.col("event_type").isNotNull())
    )
    # r13 (guide §2.3): the trim keeps a contiguous RANK RANGE, so chunks
    # wholly inside (k, n-k] contribute every row without any local rank —
    # grouped_rank_slice sorts only the two boundary chunks per type where
    # the old form ranked every row (sort every chunk + offsets join).
    # The kept-rows sum stays the order-independent DECIMAL lift, so the
    # changed row order cannot change the result; per-type counts come
    # from the split's own chunk table instead of a second events scan.
    s = grouped_rank_slice(
        ev,
        "event_type",
        F.struct("value", "event_id"),
        F.expr(f"n div {TRIM_FRAC_DENOM}"),
        F.expr(f"n - n div {TRIM_FRAC_DENOM}"),
    )
    return (
        s.kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            _trunc6(
                F.sum(_vdec("value")).cast("double") / F.count(F.lit(1))
            ).alias("trimmed_mean"),
        )
        .join(F.broadcast(s.counts), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "n_kept",
            "trimmed_mean",
        )
        .orderBy("event_type")
    )


def trimmed_mean_value_oracle() -> str:
    return f"""
        WITH base AS (
          SELECT event_type, event_id, value
          FROM events
          WHERE {FINITE_VALUE_SQL} AND event_type IS NOT NULL
        ),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (
                     PARTITION BY event_type ORDER BY value, event_id) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM base
        ),
        kept AS (
          SELECT * FROM ranked
          WHERE rk > n // {TRIM_FRAC_DENOM} AND rk <= n - n // {TRIM_FRAC_DENOM}
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               FLOOR(CAST(SUM({_VDEC_SQL}) AS DOUBLE) / COUNT(*) * 1e6) / 1e6
                 AS trimmed_mean
        FROM kept
        GROUP BY event_type
        ORDER BY event_type
    """
