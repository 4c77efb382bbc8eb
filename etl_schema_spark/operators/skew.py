"""Skew-mitigation utilities (SURVEY §4).

AQE's skew-join splitting (on in session.py) covers sort-merge joins whose
skew is visible in shuffle statistics. Two cases remain for explicit
salting, both used at 100 TB:

  salted_join       A shuffled equi-join where one key holds a large share
                    of the big side and the small side can't broadcast.
                    The small side replicates SALT times (tiny: |small| x
                    SALT rows); the big side gets a deterministic per-row
                    salt, so the hot key spreads over SALT reducers.
  salted_collect    Non-algebraic aggregates (collect_list/collect_set)
                    have NO map-side partial aggregation — a hot group's
                    every row lands on one reducer. Two-phase salting
                    bounds per-reducer fan-in to group_size / SALT, then
                    flattens the per-salt chunks.

Algebraic aggregates (sum/count/min/max/avg) do NOT need this: Spark
already partial-aggregates map-side, so a hot group costs one row per map
task in the shuffle. Salting those would add a shuffle for nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .contracts import _trunc6

DEFAULT_SALT = 16


def _row_salt(n: int) -> Column:
    """Deterministic pseudo-random per-row salt (seeded rand keeps runs
    reproducible; any spread works — correctness never depends on it)."""
    return F.floor(F.rand(seed=42) * n).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over `salt` reducers.

    `small` is replicated `salt` times via explode (rows = |small| x salt —
    use only when broadcast is infeasible but replication still fits);
    `big` rows get one salt each, so every big row still meets every
    matching small row exactly once.
    """
    salts = F.array(*[F.lit(i) for i in range(salt)])
    small_rep = small.withColumn("_salt", F.explode(salts))
    big_s = big.withColumn("_salt", _row_salt(salt))
    joined = big_s.join(small_rep, [*on, "_salt"], how)
    return joined.drop("_salt")


def salted_collect(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    salt: int = DEFAULT_SALT,
    out: str = "items",
    sort: bool = True,
) -> DataFrame:
    """collect_list(col) by keys with bounded per-reducer fan-in.

    Phase 1 collects per (keys, salt) — each reducer sees at most
    group_size / salt rows of a hot group; phase 2 merges the salt chunks
    (at most `salt` small arrays per group). With sort=True the merged
    array is sorted, making the result deterministic (a plain
    collect_list's order is partition-dependent anyway).
    """
    phase1 = (
        df.withColumn("_salt", _row_salt(salt))
        .groupBy(*keys, "_salt")
        .agg(F.collect_list(col).alias("_chunk"))
    )
    merged = phase1.groupBy(*keys).agg(
        F.flatten(F.collect_list("_chunk")).alias(out)
    )
    if sort:
        merged = merged.withColumn(out, F.array_sort(out))
    return merged


def skew_salted_daily_users(spark, sf_dir: str) -> DataFrame:
    """Registry entry for the salting machinery: per (event_type, date),
    the sorted distinct-user list assembled with bounded-fan-in two-phase
    collection. event_type is the canonical skewed key (~4 values over the
    whole corpus); a plain collect_list would funnel every row of a hot
    type-day through ONE reducer — salted_collect caps fan-in at
    group_size / SALT and merges |SALT| chunks.

    Oracle-checked: the sorted list is deterministic, and it is emitted as
    a '|'-joined STRING (plus n_users) rather than an ARRAY — the driver's
    pandas canonicalizer sorts on every output column and cannot hash
    list-typed cells (CORRECTNESS_r04: TypeError unhashable type 'list').
    tests/test_skew.py keeps the array-form assertion on salted_collect
    itself. (Non-algebraic aggregates are exactly the ones where salting
    earns its keep; sum/count partial-aggregate map-side and never need it.)
    """
    from ..sources.catalog import load_table

    # NULL-user contract (edge fuzz wave 6): Spark's collect_list drops
    # NULL elements while SQL COUNT(*) over the pair set keeps the row,
    # so a NULL user inflates n_users on one side only — a NULL user is
    # not a user; exclude it from the pair domain on both sides.
    pairs = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    collected = salted_collect(pairs, ["event_type", "day"], "user_id", out="users")
    return collected.select(
        "event_type",
        "day",
        F.size("users").alias("n_users"),
        F.array_join(F.col("users").cast("array<string>"), "|").alias("users"),
    )


def skew_salted_daily_users_oracle() -> str:
    return """
        WITH pairs AS (
          SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT event_type, day,
               COUNT(*) AS n_users,
               array_to_string(list_sort(list(user_id)), '|') AS users
        FROM pairs GROUP BY event_type, day
        ORDER BY event_type, day
    """


# --- key_skew_profile -------------------------------------------------------

SKEW_TOPK = 10  # keys summed into topk_share
SKEW_FLAG_SHARE = 0.05  # max_share at/above this flags the stream for salting


def key_skew_profile(spark, sf_dir: str) -> DataFrame:
    """Key-distribution skew report per event_type — the measurement that
    DECIDES when the salting machinery above (and AQE skew-join splitting)
    is worth its extra shuffle: per stream, the per-user row-count
    distribution's concentration statistics (max/top-K share, HHI, Gini,
    p50/p99 counts) plus a salt_flag at the SKEW_FLAG_SHARE line. A 100 TB
    pipeline runs this over a sample or yesterday's partition before
    choosing join strategies; the same report is the regression monitor
    for "a hot key appeared in production".

    Plan (r11 rebuild — VERDICT r10 item 1, the single-task-sort fix):
    ONE partial-aggregated groupBy(event_type, user_id) reduces the
    corpus to the key frame, and the per-stream ascending rank comes from
    ``distributed.grouped_running_sum`` — the two-phase chunked rank
    user_activity_gini / mad_outliers already ride — NOT from
    `row_number() OVER (PARTITION BY event_type)`, which would sort a
    stream's ENTIRE distinct-key set (billions of keys at 100 TB) in one
    task. No second (descending) rank pass exists: every rank-derived
    statistic here is TIE-BREAK INVARIANT — keys tying on cnt contribute
    the same Gini weight sum (c*r + c*(r+1) either way), the same top-K
    cnt multiset, and the same cnt at any percentile position — so the
    descending-axis condition `rk_desc <= K` rewrites exactly to
    `rk > n_keys - K` on the ascending rank, and the oracle's two-window
    form is unchanged. All concentration statistics are exact-integer
    sums (rank-weighted Gini numerator and HHI squares in DECIMAL,
    overflow-proof at any corpus size); the only doubles are final
    single divisions, identical expression order on both engines.

    NULL domain: a NULL user_id is profiled as its own key, a NULL
    event_type as its own stream — the stream key rides through the
    two-phase rank wrapped in a one-field STRUCT, whose field-wise
    comparison is null-safe where a bare-column equi-join would drop the
    NULL stream (the wave-6 class). Ordering ties cannot exist —
    (event_type, user_id) is unique in the key frame — so every rank is
    total and deterministic.
    """
    from ..sources.catalog import load_table
    from .distributed import grouped_running_sum

    events = load_table(spark, sf_dir, "events")
    per_key = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).withColumn("_gk", F.struct("event_type"))
    ranked0 = grouped_running_sum(
        per_key, "_gk", F.struct("cnt", "user_id"), F.lit(1), "rk"
    )
    # |streams| rows (~handful): broadcast nk back onto the ranked frame
    # for the percentile-position and top-K-threshold predicates. nk is
    # derived FROM the ranked frame (ADVICE r11; the unreferenced rank
    # window prunes out of this count's plan).
    nk_df = ranked0.groupBy("_gk").agg(F.count(F.lit(1)).alias("nk"))
    ranked = ranked0.join(F.broadcast(nk_df), "_gk")
    dec = "decimal(19,0)"
    prof = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.sum(F.col("cnt").cast(dec) * F.col("cnt").cast(dec)).alias("_ss"),
        F.sum(F.col("rk").cast(dec) * F.col("cnt").cast(dec)).alias("_s"),
        F.sum(F.when(F.col("rk") > F.col("nk") - SKEW_TOPK, F.col("cnt")))
        .cast("bigint")
        .alias("_topk"),
        F.max(F.when(F.col("rk") == F.ceil(F.col("nk") * 0.5), F.col("cnt")))
        .cast("bigint")
        .alias("p50_cnt"),
        F.max(F.when(F.col("rk") == F.ceil(F.col("nk") * 0.99), F.col("cnt")))
        .cast("bigint")
        .alias("p99_cnt"),
    )
    ne_d = F.col("n_events").cast("double")
    max_share = F.col("max_cnt").cast("double") / ne_d
    gini_num = (
        F.lit(2).cast(dec) * F.col("_s")
        - (F.col("n_keys") + 1).cast(dec) * F.col("n_events").cast(dec)
    )
    gini_den = F.col("n_keys").cast(dec) * F.col("n_events").cast(dec)
    return prof.select(
        "event_type",
        "n_keys",
        "n_events",
        "max_cnt",
        _trunc6(max_share).alias("max_share"),
        _trunc6(F.col("_topk").cast("double") / ne_d).alias("topk_share"),
        _trunc6(F.col("_ss").cast("double") / (ne_d * ne_d)).alias("hhi"),
        _trunc6(gini_num.cast("double") / gini_den.cast("double")).alias("gini"),
        "p50_cnt",
        "p99_cnt",
        (max_share >= SKEW_FLAG_SHARE).cast("int").alias("salt_flag"),
    ).orderBy(F.asc_nulls_first("event_type"))


def key_skew_profile_oracle() -> str:
    return f"""
        WITH per_key AS (
          SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY event_type, user_id
        ), ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY cnt, user_id NULLS FIRST) AS rk,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY cnt DESC, user_id NULLS FIRST) AS rk_desc,
                 COUNT(*) OVER (PARTITION BY event_type) AS nk
          FROM per_key
        ), prof AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS n_events,
                 CAST(MAX(cnt) AS BIGINT) AS max_cnt,
                 SUM(cnt * cnt) AS ss,
                 SUM(rk * cnt) AS s,
                 CAST(SUM(CASE WHEN rk_desc <= {SKEW_TOPK} THEN cnt END)
                      AS BIGINT) AS topk,
                 CAST(MAX(CASE WHEN rk = CEIL(nk * 0.5) THEN cnt END)
                      AS BIGINT) AS p50_cnt,
                 CAST(MAX(CASE WHEN rk = CEIL(nk * 0.99) THEN cnt END)
                      AS BIGINT) AS p99_cnt
          FROM ranked GROUP BY event_type
        )
        SELECT event_type, n_keys, n_events, max_cnt,
               FLOOR(CAST(max_cnt AS DOUBLE) / CAST(n_events AS DOUBLE) * 1e6)
                 / 1e6 AS max_share,
               FLOOR(CAST(topk AS DOUBLE) / CAST(n_events AS DOUBLE) * 1e6)
                 / 1e6 AS topk_share,
               FLOOR(CAST(ss AS DOUBLE)
                     / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
                     * 1e6) / 1e6 AS hhi,
               FLOOR(CAST(2 * s - (n_keys + 1) * n_events AS DOUBLE)
                     / (CAST(n_keys AS DOUBLE) * CAST(n_events AS DOUBLE))
                     * 1e6) / 1e6 AS gini,
               p50_cnt, p99_cnt,
               CAST(CAST(max_cnt AS DOUBLE) / CAST(n_events AS DOUBLE)
                    >= {SKEW_FLAG_SHARE} AS INT) AS salt_flag
        FROM prof
        ORDER BY event_type NULLS FIRST
    """
