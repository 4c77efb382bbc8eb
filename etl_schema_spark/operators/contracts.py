"""Central value-domain and timestamp-admission contracts.

At 100 TB a handful of corrupt telemetry rows WILL exist — NaN/±Inf from
broken collectors, absurd magnitudes from unit bugs, year-2150 timestamps
from clock skew. Fuzz wave 5 (tools/fuzz_edge_docs.py --wave5) proved that
one such row kills or silently corrupts 18 production plans: Spark's ANSI
decimal cast throws NUMERIC_VALUE_OUT_OF_RANGE on Inf, ``floor(v * 1e6)``
(LongType) silently saturates at Long.MAX for |v| >= ~9.2e12 where DuckDB
keeps the double, and DuckDB's STDDEV/CORR hard-error on non-finite input
where Spark degrades to NaN.

The contract, proven in-window on ``tail_latency_percentiles`` and
``gapfill_locf`` during round 6 and centralized here for every
events.value consumer:

  * a value participates in the measurable domain iff it is non-NULL,
    finite, and |v| < VALUE_ABS_BOUND (1e12 — the DECIMAL(18,6) domain the
    exact-sum decomposition assumes);
  * out-of-domain values DEGRADE TO NULL (SUM skips them, COUNT(*) keeps
    the row) — the same "NULL leaves the measurable domain" semantics the
    embedding family's finite-vector contract (similarity.load_vectors)
    established in wave 4;
  * operators that build a time spine from min/max additionally EXCLUDE
    rows outside [TS_ADMIT_LO, TS_ADMIT_HI) — a spine is |keys| x range,
    so one corrupt year-2150 row would inflate it by ~1.1M hours per key
    at ANY data scale (exclusion, not degradation: a NULL hour is not a
    smaller spine).

Every helper has a DuckDB twin so oracles mirror the contract verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The exact-decimal value domain: DECIMAL(18,6) holds |v| < 1e12, and
# floor(v * 1e6) stays far inside signed 64-bit (< 1e18 vs 9.2e18).
VALUE_ABS_BOUND = 1e12

# Spine-building admission window (gapfill/resample operators). Rows
# outside it are EXCLUDED from the operator's time domain — a visible,
# documented data-dropping policy, not a silent magic literal
# (ADVICE r6: these were inlined in gapfill_locf; hoisted here).
TS_ADMIT_LO = "2000-01-01"
TS_ADMIT_HI = "2100-01-01"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _trunc6(c: Column) -> Column:
    # floor-truncation to 6 decimals: floor(x * 1e6) / 1e6 is the identical
    # IEEE op sequence in Spark and DuckDB, where round() is not (the two
    # engines disagree on .5 boundaries)
    return F.floor(c * 1e6) / 1e6


def finite_value(col: str | Column = "value") -> Column:
    """Boolean guard: col is in the measurable value domain."""
    c = _c(col)
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) < F.lit(VALUE_ABS_BOUND))


def vclean(col: str | Column = "value") -> Column:
    """The value itself, degraded to NULL outside the measurable domain."""
    return F.when(finite_value(col), _c(col))


def vdec(col: str | Column = "value") -> Column:
    """Guarded order-independent exact lift: truncate to 6 dp, cast to
    DECIMAL(18,6); out-of-domain values degrade to NULL. CASE branches
    evaluate lazily in both engines, so the floor never sees Inf."""
    return F.when(finite_value(col), _trunc6(_c(col))).cast(
        "decimal(18,6)"
    )


def vdec4(col: str | Column = "value") -> Column:
    """Guarded DECIMAL(18,4) lift (the rounding flavor some rollups use)."""
    return F.when(finite_value(col), _c(col)).cast("decimal(18,4)")


def plausible_ts(col: str | Column = "ts") -> Column:
    """Boolean guard: timestamp inside the spine admission window."""
    c = _c(col)
    return (c >= F.lit(TS_ADMIT_LO).cast("timestamp")) & (
        c < F.lit(TS_ADMIT_HI).cast("timestamp")
    )


# --- occupancy-cap observability (ADVICE r7) ------------------------------
#
# The bucket-occupancy caps (dedup.LSH_BUCKET_CAP, similarity.
# COSINE_BUCKET_CAP / DECON_EVAL_BUCKET_CAP) bound adversarial pair
# explosions, but they TRUNCATE: past the cap the pair-shaped output is
# no longer complete and the cluster-shaped family is the right tool. A
# production run must be able to SEE that happen — a cap that fires
# silently reads as "covered everything" when it didn't.

# Test/ops hook: when set to a dict, observe_cap routes metrics through
# pyspark.sql.Observation objects stored here (name -> Observation), so a
# harness can read obs.get after an action. Default (None) uses named
# observations, which surface through Spark's standard channels
# (QueryExecutionListener / observedMetrics in the SQL UI) with no
# driver-side coupling.
CAP_METRIC_SINK: dict | None = None


def observe_cap(df, name: str, rn_col: str, cap: int):
    """Attach a CollectMetrics node counting occupancy-cap truncation on
    the pre-filter frame: ``rows_past_cap`` (how many bucket rows the cap
    will drop — 0 means the pair output is provably complete) and
    ``max_occupancy`` (the hottest bucket seen). A pass-through node: no
    action, no shuffle, oracles unaffected; the metric is computed as
    rows stream through the existing scan."""
    metrics = (
        F.sum(F.when(F.col(rn_col) > cap, 1).otherwise(0))
        .cast("bigint")
        .alias("rows_past_cap"),
        F.max(F.col(rn_col)).cast("bigint").alias("max_occupancy"),
    )
    if CAP_METRIC_SINK is not None:
        from pyspark.sql import Observation

        obs = Observation()
        CAP_METRIC_SINK[name] = obs
        return df.observe(obs, *metrics)
    return df.observe(name, *metrics)


# --- DuckDB twins (string templates for oracle_sql) -----------------------


def finite_value_sql(col: str = "value") -> str:
    return f"({col} IS NOT NULL AND isfinite({col}) AND abs({col}) < 1e12)"


FINITE_VALUE_SQL = finite_value_sql()

VCLEAN_SQL = f"(CASE WHEN {FINITE_VALUE_SQL} THEN value END)"

VDEC_SQL = (
    f"CAST(CASE WHEN {FINITE_VALUE_SQL} THEN FLOOR(value * 1e6) / 1e6 END"
    " AS DECIMAL(18,6))"
)

VDEC4_SQL = f"CAST({VCLEAN_SQL} AS DECIMAL(18,4))"

PLAUSIBLE_TS_SQL = (
    f"(ts >= TIMESTAMP '{TS_ADMIT_LO}' AND ts < TIMESTAMP '{TS_ADMIT_HI}')"
)
