"""Parameterized table functions (the reference's `functions/` surface).

The reference maintains TWELVE near-identical SQL files — ops.ndt7_
{download,upload}_pdf{,_managed,_autonode,_complete}.sql and ops.ndt7_
geomean_{managed,autonode,complete}.sql — that differ only in direction
(download/upload) and fleet filter (managed/autonode/complete). BigQuery
table functions can't compose predicates, so each combination is a file.

Here each family is ONE function parameterized by (direction, fleet):

    metric_pdf(spark, sf_dir, direction="upload", fleet="2021")
    metric_geomean(spark, sf_dir, direction="download", fleet="complete")

Fleet names map to the validity tiers of the unified views:
    best      IsValidBest  (managed-fleet analog)
    2021      IsValid2021  (stricter: requires congestion/bloat signal)
    complete  completeness only (the `_complete` file analog)

Parity: functions/ops.ndt7_download_pdf_managed.sql (log10 binning, PDF =
count / SUM OVER site, CDF = cumulative SUM OVER bin), functions/
ops.ndt7_geomean_managed.sql (COUNT / AVG / EXP(AVG(LN))).

`direction=None` keeps every event type: `metric_pdf(spark, sf_dir, None)`
and `metric_geomean(spark, sf_dir, None)` are the registry's `log_pdf_cdf`
and `geomean_by_type` (the reference's un-directed managed-fleet files).

Scale: the reference builds bins with GENERATE_ARRAY(log10(xmin),
log10(xmax), .02) and CROSS JOINs every row against every bin, which is
O(rows x bins). Here each row's bin ordinal is computed from log10(value)
and lands in the same centered bin (xright = 10^(x+0.01)). The whole PDF
is one narrow groupBy plus two window functions over the tiny
(event_type x bin) aggregate, so the shuffle carries bin counts, not rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.views_layer import (
    _EXTENDED_SQL,
    DOWNLOAD_TYPES,
    UPLOAD_TYPES,
    VALID_2021_SQL,
    VALID_BEST_SQL,
    extended_view,
    is_valid_2021,
    is_valid_best,
)

DIRECTIONS: dict[str, tuple[str, ...]] = {
    "download": DOWNLOAD_TYPES,
    "upload": UPLOAD_TYPES,
}


def _fleet_predicate(fleet: str) -> Column:
    if fleet == "best":
        return is_valid_best()
    if fleet == "2021":
        return is_valid_2021()
    if fleet == "complete":
        return F.col("is_complete") & ~F.col("is_error")
    raise ValueError(f"unknown fleet {fleet!r} (best | 2021 | complete)")


def _filtered(
    spark: SparkSession, sf_dir: str, direction: str | None, fleet: str
) -> DataFrame:
    """The extended view restricted to one direction (None: every event
    type) and one fleet."""
    ext = extended_view(spark, sf_dir)
    if direction is not None:
        if direction not in DIRECTIONS:
            raise ValueError(f"unknown direction {direction!r} (download | upload | None)")
        ext = ext.filter(F.col("event_type").isin(*DIRECTIONS[direction]))
    return ext.filter(_fleet_predicate(fleet))


def metric_pdf(
    spark: SparkSession,
    sf_dir: str,
    direction: str | None = "download",
    fleet: str = "best",
    xmin: float = 0.01,
    xmax: float = 500.0,
) -> DataFrame:
    """Log10-binned PDF + CDF of `value` per event_type for one
    (direction, fleet) instantiation."""
    ext = _filtered(spark, sf_dir, direction, fleet)
    logmin = F.log10(F.lit(xmin))
    k = F.floor((F.log10(F.col("value")) - logmin) / 0.02 + 0.5)
    binned = (
        ext.filter(F.col("value").between(xmin, xmax))
        .withColumn("bin", k)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )
    w_tot = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pdf = F.col("bin_count") / F.sum("bin_count").over(w_tot)
    return (
        binned.withColumn(
            "xright", F.round(F.pow(F.lit(10.0), logmin + F.col("bin") * 0.02 + 0.01), 6)
        )
        .withColumn("pdf", pdf)
        .withColumn("cdf", F.round(F.sum(pdf).over(w_cum), 6))
        .withColumn("pdf", F.round("pdf", 6))
        .select("event_type", "bin", "xright", "bin_count", "pdf", "cdf")
        .orderBy("event_type", "bin")
    )


def metric_geomean(
    spark: SparkSession,
    sf_dir: str,
    direction: str | None = "download",
    fleet: str = "best",
) -> DataFrame:
    """COUNT / mean / geometric mean per event_type for one
    (direction, fleet) instantiation."""
    ext = _filtered(spark, sf_dir, direction, fleet).filter(F.col("value") > 0)
    return (
        ext.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("tests"),
            F.round(F.avg("value"), 4).alias("mean"),
            F.round(F.exp(F.avg(F.log("value"))), 4).alias("geomean"),
        )
        .orderBy("event_type")
    )


# --- DuckDB oracle builders ----------------------------------------------

_FLEET_SQL = {
    "best": VALID_BEST_SQL,
    "2021": VALID_2021_SQL,
    "complete": "is_complete AND NOT is_error",
}

_DIRECTION_SQL = {
    "download": "event_type IN ('click','view')",
    "upload": "event_type IN ('purchase','signup')",
    None: "TRUE",
}


def metric_pdf_oracle(
    direction: str | None = "download",
    fleet: str = "best",
    xmin: float = 0.01,
    xmax: float = 500.0,
) -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL}),
        binned AS (
          SELECT event_type,
                 FLOOR((log10(value) - log10({xmin})) / 0.02 + 0.5) AS bin,
                 COUNT(*) AS bin_count
          FROM extended
          WHERE {_DIRECTION_SQL[direction]} AND ({_FLEET_SQL[fleet]})
            AND value BETWEEN {xmin} AND {xmax}
          GROUP BY 1, 2
        ),
        with_pdf AS (
          SELECT event_type, CAST(bin AS BIGINT) AS bin,
                 ROUND(POW(10, log10({xmin}) + bin * 0.02 + 0.01), 6) AS xright,
                 bin_count,
                 bin_count / SUM(bin_count) OVER (PARTITION BY event_type) AS raw_pdf
          FROM binned
        )
        SELECT event_type, bin, xright, bin_count,
               ROUND(raw_pdf, 6) AS pdf,
               ROUND(SUM(raw_pdf) OVER (PARTITION BY event_type ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cdf
        FROM with_pdf ORDER BY event_type, bin
    """


def metric_geomean_oracle(direction: str | None = "download", fleet: str = "best") -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL})
        SELECT event_type, COUNT(*) AS tests,
               ROUND(AVG(value), 4) AS mean,
               ROUND(EXP(AVG(LN(value))), 4) AS geomean
        FROM extended
        WHERE {_DIRECTION_SQL[direction]} AND ({_FLEET_SQL[fleet]}) AND value > 0
        GROUP BY event_type ORDER BY event_type
    """
