"""Layered view engine: raw → extended → unified.

Parity map (events stands in for the NDT measurement stream, §3 of SURVEY.md):

  raw view            views/utilization/switch_legacy.sql — pass-through +
                      ``_PARTITIONTIME → partition_date`` cast.
  extended view       views/ndt_intermediate/extended_ndt7_downloads.sql —
                      derived metrics + classification + boolean filter flags:
                        protocol CONCAT/CASE          (lines 40-46)
                        IsOAM client-list membership  (lines 49-57)
                        IsProduction regex            (lines 68-69)
                        IsSmall/IsShort/IsLong        (filter struct, 108-119)
                        _IsCongested/_IsBloated       (lines 72-75)
  unified view        views/ndt/unified_downloads.sql — UNION ALL over
                      per-protocol extended views, composed IsValidBest
                      (lines 45-58), final ``SELECT * EXCEPT(filter)
                      WHERE IsValidBest`` (lines 100-104).

All flags are plain columns (not a struct) so the DuckDB oracle compares
value-for-value; the composition logic is identical.

Scale: each view is a narrow projection over the scan — no shuffle at all.
Catalyst collapses the three layers into a single stage with the validity
predicate pushed into the parquet scan where deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import cpu_parallel, load_table

# Stand-in for the reference's OAM client-IP list
# (extended_ndt7_downloads.sql lines 49-57).
OAM_USER_IDS = (7, 13, 42, 99)

# "download"-direction vs "upload"-direction event classes for the unified
# union (unified_downloads.sql unions ndt7/ndt5/web100 sources).
DOWNLOAD_TYPES = ("click", "view")
UPLOAD_TYPES = ("purchase", "signup")


def raw_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw pass-through view with partition_date.

    Parity: views/utilization/switch_legacy.sql, views/ndt_raw/*.sql.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.col("ts").cast("date").alias("partition_date"), "*")


def extended_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended view: derived metric/protocol/flag columns.

    Parity: views/ndt_intermediate/extended_ndt7_downloads.sql (see module
    docstring for the line map). `k_value` plays FinalSnapshot.TCPInfo.MinRTT,
    `value` plays MeanThroughputMbps.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_cast: a props payload with no digits regexp-extracts to '' and a
    # bare ANSI cast kills the whole scan (CAST_INVALID_INPUT); NULL is the
    # correct degraded value and matches the oracle's TRY_CAST
    # (tools/fuzz_edge_docs.py wave 3)
    k_value = F.regexp_extract(F.col("props"), r"(\d+)", 1).try_cast("bigint")
    return ev.select(
        "event_id",
        F.col("ts").cast("date").alias("partition_date"),
        "ts",
        "user_id",
        "event_type",
        "value",
        k_value.alias("k_value"),
        # Protocol classification (CONCAT + CASE), ndt7 lines 40-46
        F.concat(
            F.lit("evt"),
            F.when(F.col("user_id") % 2 == 0, "-IPv4").otherwise("-IPv6"),
            F.when(F.col("event_type").isin(*DOWNLOAD_TYPES), "-WSS")
            .when(F.col("event_type").isin(*UPLOAD_TYPES), "-WS")
            .otherwise("-unknown"),
        ).alias("protocol"),
        F.col("value").isNotNull().alias("is_complete"),
        (F.col("event_type") == "error").alias("is_error"),
        F.col("user_id").isin(*OAM_USER_IDS).alias("is_oam"),
        # IsProduction regex (ndt7 lines 68-69: mlab[1-3]-[a-z]{3}[0-9]{2})
        F.col("props").rlike(r'"k": \d\d}').alias("is_production"),
        (F.col("value") < 1.0).alias("is_small"),
        (F.col("value") < 5.0).alias("is_short"),
        (F.col("value") > 300.0).alias("is_long"),
        (k_value % 3 == 0).alias("is_congested"),
        ((F.col("value") > 2 * k_value) & (F.col("value") > 100.0)).alias("is_bloated"),
    )


def is_valid_best() -> Column:
    """Composed validity predicate.

    Parity: unified_downloads.sql lines 45-58 (IsValidBest).
    """
    return (
        F.col("is_complete")
        & F.col("is_production")
        & ~F.col("is_error")
        & ~F.col("is_oam")
        & ~F.col("is_small")
        & ~F.col("is_short")
        & ~F.col("is_long")
    )


def is_valid_2021() -> Column:
    """Parity: unified_downloads.sql lines 74-87 (IsValid2021: additionally
    requires congestion or bloat signal)."""
    return is_valid_best() & (F.col("is_congested") | F.col("is_bloated"))


# The oracles' spelling of the two predicates above, written out
# independently of the Column forms so the DuckDB twin stays a second
# implementation rather than a rendering of the first.
VALID_BEST_SQL = """(is_complete AND is_production AND NOT is_error AND NOT is_oam
     AND NOT is_small AND NOT is_short AND NOT is_long)"""
VALID_2021_SQL = f"({VALID_BEST_SQL} AND (is_congested OR is_bloated))"


def unified_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified view: UNION ALL over direction-split extended views, validity
    composition, filter, and flag projection-out.

    Parity: views/ndt/unified_downloads.sql lines 42-104.
    """
    ext = extended_view(spark, sf_dir)
    downloads = ext.filter(F.col("event_type").isin(*DOWNLOAD_TYPES)).withColumn(
        "direction", F.lit("Download")
    )
    uploads = ext.filter(F.col("event_type").isin(*UPLOAD_TYPES)).withColumn(
        "direction", F.lit("Upload")
    )
    unified = downloads.unionByName(uploads).withColumn("is_valid_best", is_valid_best())
    return unified.filter(F.col("is_valid_best")).select(
        "event_id",
        "partition_date",
        "ts",
        "user_id",
        "event_type",
        "direction",
        "protocol",
        "value",
        "k_value",
    )


# --- DuckDB oracles -------------------------------------------------------

_EXTENDED_SQL = r"""
    SELECT
      event_id,
      CAST(ts AS DATE) AS partition_date,
      ts,
      user_id,
      event_type,
      value,
      TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k_value,
      'evt'
        || CASE WHEN user_id % 2 = 0 THEN '-IPv4' ELSE '-IPv6' END
        || CASE WHEN event_type IN ('click','view') THEN '-WSS'
                WHEN event_type IN ('purchase','signup') THEN '-WS'
                ELSE '-unknown' END AS protocol,
      value IS NOT NULL AS is_complete,
      event_type = 'error' AS is_error,
      user_id IN (7, 13, 42, 99) AS is_oam,
      regexp_matches(props, '"k": \d\d}') AS is_production,
      value < 1.0 AS is_small,
      value < 5.0 AS is_short,
      value > 300.0 AS is_long,
      (TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) % 3 = 0) AS is_congested,
      (value > 2 * TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)
        AND value > 100.0) AS is_bloated
    FROM events
"""


def raw_view_oracle() -> str:
    return "SELECT CAST(ts AS DATE) AS partition_date, * FROM events"


def extended_view_oracle() -> str:
    return _EXTENDED_SQL


def unified_view_oracle() -> str:
    return f"""
        WITH extended AS ({_EXTENDED_SQL}),
        unioned AS (
          SELECT *, 'Download' AS direction FROM extended
          WHERE event_type IN ('click','view')
          UNION ALL
          SELECT *, 'Upload' AS direction FROM extended
          WHERE event_type IN ('purchase','signup')
        )
        SELECT event_id, partition_date, ts, user_id, event_type, direction,
               protocol, value, k_value
        FROM unioned
        WHERE {VALID_BEST_SQL}
    """


# Static annotation dimension for annotate_renest (stands in for the
# reference's hopannotation2 geo/network annotation table).
ANNOTATION_TAGS = (
    ("the", "art"),
    ("a", "art"),
    ("and", "conj"),
    ("or", "conj"),
    ("is", "verb"),
    ("was", "verb"),
    ("of", "prep"),
    ("in", "prep"),
    ("to", "prep"),
)


def annotate_renest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotate every element of a nested array against a dimension and
    reassemble the array in original element order.

    Parity: views/wehe/scamper1_hopannotation2.sql lines 18-50 — the
    reference UNNESTs traceroute hop nodes, LEFT JOINs the hopannotation2
    annotation table per hop, then ARRAY_AGGs the annotated hops back and
    splices them into the nested struct. Here tokens play hops and a static
    tag table plays the annotation dataset; the reassembled array is proven
    byte-exact via an order-sensitive md5 fingerprint (portable to the SQL
    oracle, unlike a raw array-of-structs hash).

    Scale: when the annotation dim fits in a broadcast (it always does for
    the reference's hopannotation2 shape), the whole explode→join→ARRAY_AGG
    round trip collapses to a map lookup inside a higher-order ``transform``
    — ZERO shuffles, element order preserved natively, all of it inside
    whole-stage codegen. `annotate_renest_exploded` keeps the generic
    explode + shuffle-join + re-group plan for dims too large to broadcast;
    the two are equivalence-tested.

    Ingest precondition: PK-unique doc_id scan — a replayed document
    contributes its annotated array twice and the element-order
    fingerprint diverges across engines. Front door: restore_unique_docs /
    catalog.load_table_unique at ingest; observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    # NULL-text docs are excluded (edge fuzz wave 6, doc_chunks
    # contract): a NULL array re-nests to a phantom row on Spark where
    # SQL's UNNEST emits nothing — and there are no elements to annotate.
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tag_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t, _ in ANNOTATION_TAGS]),
        F.array(*[F.lit(g) for _, g in ANNOTATION_TAGS]),
    )
    toks = F.split(F.lower("text"), r"\s+")
    pairs = F.transform(
        toks,
        lambda t: F.concat_ws(":", t, F.coalesce(F.element_at(tag_map, t), F.lit("-"))),
    )
    annotated = F.filter(toks, lambda t: F.element_at(tag_map, t).isNotNull())
    return (
        docs.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(annotated).cast("bigint").alias("n_annotated"),
            F.md5(F.concat_ws("|", pairs)).alias("renest_md5"),
        )
        .orderBy("doc_id")
    )


def annotate_renest_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic large-dim plan for `annotate_renest`: posexplode the array,
    shuffle-join the annotation dim, re-group on doc_id restoring element
    order by position. Same result; use when the dim can't broadcast.
    """
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    dim = spark.createDataFrame(list(ANNOTATION_TAGS), "term string, tag string")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "term")
    )
    pair = F.concat_ws(":", F.col("term"), F.coalesce(F.col("tag"), F.lit("-")))
    ann = toks.join(F.broadcast(dim), "term", "left").select(
        "doc_id", "pos", F.col("tag"), pair.alias("pair")
    )
    return (
        ann.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("tag").alias("n_annotated"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "pair"))),
                        lambda s: s["pair"],
                    ),
                )
            ).alias("renest_md5"),
        )
        .orderBy("doc_id")
    )


def annotate_renest_oracle() -> str:
    values = ", ".join(f"('{t}', '{g}')" for t, g in ANNOTATION_TAGS)
    return rf"""
        WITH anns(term, tag) AS (VALUES {values}),
        d AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL
        ),
        tok AS (
          SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
          FROM d
        ),
        ann AS (
          SELECT t.doc_id, t.pos, a.tag,
                 t.term || ':' || COALESCE(a.tag, '-') AS pair
          FROM tok t LEFT JOIN anns a USING (term)
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               COUNT(tag) AS n_annotated,
               md5(string_agg(pair, '|' ORDER BY pos)) AS renest_md5
        FROM ann
        GROUP BY doc_id
        ORDER BY doc_id
    """
