"""Table sinks: partitioned parquet materialization, additive-evolution
append, and the BigQuery connector surface.

Parity: the reference's pipeline lands data in date-partitioned BigQuery
tables and patches their schemas additively (schema/sync_tables_with_schema.sh);
cmd/bq_create_view materializes the view DAG on top. Here:

  write_partitioned    date/key-partitioned parquet writes sized for scale:
                       one shuffle on the partition keys so each partition is
                       written by few tasks (no small-file explosion), dynamic
                       partition overwrite so re-runs replace only touched
                       partitions (BigQuery partition-decorator semantics).
  append_evolved       append under additive schema evolution: the incoming
                       frame is reconciled onto evolve_schema(existing,
                       incoming) — new columns land nullable, historical
                       files stay valid (sync_tables_with_schema.sh parity).
  read_evolved         the matching read: parquet mergeSchema across file
                       generations.
  materialize_views    write a ViewCatalog's DAG to storage in dependency
                       order — the bq_create_view "deploy" equivalent when a
                       view should become a table.
  bigquery_writer      configured writer for the public spark-bigquery
                       connector (format "bigquery"); raises a clear error
                       when the connector jar is absent (this container).

Scale notes (100 TB):
  - The partition-key repartition before write is the one shuffle; without
    it every upstream task writes every partition → files = tasks ×
    partitions. ``maxRecordsPerFile`` bounds file size under skewed keys.
  - Dynamic partition overwrite keeps backfills incremental: re-running one
    day's job rewrites one day's partitions, not the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas.evolution import evolve_schema, reconcile_to_schema
from .sources.views import ViewCatalog

DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = (),
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    fmt: str = "parquet",
) -> None:
    """Partitioned columnar write (parquet by default; `fmt="orc"` for the
    other splittable columnar container Spark ships natively) with dynamic
    partition overwrite.

    Repartitions on the partition columns first so each output partition is
    produced by a bounded number of tasks — the difference between O(days)
    and O(days × tasks) files at 100 TB. Dynamic overwrite is this write's
    option, so the session's own overwrite mode stays as it was.
    """
    writer = df
    if partition_cols:
        writer = df.repartition(*[F.col(c) for c in partition_cols])
    (
        writer.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read across file generations, merging additively-evolved schemas."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def append_evolved(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Append under additive schema evolution.

    The incoming frame is projected onto evolve_schema(existing, incoming):
    brand-new columns append as nullable, columns the incoming frame lacks
    become typed NULLs, and retyped columns keep the historical type (additive
    evolution never rewrites history — sync_tables_with_schema.sh semantics).
    Returns the reconciled frame that was written.
    """
    try:
        existing = spark.read.parquet(path).schema
    except Exception:
        existing = None
    if existing is not None:
        target = evolve_schema(existing, df.schema)
        df = reconcile_to_schema(df, target)
    writer = df
    if partition_cols:
        writer = df.repartition(*[F.col(c) for c in partition_cols])
    (
        writer.write.mode("append")
        .option("maxRecordsPerFile", DEFAULT_MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return df


def materialize_views(
    catalog: ViewCatalog,
    spark: SparkSession,
    base_path: str,
    partition_cols: dict[str, Sequence[str]] | None = None,
) -> list[str]:
    """Write every view in the catalog to `{base_path}/{dataset__view}/` in
    dependency order (views later in the DAG read the temp views of earlier
    ones, exactly like bq_create_view's cross-dataset deploy)."""
    partition_cols = partition_cols or {}
    order = catalog.materialize(spark)
    for name in order:
        df = catalog.query(spark, name)
        write_partitioned(
            df,
            f"{base_path}/{name.replace('.', '__')}",
            partition_cols.get(name, ()),
        )
    return order


def refresh_partitions(
    spark: SparkSession,
    view_df: DataFrame,
    path: str,
    partition_col: str,
    partitions: Sequence,
) -> int:
    """Incremental materialized-view refresh: recompute ONLY the named
    partitions of a partition-aligned aggregate and splice them into the
    materialized output via dynamic partition overwrite.

    The reference refreshes its daily website/statistics rollups by
    re-running scheduled queries over recent partitions (BigQuery partition
    decorators); this is the same contract: late data for day X triggers
    `refresh_partitions(spark, rollup_df, path, "day", [X])` — a scan
    pruned to X (the filter lands in PartitionFilters when the source is
    partitioned the same way) and a write that replaces only X's directory.
    Cost is O(changed partitions), not O(table).

    Requires the aggregate to be partition-aligned: every output row's
    partition value is a function of the input rows in that same partition
    (true for all date-keyed rollups here). Returns the number of rows
    written.
    """
    subset = view_df.filter(F.col(partition_col).isin(list(partitions)))
    write_partitioned(subset, path, [partition_col], mode="overwrite")
    return subset.count()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed + sorted table write (saveAsTable — bucketing needs catalog
    metadata, not just files).

    The co-located-join primitive: two tables bucketed on the same key with
    the same bucket count join with ZERO exchanges — each task reads matching
    bucket files from both sides. At 100 TB this converts every recurring
    fact-to-fact join on the bucket key (orders ⋈ lineitem on orderkey) from
    a full 2-sided shuffle into a local merge per bucket. sortBy within
    buckets additionally removes the sort from sort-merge joins.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols is None:
        sort_cols = bucket_cols
    writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bigquery_writer(df: DataFrame, table: str, write_method: str = "indirect"):
    """Writer configured for the public spark-bigquery connector.

    Usage on a cluster with the connector jar
    (`com.google.cloud.spark:spark-bigquery-with-dependencies`):

        bigquery_writer(df, "dataset.table").save()

    In this container the jar is absent, so the configured writer is returned
    for inspection but `.save()` would fail — callers should treat
    `bigquery_available(spark)` as the gate.
    """
    return (
        df.write.format("bigquery")
        .option("table", table)
        .option("writeMethod", write_method)
        .mode("overwrite")
    )


def bigquery_available(spark: SparkSession) -> bool:
    """True when the spark-bigquery connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "com.google.cloud.spark.bigquery.BigQueryRelationProvider"
        )
        return True
    except Exception:
        return False


Z_BITS = 16  # per-dimension resolution of the z-order curve


def zorder_key(cols: Sequence, bits: int = Z_BITS):
    """Interleave the bits of pre-normalized dimension columns into one
    Morton (z-order) key. Inputs must already be integers in [0, 2^bits);
    use `write_zordered` for the end-to-end normalize+cluster+write path.
    """
    z = F.lit(0).cast("bigint")
    n = len(cols)
    for i in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + (n - 1 - d)))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = Z_BITS,
    mode: str = "overwrite",
) -> None:
    """Cluster a table on a z-order (Morton) curve over `cols` and write
    parquet — the multi-dimensional layout trick (Delta OPTIMIZE ZORDER,
    Iceberg sort orders) that makes row-group min/max pruning effective on
    EVERY z-ordered column at once, where a plain sort only prunes its
    leading column. At 100 TB the scan savings on the second predicate
    column routinely dwarf the one-time clustering shuffle.

    Each dimension is rank-normalized (percent_rank) to [0, 2^bits) before
    interleaving, so skewed value distributions still spread evenly along
    the curve. Rank needs a global sort per dimension here; on a cluster
    swap in approxQuantile-derived bucket boundaries for the same effect
    with one pass and no global window (the curve only needs *monotone*
    per-dimension bucketing, not exact ranks).

    The write goes through repartitionByRange(z) + sortWithinPartitions(z):
    range partitioning gives disjoint z-ranges per file, so every file —
    and every row group inside it — covers a tight hyper-rectangle of the
    dimension space.
    """
    from pyspark.sql import Window

    top = F.lit((1 << bits) - 1)
    norm_cols = []
    work = df
    for c in cols:
        w = Window.orderBy(F.col(c))
        nc = f"_z_{c}"
        work = work.withColumn(nc, F.floor(F.percent_rank().over(w) * top).cast("bigint"))
        norm_cols.append(nc)
    work = work.withColumn("_z", zorder_key([F.col(c) for c in norm_cols], bits))
    (
        work.repartitionByRange(max(df.sparkSession.sparkContext.defaultParallelism, 8), "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *norm_cols)
        .write.mode(mode)
        .parquet(path)
    )
