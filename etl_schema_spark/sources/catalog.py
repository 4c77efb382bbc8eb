"""Parquet source catalog.

Parity: the reference's raw datasets (`views/ndt_raw/*.sql`,
`views/statistics/v0_cities.sql` wildcard tables) are plain scans over
partitioned storage; here each testdata table is one parquet file per scale
factor. At cluster scale these would be date-partitioned directories —
`load_table` takes any path Spark's parquet source accepts, so partition
pruning (`WHERE date ...` → `PartitionFilters`) comes for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cachereg import input_fingerprint

# Columns that may arrive as parquet TIMESTAMP(NANOS), which Spark's
# vectorized reader rejects unless nanos are surfaced as raw INT64. We read
# them as longs and rebuild micro-precision timestamps (truncation, matching
# DuckDB's ns→us cast), keeping the scan vectorized. Testdata generated with
# TIMESTAMP(MICROS) instead skips this branch and hits the generic
# NTZ-normalization below.
_NANO_TS_COLUMNS = {"events": ("ts",)}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# The input-sized partition target (cpu_parallel's fan-out, a memory-sink
# drain's state partitions): input bytes of parquet per partition.
CPU_PARALLEL_TARGET_BYTES = 64 * 1024


def partitions_for_bytes(total: int, cap: int) -> int:
    """One partition per CPU_PARALLEL_TARGET_BYTES of input, at least 1
    and at most ``cap``."""
    return min(cap, max(1, -(-total // CPU_PARALLEL_TARGET_BYTES)))


def _set_reader_confs(spark: SparkSession) -> None:
    """Runtime confs the scans rely on, set defensively so load_table works
    in sessions not built by session.get_spark (e.g. a driver harness).

    - nanosAsLong: TIMESTAMP(NANOS) columns surface as raw INT64, keeping the
      vectorized reader on (it rejects nanos otherwise).
    - inferTimestampNTZ off: unannotated TIMESTAMP(MICROS) columns surface as
      TIMESTAMP_LTZ at the scan. The session timezone is pinned UTC
      (session.py) and DuckDB reads the same bytes as a naive timestamp, so
      this is value-identical to NTZ + cast — but the cast disappears from
      every downstream plan (it cost 1.8-3.4x on the events path at sf0.1).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def normalize_nanos(df: DataFrame, name: str) -> DataFrame:
    """Rebuild micro-precision timestamps from nanos-era INT64 columns.
    Shared by the batch and streaming readers so the two paths cannot
    diverge on testdata vintage."""
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integral `div` keeps full int64 precision (float division would
            # round above 2^53) and truncates like DuckDB's ns→us cast
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


# path -> (session, input_fingerprint, the StructType Spark inferred there)
_SCHEMAS: dict[str, tuple] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    unchanged file. Inference is a one-task Spark job reading the footer;
    the inferred StructType is remembered per path with the path's
    ``cachereg.input_fingerprint``, and while the session and the
    fingerprint match the read declares it instead, so no job runs. A
    rewrite at the same path changes the fingerprint and infers again.
    The reader confs are set before every read, so a declared schema was
    always inferred under the confs the read runs with."""
    _set_reader_confs(spark)
    fp = input_fingerprint(path)  # before the read: a racing rewrite re-infers
    sess, seen, schema = _SCHEMAS.get(path, (None, None, None))
    if sess is spark and seen == fp:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (spark, fp, df.schema)
    return df


def physical_schema(spark: SparkSession, sf_dir: str, name: str):
    """The parquet schema a readStream must declare to read the same bytes
    the batch path reads: the schema ``load_table`` reads with, inferred
    by a one-task footer job the first time a file is read and remembered
    until the file changes."""
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown are preserved by
    returning the raw scan (no .cache, no collect)."""
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_nanos(df, name)


def cpu_parallel(df: DataFrame) -> DataFrame:
    """Re-establish parallelism for CPU-bound derivations over small scans.

    A parquet file is splittable only at row-group boundaries; a
    single-row-group file scans as ONE task, serializing any expensive
    per-row derivation (shingling, hashing, explode) on one core no matter
    the cluster size. When the scan has fewer partitions than the default
    parallelism, repartition up — the shuffle moves only the projected
    columns and unlocks full-width execution. At production scale inputs
    arrive with thousands of splits and this is a no-op (the gate avoids a
    pointless shuffle).

    Master gate: the partition-count probe builds the DataFrame→RDD
    lineage eagerly, which is worth paying only on single-file local
    scans, so it runs on local[...] masters only and cluster plans never
    touch ``df.rdd``. It is also skipped when the byte target below is 1
    partition: a scan of non-empty files has at least one, so that target
    cannot repartition.

    Fan-out sizing (r14, guide §2.2/§2.5 scale-adaptive partitioning): the
    target is no longer a flat ``defaultParallelism`` — on a tiny input
    that pays the keyless repartition's local sort + one task wave per
    core for nothing (measured: the fan-out alone cost +0.18 s at 32
    cores vs +0.04 s at 8 on a 600 KB scan, and the Arrow-codec
    consumers ran SLOWER at 32 cores than at 8). The partition count is
    derived from the scan's input bytes (CPU_PARALLEL_TARGET_BYTES of
    parquet per partition) and capped at defaultParallelism, so
    production-sized inputs still fan out to every core while KB-scale
    local scans keep a handful of tasks.
    """
    sess = df.sparkSession
    if not sess.conf.get("spark.master", "").startswith("local"):
        return df
    n = sess.sparkContext.defaultParallelism
    total = 0
    try:
        total = sum(
            os.path.getsize(p[len("file:"):] if p.startswith("file:") else p)
            for p in df.inputFiles()
        )
    except Exception:
        pass  # unknown input size: keep the defaultParallelism target
    if total:
        n = partitions_for_bytes(total, n)
        if n == 1:
            return df  # non-empty files scan as at least one partition
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# Primary keys, as the generator and every uniqueness-assuming tie-break
# define them (fuzz wave 9 enumerated the assumption; TESTDATA.md is the
# source of truth for the key columns).
PRIMARY_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    # TPC-H proper declares (l_orderkey, l_linenumber), but THIS corpus's
    # generator draws l_linenumber randomly: 1401 duplicate pairs at
    # sf0.001 and no column combination is unique (found by the quality
    # suite's PK contract, r8). lineitem is therefore a fact table
    # WITHOUT row identity here — no PK entry, and load_table_unique
    # refuses it rather than deduping on a fictitious key.
    "lineitem": None,
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def load_table_unique(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """OPT-IN exactly-once restore over at-least-once ingestion.

    Fuzz wave 9 enumerated the contract: every operator assumes
    primary-key uniqueness (an exact replay is harmless to deterministic
    queries, but a CONFLICTING replay — same key, different payload —
    turns uniqueness-assuming tie-breaks nondeterministic). This loader
    is the front door for restoring that precondition at the ingest
    boundary: one row per primary key, the winner chosen
    DETERMINISTICALLY as the row_number()==1 row under the remaining
    columns' ascending NULLS-LAST ordering — any engine, any run, any
    partitioning picks the same row.

    Deliberately NOT the default ``load_table`` path: it costs one
    key-shuffle per table at 100 TB, which is exactly why it stays
    opt-in (SURVEY §7 wave-9 record). Swapping it in flags every
    consumer helper-stale, so adopting it fleet-wide must ride a
    rotation window like the r7 ``_vdec`` contract.
    """
    return restore_unique(load_table(spark, sf_dir, name), name)


def restore_unique(df: DataFrame, name: str) -> DataFrame:
    """The exactly-once restore of :func:`load_table_unique` over any frame
    carrying table ``name``'s columns (a streaming micro-batch, say): one
    row per primary key, the row_number()==1 row under the remaining
    columns' ascending NULLS-LAST order."""
    from pyspark.sql.window import Window

    if PRIMARY_KEYS.get(name) is None:
        raise ValueError(
            f"{name} has no primary key in this corpus — an exactly-once "
            "restore needs a row identity; dedupe such facts by full-row "
            "content (dropDuplicates()) as an explicit policy instead"
        )
    pk = list(PRIMARY_KEYS[name])
    # Tie-break order comes from the SCHEMA REGISTRY, not df.columns: the
    # oracle twin (unique_scan_sql) orders by registry field order, and if
    # the physical column order ever drifts from it (schema evolution,
    # rewritten files, a micro-batch's projection) the two sides would pick
    # different conflicting-replay winners (ADVICE r8). One source of truth
    # for both.
    rest = _unique_tiebreak_cols(name, df.columns)
    order = [F.col(c).asc_nulls_last() for c in rest] or [F.lit(1)]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("_pk_rn", F.row_number().over(w))
        .filter(F.col("_pk_rn") == 1)
        .drop("_pk_rn")
    )


def _unique_tiebreak_cols(name: str, present: list[str] | None = None) -> list[str]:
    """The non-PK columns of ``name`` in SCHEMA-REGISTRY field order — the
    single source of truth for the exactly-once restore's deterministic
    tie-break, shared by restore_unique and unique_scan_sql so a
    physical-column-order drift can never make the two sides pick
    different conflicting-replay winners (ADVICE r8). ``present`` (the
    scan's actual columns) drops registry fields a given file vintage
    does not carry."""
    from ..schemas.registry import table_schema

    pk = set(PRIMARY_KEYS[name] or ())
    cols = [f.name for f in table_schema(name).fields if f.name not in pk]
    if present is not None:
        have = set(present)
        cols = [c for c in cols if c in have]
    return cols


def unique_scan_sql(name: str) -> str:
    """DuckDB twin of :func:`load_table_unique`: the table restricted to
    one row per primary key, winner = first row under the remaining
    columns' ascending NULLS-LAST order (explicit NULLS LAST matches
    Spark's asc_nulls_last; both engines compare strings as UTF-8 bytes,
    so the pick is engine-portable). Splice into an oracle wherever the
    Spark side consumes the exactly-once restore."""
    if PRIMARY_KEYS.get(name) is None:
        raise ValueError(f"{name} has no primary key in this corpus")
    pk = PRIMARY_KEYS[name]
    rest = _unique_tiebreak_cols(name)
    order = ", ".join(f"{c} ASC NULLS LAST" for c in rest) or "1"
    part = ", ".join(pk)
    return (
        f"(SELECT * FROM {name} QUALIFY ROW_NUMBER() OVER "
        f"(PARTITION BY {part} ORDER BY {order}) = 1)"
    )


def wildcard_scan(spark: SparkSession, pattern: str, name: str) -> DataFrame:
    """Glob scan unioned by the source, schema-merged, over files holding
    table ``name`` (its nanos-era columns are normalized like load_table's).

    Parity: views/statistics/v0_cities.sql (`FROM `...cities_2*``) — BigQuery
    wildcard tables. Spark's parquet source accepts globs natively and merges
    row groups across files; `mergeSchema` tolerates additive drift between
    yearly snapshots (same reason the reference versions its statistics
    tables by year).
    """
    _set_reader_confs(spark)
    df = spark.read.option("mergeSchema", "true").parquet(pattern)
    return normalize_nanos(df, name)
