"""Schema-enforced JSONL (newline-delimited JSON) source.

Parity: the reference's measurement archives arrive as JSONL and load into
BigQuery under the schema/*.json definitions (schema/ndt.json; the loader
contract in schema/sync_tables_with_schema.sh). Spark's native json source
covers the same contract when driven with an explicit schema:

  - schema ON (never inferSchema at scale — inference is a full extra pass
    over 100 TB and can widen types differently per batch);
  - PERMISSIVE mode with a _corrupt_record column, so one malformed line
    quarantines instead of failing the load (BigQuery's max_bad_records);
  - the registry StructType (schemas/registry.py) is the single source of
    truth, shared with the parquet tables.

Scale: JSONL is line-splittable, so a 100 TB archive scans fully parallel;
parsing happens JVM-side (Jackson) inside the scan — no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read JSONL under an enforced schema; malformed lines land in
    CORRUPT_COL instead of aborting the job (mode='FAILFAST' to abort)."""
    read_schema = T.StructType(list(schema.fields))
    if mode == "PERMISSIVE" and CORRUPT_COL not in read_schema.fieldNames():
        read_schema = read_schema.add(T.StructField(CORRUPT_COL, T.StringType()))
    return (
        spark.read.schema(read_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a PERMISSIVE read into (clean, quarantine) frames — the
    load path keeps flowing while bad lines are preserved for replay."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    # Spark refuses plans over a raw json scan that reference only
    # _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the documented
    # remedy is materializing the parse first. Caching here also means each
    # archive line is parsed once, not once per output branch — load batches
    # are bounded (one partition/day of archive per job), not the whole
    # corpus, so the cache footprint is the batch. The cache entry belongs
    # to the parse frame, which is not returned, so callers cannot release
    # it: clean.unpersist() leaves the entry in Spark's CacheManager, and a
    # later split_corrupt(read_jsonl(...)) of the same path plans an
    # InMemoryRelation over it (an open ROADMAP item).
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write JSONL (one JSON object per line), the reference's interchange
    format. Compression left to the caller's spark conf."""
    df.write.mode("overwrite").json(path)
