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


def _scanned_files(df: DataFrame) -> list[str]:
    """The files ``df``'s file scans list, from its analyzed plan.
    ``DataFrame.inputFiles`` reads the cache-substituted plan, where a read
    the CacheManager already holds shows no files at all."""
    files, leaves = [], df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files += list(rel.inputFiles())
    return files


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a PERMISSIVE read into (clean, quarantine) frames — the
    load path keeps flowing while bad lines are preserved for replay."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    # Spark refuses plans over a raw json scan that reference only
    # _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the documented
    # remedy is materializing the parse first. Pinning also means each
    # archive line is parsed once, not once per output branch — load batches
    # are bounded (one partition/day of archive per job), so the pin holds a
    # batch. One pin per read: the key is the plan's semantic hash (root
    # paths, format, options), which a same-path rewrite keeps, and the pin
    # is reused while the input files and read schema match. A warm re-split
    # reads the cached parse, a rewrite parses again, and release_pins()
    # drops it (a held quarantine frame then fails with the error above).
    from ..operators.cachereg import swap_pin

    key, files = f"sources.split_corrupt.{df.semanticHash()}", _scanned_files(df)
    if files and all(f.startswith("file:") for f in files):
        schema = df.schema.json()
        parse = swap_pin(key, lambda: df, spark=df.sparkSession, params=(schema,), inputs=tuple(files))
    else:  # no file scan seen, or a remote one os.stat cannot see: parse afresh
        parse = swap_pin(key, df)
    clean = parse.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = parse.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write JSONL (one JSON object per line), the reference's interchange
    format. Compression left to the caller's spark conf."""
    df.write.mode("overwrite").json(path)
