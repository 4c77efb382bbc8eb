import os
import sys

import pytest

# the checkout this suite belongs to, not whichever copy is installed
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_schema_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Test-session sizing (r14, VERDICT r13 item 1: the driver's pytest
    # run must finish inside its budget). sf0.001 inputs are KBs, so the
    # suite's cost is per-task scheduling + py4j latency, not data: a
    # 32-partition shuffle ceiling spends 8 task waves per stage on a
    # 4-core master for ~100-row frames. 8 partitions keeps every
    # multi-partition code path (range splits, offsets, AQE coalescing)
    # exercised at a quarter of the task count; tests that pin a specific
    # split pass num_partitions explicitly and are unaffected. Both knobs
    # stay env-overridable for A/B.
    s = get_spark(
        "tests",
        master=os.environ.get("ETL_TEST_MASTER", "local[4]"),
        extra_conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "ETL_TEST_SHUFFLE", "8"
            ),
            "spark.sql.adaptive.enabled": os.environ.get(
                "ETL_TEST_AQE", "true"
            ),
            "spark.ui.enabled": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts from this thread: it runs
    under a fresh job group, read back once the listener bus has
    delivered every job start to the status store."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def assert_matches_oracle(sdf, con, sql):
    """Order-insensitive compare of a Spark DF against a DuckDB query —
    the same contract as the driver's t2 gate."""
    import math
    from datetime import date, datetime

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, date):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    import pyarrow as pa

    def canon_type(t):
        # driver-hash equivalence classes: integer width and string flavor
        # don't matter; decimal128 (DuckDB HUGEINT) vs int64 does
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_timestamp(t):
            return "timestamp"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_integer(t):
            return "int"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"list<{canon_type(t.value_type)}>"
        return str(t)

    scols = sdf.columns
    stypes = {f.name: canon_type(f.type) for f in sdf.toArrow().schema}
    srows = [tuple(r) for r in sdf.collect()]
    otbl = con.execute(sql).arrow()
    otypes = {f.name: canon_type(f.type) for f in otbl.schema}
    ocols = list(otbl.schema.names)
    orows = con.execute(sql).fetchall()
    assert sorted(scols) == sorted(ocols), f"columns {sorted(scols)} != {sorted(ocols)}"
    tdiff = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
    assert not tdiff, f"arrow type mismatch (spark, oracle): {tdiff}"
    assert len(srows) == len(orows), f"rowcount {len(srows)} != {len(orows)}"

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted("|".join(norm(r[i]) for i in order) for r in rows)

    a, b = canon(srows, scols), canon(orows, ocols)
    assert a == b, f"value mismatch, first diff: {next((x, y) for x, y in zip(a, b) if x != y)}"
