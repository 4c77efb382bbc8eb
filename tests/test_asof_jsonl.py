"""As-of join (union+window single-shuffle) and schema-enforced JSONL source."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_schema_spark.operators import asof
from etl_schema_spark.sources import jsonl
from etl_schema_spark.sources.catalog import load_table

from .conftest import assert_matches_oracle


def test_asof_attribution_matches_duckdb_asof_join(spark, sf_dir, duck):
    assert_matches_oracle(
        asof.asof_attribution(spark, sf_dir), duck, asof.asof_attribution_oracle()
    )


def test_asof_left_semantics(spark, sf_dir):
    rows = asof.asof_attribution(spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(rows) == n_purchases  # LEFT: every purchase survives
    assert all(r["gap_seconds"] is None or r["gap_seconds"] >= 0 for r in rows)


def test_asof_join_no_pair_explosion(spark, sf_dir):
    plan = (
        asof.asof_attribution(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the scale contract: window over a union, never a range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_asof_join_generic_tie_and_null(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 5, "l0"), (2, 7, "l2")], "k int, ts int, name string"
    )
    right = spark.createDataFrame(
        [(1, 10, "r_tie"), (1, 6, "r_mid"), (3, 1, "r_other")], "k int, ts int, rname string"
    )
    out = {
        r["name"]: r["r_ts"]
        for r in asof.asof_join(left, right, on="k", payload="r_ts").collect()
    }
    assert out["l1"] == 10  # at-or-before: tie row counts
    assert out["l0"] is None  # no right row at/before ts=5
    assert out["l2"] is None  # key 2 has no right rows at all


@pytest.fixture()
def jsonl_dir(tmp_path):
    return str(tmp_path / "events_jsonl")


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_jsonl_roundtrip(spark, sf_dir, jsonl_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(200)
    )
    jsonl.write_jsonl(ev, jsonl_dir)
    back = jsonl.read_jsonl(spark, jsonl_dir, EVENT_SCHEMA)
    clean, bad = jsonl.split_corrupt(back)
    assert bad.count() == 0
    assert sorted(clean.columns) == sorted(ev.columns)
    assert clean.count() == 200
    a = {r["event_id"]: (r["event_type"], r["value"]) for r in clean.collect()}
    b = {r["event_id"]: (r["event_type"], r["value"]) for r in ev.collect()}
    assert a == b


def test_jsonl_quarantines_corrupt_lines(spark, sf_dir, jsonl_dir, tmp_path):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(10)
    )
    jsonl.write_jsonl(ev, jsonl_dir)
    extra = tmp_path / "events_jsonl" / "part-corrupt.json"
    extra.write_text('{"event_id": 1, "user_id": 2,\nnot json at all\n')
    back = jsonl.read_jsonl(spark, jsonl_dir, EVENT_SCHEMA)
    clean, bad = jsonl.split_corrupt(back)
    assert clean.count() == 10
    assert bad.count() == 2  # truncated object + garbage line both quarantined


def test_split_corrupt_parse_pin_follows_rewrite(spark, tmp_path):
    """The quarantine's parse is a session pin: a re-split of an unchanged
    file reads it, a rewrite of the same path parses again (a path-matched
    cache served the old 2/1 counts), and release_pins() leaves no cached
    plan for the read."""
    from etl_schema_spark.operators.cachereg import release_pins

    path = tmp_path / "batch.jsonl"

    def write(n_good, n_bad):
        good = [
            f'{{"event_id": {i}, "user_id": 1, "event_type": "view", "value": 1.0}}'
            for i in range(n_good)
        ]
        path.write_text("\n".join(good + ["not json"] * n_bad) + "\n")

    def read():
        return jsonl.read_jsonl(spark, str(path), EVENT_SCHEMA)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    try:
        write(2, 1)
        clean, bad = jsonl.split_corrupt(read())
        assert (clean.count(), bad.count()) == (2, 1)
        clean, bad = jsonl.split_corrupt(read())
        assert "InMemoryTableScan" in plan(clean)
        write(4, 2)
        clean, bad = jsonl.split_corrupt(read())
        assert (clean.count(), bad.count()) == (4, 2)
        release_pins()
        assert "InMemoryTableScan" not in plan(read())
    finally:
        release_pins()


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    from etl_schema_spark.sources import csv as csv_src

    csv_dir = str(tmp_path / "events_csv")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(200)
    )
    csv_src.write_csv(ev, csv_dir)
    back = csv_src.read_csv(spark, csv_dir, EVENT_SCHEMA)
    clean, bad = csv_src.split_corrupt(back)
    assert bad.count() == 0
    assert clean.count() == 200
    a = {r["event_id"]: (r["event_type"], r["value"]) for r in clean.collect()}
    b = {r["event_id"]: (r["event_type"], r["value"]) for r in ev.collect()}
    assert a == b


def test_csv_quarantines_malformed_rows(spark, sf_dir, tmp_path):
    from etl_schema_spark.sources import csv as csv_src

    csv_dir = str(tmp_path / "events_csv")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(10)
    )
    csv_src.write_csv(ev, csv_dir)
    extra = tmp_path / "events_csv" / "part-corrupt.csv"
    extra.write_text("event_id,user_id,event_type,value\nnot_a_long,2,click,1.5\n")
    back = csv_src.read_csv(spark, csv_dir, EVENT_SCHEMA)
    clean, bad = csv_src.split_corrupt(back)
    assert clean.count() == 10
    assert bad.count() == 1  # the type-mismatched row quarantined


def test_asof_nearest_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        asof.asof_nearest(spark, sf_dir), duck, asof.asof_nearest_oracle()
    )


def test_asof_nearest_beats_backward(spark, sf_dir):
    """Nearest gap is never worse than the backward-only gap, directions
    are consistent with the sign, and a backward tie prefers backward."""
    back = {
        r.event_id: r.gap_seconds
        for r in asof.asof_attribution(spark, sf_dir).collect()
    }
    for r in asof.asof_nearest(spark, sf_dir).collect():
        b = back.get(r.event_id)
        if r.gap_micros is None:
            assert b is None
            assert r.direction is None
            continue
        if r.direction == "backward":
            assert r.gap_micros >= 0
        else:
            assert r.direction == "forward"
            assert r.gap_micros < 0
        if b is not None:
            assert abs(r.gap_micros) <= b * 1_000_000 + 1_000_000
