"""Structured Streaming twins validated against their batch operators
(SURVEY §2D)."""

import os

from pyspark.sql import functions as F

from etl_schema_spark import streaming
from etl_schema_spark.operators import sessions
from etl_schema_spark.sources.catalog import load_table


def test_hourly_counts_stream_matches_batch(spark, sf_dir):
    out = streaming.run_available_now(
        streaming.hourly_counts_stream(spark, sf_dir), "t_hourly"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(r.hour, r.event_type): r.n for r in out.collect()}
    want = {(r.hour, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_session_window_stream_matches_batch(spark, sf_dir):
    out = streaming.run_available_now(
        streaming.session_window_stream(spark, sf_dir), "t_sessions"
    )
    batch = sessions.sessionized_events(spark, sf_dir)
    got = {(r.user_id, r.session_start): r.n_events for r in out.collect()}
    want = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    assert got == want


def test_ewma_anomaly_stream_counts_all_events(spark, sf_dir):
    out = streaming.run_available_now(
        streaming.ewma_anomaly_stream(spark, sf_dir), "t_ewma", mode="update"
    )
    rows = out.collect()
    total = load_table(spark, sf_dir, "events").count()
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert len(rows) == n_users
    assert sum(r.n_events for r in rows) == total
    assert all(r.n_anomalies >= 0 for r in rows)


def test_ewma_state_recurrence_matches_reference_impl(spark, sf_dir):
    """The streamed EWMA must equal a straight per-user batch recurrence."""
    out = streaming.run_available_now(
        streaming.ewma_anomaly_stream(spark, sf_dir), "t_ewma2", mode="update"
    )
    got = {r.user_id: (r.ewma_value, r.n_anomalies) for r in out.collect()}

    from etl_schema_spark.streaming.stateful import ANOMALY_Z, EWMA_ALPHA

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .orderBy("user_id", "ts")
        .collect()
    )
    state: dict[int, tuple[float, float, int, int]] = {}
    for r in ev:
        mean, var, n, anom = state.get(r.user_id, (0.0, 0.0, 0, 0))
        if n > 0 and var > 0 and abs(r.value - mean) / (var**0.5) > ANOMALY_Z:
            anom += 1
        delta = r.value - mean
        mean = mean + EWMA_ALPHA * delta if n > 0 else float(r.value)
        var = (1 - EWMA_ALPHA) * (var + EWMA_ALPHA * delta * delta) if n > 0 else 0.0
        state[r.user_id] = (mean, var, n + 1, anom)
    for uid, (mean, _var, _n, anom) in state.items():
        g_mean, g_anom = got[uid]
        assert abs(g_mean - mean) < 1e-9, (uid, g_mean, mean)
        assert g_anom == anom, (uid, g_anom, anom)


def test_dedup_stream_drops_duplicates(spark, sf_dir):
    out = streaming.run_available_now(
        streaming.dedup_stream(spark, sf_dir), "t_dedup", mode="append"
    )
    n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert out.count() == n_distinct


def test_attribution_join_stream_matches_batch(spark, sf_dir):
    out = streaming.run_available_now(
        streaming.attribution_join_stream(spark, sf_dir), "t_attr", mode="append"
    )
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_window_rocksdb_state_store_matches(spark, sf_dir):
    """The RocksDB state store (the 24/7 deployment provider: disk-spilled
    per-key state, changelog checkpoints) must produce identical session
    windows to the default HDFS-backed provider."""
    from etl_schema_spark.session import STREAMING_STATE_CONF

    base = streaming.run_available_now(
        streaming.session_window_stream(spark, sf_dir), "t_sess_default"
    ).collect()
    originals = {k: spark.conf.get(k, None) for k in STREAMING_STATE_CONF}
    for k, v in STREAMING_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        rocks = streaming.run_available_now(
            streaming.session_window_stream(spark, sf_dir), "t_sess_rocks"
        ).collect()
    finally:
        for k, v in originals.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    key = lambda r: (r.user_id, r.session_start)  # noqa: E731
    assert {key(r): r.n_events for r in rocks} == {key(r): r.n_events for r in base}


def test_upsert_sink_exactly_once(spark, sf_dir, tmp_path):
    target = str(tmp_path / "hourly_target")
    out = streaming.upsert_hourly_sink(spark, sf_dir, target)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(r.hour, r.event_type): r.n for r in out.collect()}
    want = {(r.hour, r.event_type): r.n for r in batch.collect()}
    assert got == want

    # replaying the whole stream against the same target must be a no-op:
    # the checkpoint has the offsets, the ledger has the batch ids, and the
    # merge itself is idempotent — three independent layers
    again = streaming.upsert_hourly_sink(spark, sf_dir, target)
    got2 = {(r.hour, r.event_type): r.n for r in again.collect()}
    assert got2 == got


def test_merge_upsert_updates_and_preserves(spark, tmp_path):
    target = str(tmp_path / "merge_target")
    base = spark.createDataFrame(
        [("2024-01-01", "a", 1), ("2024-01-01", "b", 2), ("2024-01-02", "a", 3)],
        "date string, k string, n int",
    ).withColumn("date", F.to_date("date"))
    streaming.merge_upsert_batch(base, target, ["date", "k"])
    # update one key on one date; other keys and untouched dates survive
    upd = spark.createDataFrame(
        [("2024-01-01", "a", 10)], "date string, k string, n int"
    ).withColumn("date", F.to_date("date"))
    streaming.merge_upsert_batch(upd, target, ["date", "k"])
    got = {
        (str(r.date), r.k): r.n for r in spark.read.parquet(target).collect()
    }
    assert got == {
        ("2024-01-01", "a"): 10,
        ("2024-01-01", "b"): 2,
        ("2024-01-02", "a"): 3,
    }
    # replaying the same batch converges (no dup rows, same values)
    streaming.merge_upsert_batch(upd, target, ["date", "k"])
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 3


def test_merge_upsert_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic overwrite is the merge's write option: under a session left
    at static overwrite, a one-row batch keeps the partitions it does not
    touch, and the session still reads static afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    target = str(tmp_path / "merge_static")
    base = spark.createDataFrame(
        [("2024-01-01", "a", 1), ("2024-01-02", "a", 2)], "date string, k string, n int"
    ).withColumn("date", F.to_date("date"))
    base.write.partitionBy("date").parquet(target)
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        one = spark.createDataFrame([("2024-01-01", "a", 10)], "date string, k string, n int")
        streaming.merge_upsert_batch(one.withColumn("date", F.to_date("date")), target, ["date", "k"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    parts = sorted(p for p in os.listdir(target) if p.startswith("date="))
    assert parts == ["date=2024-01-01", "date=2024-01-02"]
    got = {(str(r.date), r.k): r.n for r in spark.read.parquet(target).collect()}
    assert got == {("2024-01-01", "a"): 10, ("2024-01-02", "a"): 2}


def test_hopping_window_stream_matches_batch(spark, sf_dir):
    """The streaming 3h/1h hopping window agrees with the batch
    sliding_window_stats counts on every complete window (streaming also
    emits leading partial windows whose start precedes the data; batch
    anchors windows at observed hours — compare on the intersection)."""
    from etl_schema_spark.operators import rollups

    out = streaming.run_available_now(
        streaming.hopping_window_stream(spark, sf_dir), "t_hopping"
    )
    batch = rollups.sliding_window_stats(spark, sf_dir)
    # batch rows are keyed by window-END hour H covering (H-2h .. H); the
    # streaming window [start, end) covering the same 3 hours ends at H+1h
    got = {
        (r.window_end, r.event_type): r.n_3h for r in out.collect()
    }
    compared = 0
    for r in batch.collect():
        key = (r.hour + __import__("datetime").timedelta(hours=1), r.event_type)
        if key in got:
            assert got[key] == r.n_3h, key
            compared += 1
    assert compared > 100


def test_streaming_ewma_flags_oracle(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        streaming.streaming_ewma_flags(spark, sf_dir),
        duck,
        streaming.streaming_ewma_flags_oracle(),
    )


def test_streaming_topk_keys_oracle(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        streaming.streaming_topk_keys(spark, sf_dir),
        duck,
        streaming.streaming_topk_keys_oracle(),
    )


def test_streaming_topk_ranks_dense(spark, sf_dir):
    """Every closed hour emits ranks 1..K (or fewer iff fewer active
    users), ordered by count desc."""
    from collections import defaultdict

    hours = defaultdict(list)
    for r in streaming.streaming_topk_keys(spark, sf_dir).collect():
        hours[r.hour].append((r.rank, r.n))
    for hour, rs in hours.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        ns = [x[1] for x in rs]
        assert ns == sorted(ns, reverse=True)


def test_quality_gated_sink_publishes_clean_batches(spark, sf_dir, tmp_path):
    """A batch satisfying its expectation suite publishes through the
    exactly-once merge; the drained table equals the batch rollup and a
    full replay is a no-op (checkpoint + ledger + idempotent merge)."""
    from etl_schema_spark.quality import Check

    target = str(tmp_path / "gated_ok")

    def contract(batch_df):
        return (
            Check("hourly")
            .not_null("hour", "event_type", "n")
            .satisfies("n_positive", F.col("n") >= 1)
        )

    stats = streaming.quality_gated_sink(spark, sf_dir, target, contract)
    assert stats["published"] >= 1 and stats["quarantined"] == 0
    got = {
        (r.hour, r.event_type): r.n
        for r in spark.read.parquet(target).collect()
    }
    want = {
        (r.hour, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= "2000-01-01") & (F.col("ts") < "2100-01-01")
        )
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    again = streaming.quality_gated_sink(spark, sf_dir, target, contract)
    assert again["published"] == 0 and again["quarantined"] == 0


def test_quality_gated_sink_quarantines_bad_batches(spark, sf_dir, tmp_path):
    """A batch violating its suite must be quarantined whole (with its
    violation report) and must NOT appear in the published table."""
    import glob
    import json
    import os

    from etl_schema_spark.quality import Check

    target = str(tmp_path / "gated_bad")
    # impossible expectation -> every batch quarantines
    def contract(batch_df):
        return Check("hourly").satisfies("never", F.lit(False))

    stats = streaming.quality_gated_sink(spark, sf_dir, target, contract)
    # the data batch quarantines; a trailing empty watermark-flush batch
    # may "publish" vacuously (zero rows pass any suite) — what matters
    # is that NO DATA reaches the published table
    assert stats["quarantined"] >= 1
    assert not glob.glob(os.path.join(target, "date=*")), "bad batch published"
    qdirs = glob.glob(os.path.join(target, "_quarantine", "batch=*"))
    assert qdirs, "no quarantine written"
    report = json.load(open(os.path.join(qdirs[0], "_report.json")))
    assert any(not r["passed"] for r in report)
    # quarantined rows are intact (re-processable)
    n_q = spark.read.parquet(qdirs[0]).count()
    assert n_q > 0


def test_drain_exactly_once_skips_redelivered_batch(spark, tmp_path):
    """The batch-id ledger, exercised on its own: a batch that ran but
    whose checkpoint commit never landed (deleting ``_chk/commits/0`` and
    its checksum mimics a crash between the two) is redelivered on restart, and the
    ledger marker must turn that redelivery into a no-op."""
    import json
    import os

    src, target = str(tmp_path / "src"), str(tmp_path / "sink")
    spark.range(20).selectExpr("id", "id % 3 AS k").coalesce(1).write.parquet(src)
    calls = {}

    def write(batch_df, batch_id):
        calls[batch_id] = calls.get(batch_id, 0) + 1
        batch_df.write.mode("overwrite").parquet(
            os.path.join(target, "out", f"batch={batch_id}")
        )
        return "written"

    def drain():
        stream = spark.readStream.schema("id long, k long").parquet(src)
        streaming.drain_exactly_once(stream, target, write)

    def output_bytes():
        out = os.path.join(target, "out")
        return {
            os.path.relpath(os.path.join(d, f), out): open(os.path.join(d, f), "rb").read()
            for d, _, files in os.walk(out)
            for f in files
        }

    drain()
    assert calls == {0: 1}
    first = output_bytes()
    assert first
    commit = os.path.join(target, "_chk", "commits", "0")
    os.remove(commit)
    os.remove(os.path.join(target, "_chk", "commits", ".0.crc"))

    drain()
    # Spark did redeliver batch 0 (it committed it again) ...
    assert os.path.exists(commit)
    # ... and the ledger skipped it: one run, untouched output
    assert calls == {0: 1}
    assert output_bytes() == first
    with open(os.path.join(target, "_batches", "0.done")) as f:
        assert json.load(f) == {"outcome": "written"}


def _state_partitions_seen(spark):
    """(listener, {query name: state-operator partition counts}) over every
    progress event posted while the listener is registered."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: dict[str, set[int]] = {}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.stateOperators:
                seen.setdefault(p.name, set()).update(
                    o.numShufflePartitions for o in p.stateOperators
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener(), seen


def _await(seen, *names, timeout=60):
    """Progress reaches the listener asynchronously: wait for ``names``."""
    import time

    deadline = time.time() + timeout
    while not set(names) <= set(seen) and time.time() < deadline:
        time.sleep(0.1)
    assert set(names) <= set(seen), seen


def _write_src(spark, path, lo, hi):
    """Append one parquet file of rows [lo, hi) with an incompressible pad,
    so the file's size grows with its row count."""
    spark.range(lo, hi).selectExpr(
        "id", "id % 50 AS k", "md5(CAST(id AS STRING)) AS pad"
    ).coalesce(1).write.mode("append").parquet(path)


def test_drain_state_partitions_follow_input_size(spark, tmp_path, monkeypatch):
    """A memory-sink drain (run_available_now) runs as many state
    partitions as its input bytes call for under the cpu_parallel rule,
    not the session's 32; the result
    equals the same drain at 32, and the session reads 32 afterwards —
    also when the query fails to start."""
    import os

    import pytest
    from pyspark.sql.streaming import DataStreamWriter

    from etl_schema_spark.sources.catalog import partitions_for_bytes
    from etl_schema_spark.streaming import jobs

    key = "spark.sql.shuffle.partitions"
    src = str(tmp_path / "src")
    _write_src(spark, src, 0, 6000)
    size = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    want = partitions_for_bytes(size, min(32, spark.sparkContext.defaultParallelism))
    assert want < 32

    def stream():
        return (
            spark.readStream.schema("id long, k long, pad string")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        )

    before = spark.conf.get(key)
    listener, seen = _state_partitions_seen(spark)
    spark.conf.set(key, "32")
    spark.streams.addListener(listener)
    try:
        sized = streaming.run_available_now(stream(), "t_sized").collect()
        with monkeypatch.context() as m:
            m.setattr(jobs, "_state_partitions", lambda df: None)
            fixed = streaming.run_available_now(stream(), "t_fixed").collect()
        _await(seen, "t_sized", "t_fixed")
        assert seen["t_sized"] == {want}
        assert seen["t_fixed"] == {32}
        assert sorted(sized) == sorted(fixed) and len(sized) == 50
        assert spark.conf.get(key) == "32"

        during = []

        def fail_start(self, *args, **kwargs):
            during.append(spark.conf.get(key))
            raise RuntimeError("start failed")

        with monkeypatch.context() as m:
            m.setattr(DataStreamWriter, "start", fail_start)
            with pytest.raises(RuntimeError, match="start failed"):
                streaming.run_available_now(stream(), "t_fail")
        assert during == [str(want)]
        assert spark.conf.get(key) == "32"
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, before)


def test_drain_exactly_once_resume_keeps_recorded_partitions(spark, tmp_path):
    """An exactly-once drain runs the session's shuffle partitions, not
    the input-sized count, and a resumed drain runs the count its
    checkpoint recorded, even after its input grew past the next size
    step and the session's count changed: Spark restores the count from
    the offset log, and the state store it reopens has that many
    partitions. Sizing this drain from its first input would freeze that
    width for the checkpoint's life."""
    import json
    import os

    import pytest

    from etl_schema_spark.streaming import jobs

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("a second size step needs defaultParallelism >= 2")
    key = "spark.sql.shuffle.partitions"
    src, target = str(tmp_path / "src"), str(tmp_path / "sink")
    _write_src(spark, src, 0, 500)

    def stream():
        return (
            spark.readStream.schema("id long, k long, pad string")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("part", F.col("k") % 2)
        )

    def merge(batch_df, batch_id):
        streaming.merge_upsert_batch(batch_df, target, ["k"], "part")
        return "merged"

    def recorded(batch_id):
        with open(os.path.join(target, "_chk", "offsets", str(batch_id))) as f:
            meta = json.loads(f.read().splitlines()[1])
        return int(meta["conf"][key])

    before = spark.conf.get(key)
    spark.conf.set(key, "6")
    try:
        first = jobs._state_partitions(stream())
        assert first is not None and first < 6
        streaming.drain_exactly_once(stream(), target, merge, "update")
        assert recorded(0) == 6
        ledger = os.path.join(target, "_batches")
        assert sorted(os.listdir(ledger)) == ["0.done"]

        _write_src(spark, src, 500, 6000)
        assert jobs._state_partitions(stream()) > first, "input did not grow a size step"
        spark.conf.set(key, "3")
        streaming.drain_exactly_once(stream(), target, merge, "update")
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, before)

    assert recorded(1) == 6
    state = os.path.join(target, "_chk", "state", "0")
    parts = sorted(int(d) for d in os.listdir(state) if d.isdigit())
    assert parts == list(range(6))
    assert sorted(os.listdir(ledger)) == ["0.done", "1.done"]
    got = {(r.k, r.n) for r in spark.read.parquet(target).collect()}
    want = {
        (r.k, r.n)
        for r in spark.read.parquet(src).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and len(got) == 50
