"""Round-11 pins: the VERDICT r10 punch-list devices.

- swap_pin's reuse form folds an input fingerprint into the pin's
  identity, so a same-path corpus rewrite rebuilds instead of serving
  stale data
- rare_shared_pairs (the shared containment/template candidate
  generator) matches the one-phase pair count exactly
- running_totals / scd2_history stay deterministic under a planted
  CONFLICTING PK replay (the full-row NULLS-LAST secondary order)
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_matches_oracle

SF = "/root/testdata/sf0.001"


def test_swap_pin_reuse_rebuilds_on_same_path_rewrite(spark, tmp_path):
    """VERDICT r10 item 4: rewriting the bytes under a memoized path must
    invalidate the pin — a (path, params) identity alone is a stale-data
    footgun for notebook/in-place-re-ingest sessions."""
    from etl_schema_spark.operators import cachereg

    data = tmp_path / "t.parquet"
    spark.range(5).write.mode("overwrite").parquet(str(data))
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(str(data))

    key = "test_round11.reuse"
    reuse = dict(spark=spark, params=("p",), inputs=(str(data),))
    try:
        a = cachereg.swap_pin(key, build, **reuse)
        b = cachereg.swap_pin(key, build, **reuse)
        assert a is b and len(calls) == 1  # identical inputs: reuse hit
        spark.range(9).write.mode("overwrite").parquet(str(data))
        c = cachereg.swap_pin(key, build, **reuse)
        assert len(calls) == 2  # rewrite at the SAME path: rebuilt
        assert c.count() == 9
    finally:
        cachereg.release_pins(key)


def test_verified_pairs_pin_follows_corpus_rewrite(spark, tmp_path):
    """End-to-end form: the dup-graph family's shared pair pin must track
    a documents.parquet rewritten in place."""
    from etl_schema_spark.operators import cachereg, dedup

    def write_docs(texts):
        rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    try:
        write_docs([base, base + " extra", "totally different words here now ok"])
        first = {
            (r.doc_a, r.doc_b)
            for r in dedup.verified_pairs_pinned(spark, str(tmp_path)).collect()
        }
        assert first == {(0, 1)}
        # in-place rewrite: the near-dup pair moves to docs 1-2
        write_docs(["unrelated text one two three four five six", base, base + " tail"])
        second = {
            (r.doc_a, r.doc_b)
            for r in dedup.verified_pairs_pinned(spark, str(tmp_path)).collect()
        }
        assert second == {(1, 2)}
    finally:
        cachereg.release_pins("dedup_ngram_jaccard.pairs")


def test_rare_shared_pairs_matches_one_phase_count(spark):
    """The two-phase hashed multiplicity count must be byte-identical to
    the direct (doc_a, doc_b) count it replaced."""
    from etl_schema_spark.operators import cachereg
    from etl_schema_spark.operators.dedup import rare_shared_pairs

    rows = []
    # shingle buckets engineered so some pairs share 1, 2, and 3 shingles
    for sh, docs in [
        ("s1", [1, 2, 3]),
        ("s2", [1, 2]),
        ("s3", [2, 3]),
        ("s4", [2, 3]),
        ("s5", [4, 5]),
        ("hot", list(range(30))),  # above df_cap: must drop entirely
    ]:
        rows += [(d, sh) for d in docs]
    posting = spark.createDataFrame(rows, "doc_id long, shingle string")
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in rare_shared_pairs(posting, 20, 2, "test_round11.rsp").collect()
        }
    finally:
        cachereg.release_pins("test_round11.rsp.buckets")
    # (1,2): s1+s2 = 2 shared; (2,3): s1+s3+s4 = 3; (1,3): s1 only; (4,5): s5 only
    assert got == {(1, 2), (2, 3)}


def _replayed_events_corpus(spark, tmp_path):
    """A tiny events table with an exact replay AND a conflicting replay
    (same PK+ts, different value) — the wave-9 plant shape."""
    rows = [
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, '{"a":1}'),
        (2, "2024-01-01 00:00:05", 10, "click", 2.0, '{"a":2}'),
        (3, "2024-01-01 00:00:09", 11, "view", 3.0, None),
        (2, "2024-01-01 00:00:05", 10, "click", 9.0, '{"a":2}'),  # conflict
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, '{"a":1}'),  # exact
    ]
    import duckdb

    con = duckdb.connect()
    # a single parquet FILE (not a Spark part-dir): the streaming source's
    # pathGlobFilter matches `events.parquet` as a file name
    values = ", ".join(
        "(%d, TIMESTAMP '%s', %d, '%s', %r, %s)"
        % (e, ts, u, t, v, "NULL" if p is None else f"'{p}'")
        for e, ts, u, t, v, p in rows
    )
    con.execute(
        "COPY (SELECT CAST(event_id AS BIGINT) AS event_id, ts,"
        " CAST(user_id AS BIGINT) AS user_id, event_type,"
        " CAST(value AS DOUBLE) AS value, props"
        f" FROM (VALUES {values})"
        " v(event_id, ts, user_id, event_type, value, props))"
        f" TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{tmp_path}/events.parquet')"
    )
    return con


def test_running_totals_deterministic_under_conflicting_replay(spark, tmp_path):
    """VERDICT r10 item 6: the full-row NULLS-LAST secondary order makes
    the cumulative sequence engine-identical even when the PK-unique
    precondition is violated."""
    from etl_schema_spark.operators import sessions

    con = _replayed_events_corpus(spark, tmp_path)
    sdf = sessions.running_totals(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, sessions.running_totals_oracle())
    # the conflicting pair (event_id=2) must accumulate smaller-value-first
    cums = sorted(
        r.cum_value for r in sdf.filter(F.col("event_id") == 2).collect()
    )
    assert cums == [4.0, 13.0]  # 2.0 after the replayed 1.0x2, then +9.0


def test_scd2_history_deterministic_under_conflicting_replay(spark, tmp_path):
    from etl_schema_spark.operators import analytics

    con = _replayed_events_corpus(spark, tmp_path)
    sdf = analytics.scd2_history(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, analytics.scd2_history_oracle())


def test_pack_fill_audit_parity_and_invariants(spark, duck):
    from etl_schema_spark.operators import packing

    sdf = packing.pack_fill_audit(spark, SF)
    assert_matches_oracle(sdf, duck, packing.pack_fill_audit_oracle())
    for r in sdf.collect():
        assert r.closed_bins == r.n_bins - 1  # exactly one open tail bin
        assert r.full_bins >= r.straddled_bins
        assert 0 <= r.waste_tokens <= r.closed_bins * packing.PACK_BUDGET
        assert r.avg_fill > 0
        if r.waste_frac is not None:
            assert 0.0 <= r.waste_frac < 1.0


def test_quality_rule_drift_parity_and_shape(spark, duck):
    from etl_schema_spark.operators import drift

    sdf = drift.quality_rule_drift(spark, SF)
    assert_matches_oracle(sdf, duck, drift.quality_rule_drift_oracle())
    rows = sdf.collect()
    # every (source, rule) pair present; single-vintage corpus => psi ~ 0
    rules = {r.rule for r in rows}
    assert rules == set(drift.QRD_RULES)
    for r in rows:
        assert r.n_buckets in (1, 2)
        assert r.psi < drift.PSI_DRIFT_LINE and not r.drifted


def test_streaming_incremental_dedup_matches_batch_twin(spark, duck):
    from etl_schema_spark.operators import dedup
    from etl_schema_spark.streaming import jobs

    sdf = jobs.streaming_incremental_dedup(spark, SF)
    assert_matches_oracle(sdf, duck, jobs.streaming_incremental_dedup_oracle())
    batch = {
        r.doc_id: (r.is_duplicate, r.dup_of)
        for r in dedup.incremental_dedup(spark, SF).collect()
    }
    stream = {
        r.doc_id: (r.is_duplicate, r.dup_of) for r in sdf.collect()
    }
    assert stream == batch  # verdict-for-verdict equal to the batch twin


def test_streaming_ewma_flags_deterministic_under_conflicting_replay(spark, tmp_path):
    """The third flaky recurrence found by the r11 --wave9 battery: a
    conflicting replay ties (ts, event_id) with different values, so the
    EWMA path through the tie was order-dependent. `value` now rides the
    recurrence order on both engines."""
    from etl_schema_spark.streaming import jobs

    con = _replayed_events_corpus(spark, tmp_path)
    sdf = jobs.streaming_ewma_flags(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, jobs.streaming_ewma_flags_oracle())


def test_time_weighted_value_deterministic_under_conflicting_replay(spark, tmp_path):
    """Found by the proactive sweep of (ts, event_id)-ordered windows:
    which replay copy owns the hold interval to the next event was
    order-dependent. The smaller value must own it now (ASC order)."""
    from etl_schema_spark.operators import analytics

    con = _replayed_events_corpus(spark, tmp_path)
    sdf = analytics.time_weighted_value(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, analytics.time_weighted_value_oracle())
    rows = {r.user_id: r for r in sdf.collect()}
    # user 10: replayed 1.0 holds 0s then 5s; the trailing conflicting
    # pair (2.0, 9.0) holds 0s/NULL whichever order — so the value is
    # pinned exactly and any tie-order divergence would break parity
    assert rows[10].hold_seconds == 5
    assert abs(rows[10].tw_value - 1.0) < 2e-6


def test_session_oracle_two_pass_tie_guard(spark, tmp_path):
    """The r11 --wave9 battery caught the ORACLE flipping a session
    boundary run-to-run: DuckDB sorts the gaps-and-islands flag pass and
    the cumsum pass independently, so fully-tied replay copies can
    interleave differently between passes. With `new_session DESC` in
    the cumsum order the oracle is stable across runs and equals Spark
    (whose merged single-sort WindowExec was never affected)."""
    import duckdb

    from etl_schema_spark.operators import sessions

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, None),
        # 2h gap, then an EXACT replayed pair opening a new session: the
        # pair's (flag=1, flag=0) copies are indistinguishable to any
        # re-sort except by the flag itself
        (2, "2024-01-01 02:00:00", 10, "purchase", 2.0, None),
        (2, "2024-01-01 02:00:00", 10, "purchase", 2.0, None),
        (3, "2024-01-01 02:00:10", 10, "view", 3.0, None),
    ]
    values = ", ".join(
        "(%d, TIMESTAMP '%s', %d, '%s', %r, NULL)" % r[:5] for r in rows
    )
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT CAST(event_id AS BIGINT) AS event_id, ts,"
        " CAST(user_id AS BIGINT) AS user_id, event_type,"
        " CAST(value AS DOUBLE) AS value, CAST(props AS VARCHAR) AS props"
        f" FROM (VALUES {values})"
        " v(event_id, ts, user_id, event_type, value, props))"
        f" TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{tmp_path}/events.parquet')"
    )
    spark_rows = tuple(
        sorted(tuple(r) for r in sessions.session_top_paths(spark, str(tmp_path)).collect())
    )
    # sessions must be [click] [purchase>purchase>view] on every run
    assert ("purchase>purchase>view", 1, 2) in spark_rows
    for _ in range(15):
        oracle_rows = tuple(
            sorted(tuple(r) for r in con.execute(sessions.session_top_paths_oracle()).fetchall())
        )
        assert oracle_rows == spark_rows
