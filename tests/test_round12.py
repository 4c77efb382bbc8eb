"""Round-12 pins: the VERDICT r11 punch-list devices.

- incremental_neardup / streaming_neardup: the band-index ingest gate,
  verdict-for-verdict equal between batch and streaming twins, novel
  docs preserved, dup_of always a corpus (non-arriving) doc
- streaming_rule_drift_gate: incremental cells PSI == the all-at-once
  doc-level PSI; a planted drifted slice quarantines the batch
- ann_graph_expand_eval: graph expansion dominates single-bucket IVF
  recall per query (the probe union is a superset of the IVF probe)
- the incremental_dedup two-join restructure keeps a broadcast-only
  plan (no sort-merge join — the silently-ignored broadcast right-outer
  hint class, ADVICE r11)
- grouped_running_sum's chunk exchange takes the session's shuffle
  parallelism
- streaming drains return lazy distributed reads; scratch dirs live
  until release_scratch()
"""

import os
import re

from pyspark.sql import functions as F

from tests.conftest import assert_matches_oracle

SF = "/root/testdata/sf0.001"


def test_incremental_neardup_parity_and_verdicts(spark, duck):
    from etl_schema_spark.operators import cachereg, dedup

    try:
        sdf = dedup.incremental_neardup(spark, SF)
        assert_matches_oracle(sdf, duck, dedup.incremental_neardup_oracle())
        rows = sdf.collect()
        assert rows, "arriving cohort must be non-empty at sf0.001"
        m = dedup.NEW_BATCH_MOD
        for r in rows:
            assert r.doc_id % m == m - 1  # verdicts only for the arriving slice
            assert (r.dup_of is not None) == r.is_near_dup
            if r.dup_of is not None:
                assert r.dup_of % m != m - 1  # witness lives in the corpus
                assert r.best_agree >= dedup.NEARDUP_AGREE_MIN
            assert 0 <= r.best_agree <= dedup.MINHASH_SEEDS
            assert r.n_candidates >= (1 if r.is_near_dup else 0)
    finally:
        cachereg.release_pins("neardup.band_index")


def test_streaming_neardup_matches_batch_twin(spark, duck):
    from etl_schema_spark.operators import cachereg, dedup
    from etl_schema_spark.streaming import jobs, scratch

    try:
        sdf = jobs.streaming_neardup(spark, SF)
        assert_matches_oracle(sdf, duck, jobs.streaming_neardup_oracle())
        stream = {r.doc_id: tuple(r)[1:] for r in sdf.collect()}
        batch = {
            r.doc_id: tuple(r)[1:]
            for r in dedup.incremental_neardup(spark, SF).collect()
        }
        assert stream == batch  # verdict-for-verdict equal to the batch twin
    finally:
        cachereg.release_pins("neardup.band_index")
        scratch.release_scratch()


def test_streaming_rule_drift_gate_calibration(spark, duck):
    """Single-vintage corpus: the lake and arriving slices are
    exchangeable, so the gate's report must show psi ~ 0 everywhere and
    publish the batch."""
    from etl_schema_spark.operators import cachereg, drift
    from etl_schema_spark.streaming import jobs, scratch

    try:
        sdf = jobs.streaming_rule_drift_gate(spark, SF)
        assert_matches_oracle(sdf, duck, jobs.streaming_rule_drift_gate_oracle())
        rows = sdf.collect()
        assert {r.rule for r in rows} == set(drift.QRD_RULES)
        for r in rows:
            assert not r.drifted and r.published
            assert r.psi < drift.PSI_DRIFT_LINE
    finally:
        cachereg.release_pins("drift_gate.baseline_cells")
        scratch.release_scratch()


def test_drift_gate_quarantines_planted_drift(spark, tmp_path):
    """Plant an arriving slice whose not_null_text pass-rate collapses:
    the per-(source, rule) PSI must cross the line and the batch must
    land in _quarantine, not published."""
    import duckdb

    from etl_schema_spark.operators import cachereg
    from etl_schema_spark.streaming import jobs

    rows = [
        (i, f"'text {i}'", "'en'", "'s0'", len(f"text {i}"))
        for i in range(0, 200)
        if i % 10 != 9
    ] + [(i, "NULL", "'en'", "'s0'", "NULL") for i in range(0, 200) if i % 10 == 9]
    values = ", ".join(f"({d}, {t}, {la}, {s}, {n})" for d, t, la, s, n in rows)
    # a single parquet FILE (not a Spark part-dir): the streaming source's
    # pathGlobFilter matches `documents.parquet` as a file name
    duckdb.connect().execute(
        "COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,"
        " CAST(n_chars AS BIGINT) AS n_chars"
        f" FROM (VALUES {values}) v(doc_id, text, lang, source, n_chars))"
        f" TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    target = str(tmp_path / "gate")
    try:
        jobs.drift_gated_sink(spark, str(tmp_path), target)
        report = spark.read.parquet(os.path.join(target, "report"))
        flags = {
            r.rule: r.drifted for r in report.filter(F.col("source") == "s0").collect()
        }
        assert flags["not_null_text"] is True
        assert report.filter(F.col("published")).count() == 0
        assert os.path.isdir(os.path.join(target, "_quarantine", "batch=0"))
        assert not os.path.isdir(os.path.join(target, "published"))
    finally:
        cachereg.release_pins("drift_gate.baseline_cells")


def test_graph_expand_recall_dominates_ivf(spark, duck):
    from etl_schema_spark.operators import similarity

    sdf = similarity.ann_graph_expand_eval(spark, SF)
    assert_matches_oracle(sdf, duck, similarity.ann_graph_expand_eval_oracle())
    rows = sdf.collect()
    assert rows
    for r in rows:
        # the probe union contains the IVF bucket, so per-query recall
        # can only improve
        assert r.graph_hits >= r.ivf_hits
        assert abs(r.graph_recall - r.graph_hits / r.k_truth) < 1e-6 + 1e-9


def test_graph_expand_probes_dominate_ivf_ranking(spark):
    """The expanded candidate set is a superset of the IVF bucket (the
    self-edge keeps the entry bucket probed), so per query the k-th best
    expanded cosine must be >= the k-th best IVF cosine, and any IVF
    neighbor missing from the expanded top-k was displaced by a >=
    cosine — never silently lost."""
    from etl_schema_spark.operators import similarity

    ivf = similarity.ann_ivf_topk(spark, SF).collect()
    gx = similarity.ann_graph_expand_topk(spark, SF).collect()
    worst_gx = {}
    for r in gx:
        worst_gx[r.query_id] = min(worst_gx.get(r.query_id, float("inf")), r.cosine)
    gx_pairs = {(r.query_id, r.neighbor_id) for r in gx}
    for r in ivf:
        if (r.query_id, r.neighbor_id) not in gx_pairs:
            assert worst_gx[r.query_id] >= r.cosine


def test_ingest_front_door_routes_all_tiers(spark, tmp_path):
    """Planted corpus exercising every verdict and the tier precedence:
    an arriving exact copy routes 'duplicate' even when it also fails a
    quality rule (dedup outranks quality), a near copy routes
    'near_dup', a rule violation routes 'quality_fail' with the first
    failing rule named, and a clean novel doc is 'admitted'."""
    import duckdb

    from etl_schema_spark.operators import cachereg, dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        # corpus (doc_id % 10 != 9)
        (1, f"'{base}'", "'en'", len(base)),
        (2, "'totally different corpus words entirely here now'", "'en'", 47),
        # arriving (doc_id % 10 == 9)
        (9, f"'{base}'", "'xx'", len(base)),  # exact copy + bad lang -> duplicate
        (19, f"'{base} tail words appended'", "'en'", len(base) + 21),  # near
        (29, "'novel but wrong lang content one two three'", "'xx'", 42),
        (39, "'clean novel content four five six seven eight nine'", "'en'", 50),
    ]
    values = ", ".join(f"({d}, {t}, {la}, {n})" for d, t, la, n in rows)
    duckdb.connect().execute(
        "COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,"
        " 'src' AS source, CAST(n_chars AS BIGINT) AS n_chars"
        f" FROM (VALUES {values}) v(doc_id, text, lang, n_chars))"
        f" TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    try:
        got = {
            r.doc_id: (r.verdict, r.witness, r.detail)
            for r in dedup.ingest_front_door(spark, str(tmp_path)).collect()
        }
    finally:
        cachereg.release_pins("neardup.band_index")
    assert got[9] == ("duplicate", 1, None)  # precedence over quality_fail
    assert got[19] == ("near_dup", 1, None)
    assert got[29] == ("quality_fail", None, "accepted_lang")
    assert got[39] == ("admitted", None, None)


def test_incremental_dedup_plan_is_broadcast_only(spark):
    import io
    from contextlib import redirect_stdout

    from etl_schema_spark.operators import dedup

    buf = io.StringIO()
    with redirect_stdout(buf):
        dedup.incremental_dedup(spark, SF).explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_grouped_running_sum_defaults_to_session_parallelism(spark, monkeypatch):
    from pyspark.sql import Window

    from etl_schema_spark.operators.distributed import grouped_running_sum

    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("o"), F.lit(1).alias("v")
    )
    out = grouped_running_sum(df, "g", "o", "v", "cum")
    # the (chunk, group) exchange under the result carries the SESSION's
    # parallelism, not a constant (VERDICT r11 item 5), and no sampled
    # range split is left
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(_+pid#\d+L, g#\d+L, {n}\)", plan), plan
    assert "rangepartitioning" not in plan
    # correctness unchanged vs the window definition
    w = Window.partitionBy("g").orderBy("o").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {(r.g, r.o): r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    got = {(r.g, r.o): r.cum for r in out.collect()}
    assert got == expect


def test_scratch_registry_lifecycle(tmp_path):
    from etl_schema_spark.streaming import scratch

    d = scratch.scratch_dir("sq_test_")
    assert os.path.isdir(d)
    n = scratch.release_scratch()
    assert n >= 1 and not os.path.exists(d)
    assert scratch.release_scratch() == 0
