"""Round-9 additions: ADVICE-r8 pins (vertical-tab tokenization, EMB_DIM
misdeclaration observability, unique-restore ordering source), the
quality suite's scored surface + row-filter form, DECON strict mode, and
the wave-9 restore rollout consumers."""

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_schema_spark import quality
from etl_schema_spark.operators import contracts, curation, dedup, similarity

from .conftest import assert_matches_oracle


def _duck_for(d):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "customer"):
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet/*.parquet')"
            )
        except duckdb.IOException:
            pass
    return con


def test_repeat_profile_vertical_tab_parity(spark, tmp_path):
    """ADVICE r8: RE2's \\s has no \\x0b, the Arrow pass's class does —
    the oracle now names the class explicitly; a vertical-tab document
    must tokenize identically on both sides."""
    rows = [
        (1, "a\x0bb a\x0bb c"),  # \x0b IS a separator: tokens a b a b c
        (2, "x y\tx y\nx y"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = tmp_path / "vtab"
    df.write.parquet(str(d / "documents.parquet"))
    out = dedup.repeat_profile_automaton(spark, str(d))
    got = {r.doc_id: r for r in out.collect()}
    # 'a b' repeats twice in doc 1 -> max repeat len 2, witness 'a b'
    assert got[1].n_tokens == 5 and got[1].max_repeat_len == 2
    assert got[1].top_repeat_gram == "a b"
    assert_matches_oracle(out, _duck_for(d), dedup.repeat_profile_automaton_oracle())


def test_expectation_report_df_matches_run(spark):
    """The lazy report (the scored surface) and the collected CheckReport
    must agree row for row — one suite, two execution forms."""
    sf = "/root/testdata/sf0.001"
    for check, df in quality._standing_checks(spark, sf):
        report = check.run(df)
        lazy = {
            (r["name"]): (r["kind"], r["violations"], r["checked"], r["passed"])
            for r in check.report_df(df).collect()
        }
        for res in report.results:
            assert lazy[res.name] == (
                res.kind,
                res.violations,
                res.checked,
                res.passed,
            ), res.name


def test_keep_predicate_is_the_row_filter_form(spark):
    """Check.keep_predicate() must keep exactly the rows no row-level rule
    rejects — the declarative pre-filter stage curation_pipeline uses."""
    rows = [
        (1, "ok", 5.0),
        (2, None, 1.0),  # not_null violation
        (3, "ok", -2.0),  # non_negative violation
        (4, "ok", None),  # NULL predicate -> undecidable -> excluded
    ]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    check = (
        quality.Check("t")
        .not_null("s")
        .satisfies("v_pos", F.col("v") >= 0)
    )
    kept = [r.id for r in df.filter(check.keep_predicate()).collect()]
    assert kept == [1]


def test_embedding_domain_profile_flags_misdeclared_dim(spark, tmp_path):
    """ADVICE r8: on a corpus whose dominant width differs from the
    declared EMB_DIM, every vector operator returns empty — the profile
    must say so loudly (dim_contract_ok = false) and match its oracle."""
    rows = [(i, [float(i + j) for j in range(32)], 0) for i in range(10)]
    rows.append((100, [1.0] * 64, 1))  # one conforming row
    rows.append((101, None, 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "dim32"
    df.write.parquet(str(d / "embeddings.parquet"))
    out = similarity.embedding_domain_profile(spark, str(d))
    row = out.collect()[0]
    assert row.rows_total == 12 and row.rows_null == 1
    assert row.rows_dim_mismatch == 10 and row.rows_kept == 1
    assert row.dominant_dim == 32 and row.declared_dim == similarity.EMB_DIM
    assert row.dim_contract_ok is False
    assert_matches_oracle(
        out, _duck_for(d), similarity.embedding_domain_profile_oracle()
    )


def test_load_vectors_drop_metrics(spark, tmp_path, monkeypatch):
    """With CAP_METRIC_SINK set, load_vectors emits per-run accounting of
    what the finite-vector domain filter dropped (ADVICE r8)."""
    rows = [(i, [0.5] * 64, 0) for i in range(6)]
    rows += [(10, [1.0] * 8, 0), (11, None, 0), (12, [float("nan")] * 64, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "obs"
    df.write.parquet(str(d / "embeddings.parquet"))
    sink = {}
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", sink)
    n = similarity.load_vectors(spark, str(d)).count()
    assert n == 6
    (key,) = [k for k in sink if k.startswith("emb_domain_")]
    m = sink[key].get
    assert m["rows_in"] == 9
    assert m["rows_dim_mismatch"] == 1
    assert m["rows_kept"] == 6


def _band0_key(vec):
    """Band-0 4-bit LSH key of a vector, via the production plane family."""
    planes = similarity._lsh_planes(4)
    key = 0
    for i, p in enumerate(planes):
        dot = sum(a * b for a, b in zip(vec, p))
        if dot >= 0:
            key |= 1 << i
    return key


def test_decontaminate_strict_mode_restores_exact_recall(spark, tmp_path, monkeypatch):
    """VERDICT r8 item 7: strict mode verifies cosine BEFORE any eval
    capping, so a train item whose only >= tau witness sorts past the
    eval-bucket cap — a documented default-mode false negative — is
    recovered. Constructed: one band, cap 1, a low-id low-cosine eval
    crowding out the high-id exact-match eval."""

    def is_eval(v):
        return (
            int(hashlib.md5(f"split:{v}".encode()).hexdigest()[:8], 16)
            % similarity.DECON_EVAL_MOD
            == 0
        )

    # single-band family so "shares a band" == "shares the bucket"
    monkeypatch.setattr(similarity, "_adaptive_band_params", lambda n: (4, 1))
    monkeypatch.setattr(similarity, "DECON_EVAL_BUCKET_CAP", 1)

    tpl = [float(((j % 7) + 1)) / 8.0 for j in range(64)]
    want_key = _band0_key(tpl)
    # find a decoy: same band-0 key as tpl, cosine well under tau
    decoy = None
    for s in range(1, 4000):
        cand = [((s * 29 + j * 13) % 17 - 8) / 8.0 for j in range(64)]
        if _band0_key(cand) != want_key:
            continue
        dot = sum(a * b for a, b in zip(cand, tpl))
        na = sum(a * a for a in cand) ** 0.5
        nb = sum(b * b for b in tpl) ** 0.5
        if dot / (na * nb) < 0.5:
            decoy = cand
            break
    assert decoy is not None
    # ids: train item (not eval), decoy eval BELOW the exact eval
    evals = [v for v in range(200) if is_eval(v)]
    e_decoy, e_exact = evals[0], evals[1]
    train_id = next(v for v in range(200) if not is_eval(v))
    rows = [(train_id, tpl, 0), (e_decoy, decoy, 0), (e_exact, tpl, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "strict"
    df.write.parquet(str(d / "embeddings.parquet"))

    default_rows = similarity.embedding_decontaminate(spark, str(d)).collect()
    assert default_rows == []  # the documented bounded-recall miss
    strict_rows = similarity.embedding_decontaminate(
        spark, str(d), strict=True
    ).collect()
    assert [(r.train_id, r.eval_id) for r in strict_rows] == [(train_id, e_exact)]
    # env-var spelling reaches the same path
    monkeypatch.setenv("ETL_SCHEMA_SPARK_DECON_STRICT", "1")
    env_rows = similarity.embedding_decontaminate(spark, str(d)).collect()
    assert [(r.train_id, r.eval_id) for r in env_rows] == [(train_id, e_exact)]


def test_unique_tiebreak_cols_single_source_of_truth():
    """ADVICE r8: both restore sides must order tie-break columns from the
    schema registry, regardless of scan column order."""
    from etl_schema_spark.sources.catalog import _unique_tiebreak_cols

    reg = _unique_tiebreak_cols("documents")
    shuffled = list(reversed(reg + ["doc_id"]))
    assert _unique_tiebreak_cols("documents", shuffled) == reg


def test_curation_pipeline_consumes_unique_scan_and_check(spark):
    """The capstone's pre-filter is the quality suite's row form and its
    scan is the exactly-once restore: on the clean corpus the rewrite must
    keep exactly the gopher-keep rows (no behavior change at base)."""
    sf = "/root/testdata/sf0.001"
    out = curation.curation_pipeline(spark, sf)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    flags = {
        r.doc_id
        for r in curation.gopher_quality_flags(spark, sf)
        .filter(F.col("keep"))
        .select("doc_id")
        .collect()
    }
    assert kept <= flags


def test_psi_between_two_frame_api(spark):
    """drift.psi_between — the reusable publish-gate form: identical
    distributions score ~0 PSI; a shifted current frame drifts."""
    from etl_schema_spark.operators import drift

    ref = spark.range(0, 2000).select((F.col("id") % 100 + 1.0).alias("value"))
    same = spark.range(0, 2000).select((F.col("id") % 100 + 1.0).alias("value"))
    shifted = spark.range(0, 2000).select(
        ((F.col("id") % 100) * 50 + 5000.0).alias("value")
    )
    ok = drift.psi_between(ref, same).collect()[0]
    assert ok.n_ref == 2000 and ok.n_cur == 2000
    assert abs(ok.psi) < 0.01 and ok.drifted is False
    bad = drift.psi_between(ref, shifted).collect()[0]
    assert bad.psi > drift.PSI_DRIFT_LINE and bad.drifted is True


def test_psi_between_grouped_matches_entry_tail(spark):
    """The scored entry and the two-frame API share one PSI tail: feeding
    psi_between the entry's own half-split must reproduce the entry's
    rows exactly."""
    from etl_schema_spark.operators import drift
    from etl_schema_spark.operators.contracts import finite_value, plausible_ts
    from etl_schema_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").filter(
        plausible_ts("ts") & finite_value("value")
    )
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    mid = lo + (hi - lo) // 2
    ref = ev.filter(F.unix_micros("ts") < mid).select("event_type", "value")
    cur = ev.filter(F.unix_micros("ts") >= mid).select("event_type", "value")
    via_api = {
        r.event_type: (r.n_ref, r.n_cur, r.n_buckets, r.psi, r.drifted)
        for r in drift.psi_between(ref, cur, by="event_type").collect()
    }
    via_entry = {
        r.event_type: (r.n_ref, r.n_cur, r.n_buckets, r.psi, r.drifted)
        for r in drift.psi_value_drift(spark, sf).collect()
    }
    assert via_api == via_entry


def test_verified_pairs_pinned_staged_helper(spark):
    """The shared pair materialization (wired in r10): same pairs as the
    operator, pinned once per session — a repeat call with the same
    (sf_dir, tau) returns the SAME materialized frame (swap_pin's reuse
    form), and a changed param swaps the pin instead of accumulating."""
    from etl_schema_spark.operators import cachereg, dedup

    sf = "/root/testdata/sf0.001"
    pinned = dedup.verified_pairs_pinned(spark, sf)
    direct = dedup.dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert "dedup_ngram_jaccard.pairs" in cachereg._PINS
    shingles = cachereg._PINS["dedup_ngram_jaccard.shingles"][0]
    again = dedup.verified_pairs_pinned(spark, sf)
    # a hit builds nothing, so the operator's own pins are not swapped
    assert cachereg._PINS["dedup_ngram_jaccard.shingles"][0] is shingles
    # reuse hit: the consumer reuses the materialized frame, not a rebuild
    assert again is pinned
    # a changed tau swaps the pin — exactly one pinned pair frame survives
    swapped = dedup.verified_pairs_pinned(spark, sf, tau=0.9)
    assert swapped is not pinned
    assert list(cachereg._PINS).count("dedup_ngram_jaccard.pairs") == 1
    # the single registry records the swapped frame with its new params
    assert cachereg._PINS["dedup_ngram_jaccard.pairs"][0] is swapped
    assert cachereg._PINS["dedup_ngram_jaccard.pairs"][1][0] == (sf, 0.9)
    cachereg.release_pins("dedup_ngram_jaccard.pairs")
    assert "dedup_ngram_jaccard.pairs" not in cachereg._PINS


def test_dedup_ngram_jaccard_pins_follow_documents_file(spark, sf_dir, tmp_path):
    """Both of dedup_ngram_jaccard's pins take swap_pin's reuse form keyed
    on the documents file: a repeat call reuses the same frames, a changed
    tau swaps only the prefix pin, and rewriting the file at the same path
    swaps both, so the pairs are the rewritten corpus's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_schema_spark.operators import cachereg

    def pins():
        return [cachereg._PINS[f"dedup_ngram_jaccard.{k}"][0] for k in ("shingles", "prefix")]

    d, path = str(tmp_path), str(tmp_path / "documents.parquet")
    corpus = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(corpus, path)
    try:
        dedup.dedup_ngram_jaccard(spark, d)
        shingles, prefix = pins()
        dedup.dedup_ngram_jaccard(spark, d)
        assert pins()[0] is shingles and pins()[1] is prefix
        dedup.dedup_ngram_jaccard(spark, d, tau=0.9)
        assert pins()[0] is shingles and pins()[1] is not prefix
        dedup.dedup_ngram_jaccard(spark, d)
        shingles, prefix = pins()

        # the last 5 docs become copies of the first 5: five new exact pairs
        pdf = corpus.to_pandas()
        pdf.loc[pdf.index[-5:], "text"] = pdf["text"].iloc[:5].to_numpy()
        rewritten = pa.Table.from_pandas(pdf, schema=corpus.schema, preserve_index=False)
        pq.write_table(rewritten, path)
        out = dedup.dedup_ngram_jaccard(spark, d)
        assert pins()[0] is not shingles and pins()[1] is not prefix
        ids = pdf["doc_id"].tolist()
        got = {(r.doc_a, r.doc_b) for r in out.collect()}
        assert {(min(a, b), max(a, b)) for a, b in zip(ids[:5], ids[-5:])} <= got
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        assert_matches_oracle(out, con, dedup.dedup_ngram_jaccard_oracle())
    finally:
        cachereg.release_pins("dedup_ngram_jaccard.shingles", "dedup_ngram_jaccard.prefix")
