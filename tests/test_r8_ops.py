"""Round-8 operator tests: the wave-9 restore contract, the
suffix-automaton repeat profile, and the seven new curation/analytics
operators — semantic assertions on constructed corpora plus oracle
parity (the driver gate covers the generated testdata; these pin the
behaviors the generated data cannot reach)."""

import duckdb
import pytest

import __spark_entry__ as entry
from etl_schema_spark.operators import analytics, corpus, curation, dedup, text

from .conftest import assert_matches_oracle


def _docs_corpus(spark, tmp_path, rows):
    """Write a documents.parquet with the given (doc_id, text, lang,
    source, n_chars) rows; return (dir, duck_con)."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    return d, con


# --- restore_unique_docs / load_table_unique --------------------------------


def test_restore_unique_picks_deterministic_winner(spark, tmp_path):
    """A CONFLICTING key replay (same doc_id, different payload) must
    collapse to ONE row, the ascending-NULLS-LAST winner, on both
    engines — the wave-9 exactly-once contract."""
    rows = [
        (1, "beta text", "en", "srcA", 9),
        (1, "alpha text", "en", "srcB", 10),  # conflicting replay of key 1
        (2, "solo", "en", "srcA", 4),
        (3, None, None, "srcC", None),  # NULL payload sorts last
        (3, "real", "en", "srcC", 4),
    ]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = corpus.restore_unique_docs(spark, d)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 3
    # doc 1: 'alpha text' < 'beta text' (text is the first tie-break col)
    import hashlib

    assert got[1].text_md5 == hashlib.md5(b"alpha text").hexdigest()
    # doc 3: non-NULL text beats NULL (NULLS LAST)
    assert got[3].text_md5 == hashlib.md5(b"real").hexdigest()
    assert_matches_oracle(out, con, corpus.restore_unique_docs_oracle())


def test_incremental_dedup_stable_under_conflicting_replay(spark, tmp_path):
    """incremental_dedup consumes the restore: duplicating a key with a
    DIFFERENT payload must not change the output (one deterministic row
    enters the batch/index split)."""
    base = [(i, f"doc body {i}", "en", "srcA", 10) for i in range(20)]
    d1, _ = _docs_corpus(spark, tmp_path / "clean", base)
    out1 = sorted(map(tuple, dedup.incremental_dedup(spark, d1).collect()))
    replayed = base + [(7, "zzz conflicting body", "en", "srcB", 20)]
    d2, _ = _docs_corpus(spark, tmp_path / "replay", replayed)
    out2 = sorted(map(tuple, dedup.incremental_dedup(spark, d2).collect()))
    # key 7's winner is 'doc body 7' (< 'zzz...'), so outputs are identical
    assert out1 == out2


# --- repeat_profile_automaton ------------------------------------------------


def test_repeat_profile_automaton_exact(spark, tmp_path):
    """Hand-checkable repeat structure: the automaton's stats must equal
    first-principles n-gram arithmetic, including the no-repeat and
    empty-document degenerate rows."""
    rows = [
        (1, "a b a b a b", "en", "s", 11),  # max repeated 2-gram run
        (2, "x y z", "en", "s", 5),  # all tokens distinct -> no repeat
        (3, "", "en", "s", 0),  # empty
        (4, "w w w w", "en", "s", 7),  # single repeated token
    ]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = {r.doc_id: r for r in dedup.repeat_profile_automaton(spark, d).collect()}
    # doc 1: tokens [a b a b a b]; "a b a b" occurs twice (overlapping)
    assert out[1].max_repeat_len == 4
    assert out[1].top_repeat_gram == "a b a b"
    assert out[1].top_repeat_count == 2
    # distinct n-grams of [a b a b a b]: per length L the distinct count
    # is 2 for L in 1..5 (starts alternate a/b) and 1 for L=6
    assert out[1].n_distinct_ngrams == 2 * 5 + 1
    # doc 2: no repeated n-gram; distinct = n(n+1)/2 = 6
    assert out[2].max_repeat_len == 0
    assert out[2].top_repeat_gram is None
    assert out[2].n_distinct_ngrams == 6
    # doc 3: empty
    assert out[3].n_tokens == 0 and out[3].n_distinct_ngrams == 0
    # doc 4: [w w w w] -> longest repeat "w w w" (2 overlapping occurrences)
    assert out[4].max_repeat_len == 3 and out[4].top_repeat_count == 2
    assert_matches_oracle(
        dedup.repeat_profile_automaton(spark, d),
        con,
        dedup.repeat_profile_automaton_oracle(),
    )


# --- unigram_lm_pieces --------------------------------------------------------


def test_unigram_lm_pieces_scores(spark, tmp_path):
    """Piece scores = occurrences × length with deterministic ranking."""
    rows = [(1, "banana banana", "en", "s", 13)]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = {r.piece: r for r in text.unigram_lm_pieces(spark, d).collect()}
    # occurrences are overlapping window counts: 'ana' appears 2x per
    # 'banana' (positions 2 and 4) -> n=4, score 12 — tying 'banana'
    # (n=2, score 12); the tie breaks lexicographically ('ana' first)
    assert out["banana"].n == 2 and out["banana"].score == 12
    assert out["ana"].n == 4 and out["ana"].score == 12
    assert out["anana"].score == 2 * 5
    assert out["an"].n == 4 and out["an"].score == 8
    top = text.unigram_lm_pieces(spark, d).collect()[0]
    assert top.piece == "ana" and top.rank == 1
    assert_matches_oracle(
        text.unigram_lm_pieces(spark, d), con, text.unigram_lm_pieces_oracle()
    )


# --- dsir_importance_weights --------------------------------------------------


def test_dsir_weights_separate_target_like_docs(spark, tmp_path):
    """A raw-pool doc written in the target sources' language must score
    HIGHER than one that shares nothing with the target distribution."""
    target_text = "the quick brown fox jumps over the lazy dog"
    rows = [
        (i, target_text, "en", f"src{1 + i % 3}", 40) for i in range(12)
    ]  # target split (src1/2/3)
    rows += [(100, target_text, "en", "srcZ", 40)]  # raw, target-like
    rows += [(101, "zzz qqq vvv kkk jjj xxx www", "en", "srcZ", 27)]  # raw, alien
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = {r.doc_id: r for r in curation.dsir_importance_weights(spark, d).collect()}
    assert out[100].weight > out[101].weight
    assert not out[100].is_target and out[12 % 12].is_target is not None
    # docs with no bigram leave the measurable domain (NULL weight); a
    # vertical tab separates tokens on both engines
    rows2 = rows + [
        (102, "single", "en", "srcZ", 6),
        (103, "", "en", "srcZ", 0),
        (104, "a\x0bb c\x0bd", "en", "srcZ", 7),
    ]
    d2, con2 = _docs_corpus(spark, tmp_path / "w", rows2)
    out2 = {r.doc_id: r for r in curation.dsir_importance_weights(spark, d2).collect()}
    assert out2[102].weight is None and out2[102].n_feats == 0
    assert out2[103].weight is None
    assert out2[104].n_feats == 3
    assert_matches_oracle(
        curation.dsir_importance_weights(spark, d2),
        con2,
        curation.dsir_importance_weights_oracle(),
    )


# --- cross_source_dup_leakage --------------------------------------------------


def test_cross_source_dup_leakage_split(spark, tmp_path):
    """Internal copies vs cross-source leakage are counted separately;
    whitespace-normalized equality defines 'the same content'."""
    rows = [
        (1, "shared   body", "en", "A", 13),  # normalizes == doc 3
        (2, "shared body", "en", "A", 11),  # internal dup of 1
        (3, "shared body", "en", "B", 11),  # leak: same content, source B
        (4, "unique a", "en", "A", 8),
        (5, "unique b", "en", "B", 8),
    ]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = {r.source: r for r in corpus.cross_source_dup_leakage(spark, d).collect()}
    assert out["A"].n_docs == 3 and out["A"].n_dup_internal == 1
    assert out["A"].n_leaked == 2 and out["B"].n_leaked == 1
    assert out["B"].n_dup_internal == 0
    assert_matches_oracle(
        corpus.cross_source_dup_leakage(spark, d),
        con,
        corpus.cross_source_dup_leakage_oracle(),
    )


# --- length_filter_sweep --------------------------------------------------------


def test_length_filter_sweep_curve(spark, tmp_path):
    rows = [
        (1, "t", "en", "s", 50),
        (2, "t", "en", "s", 100),
        (3, "t", "en", "s", 600),  # above the 512 cap -> survives every rung
        (4, "t", "en", "s", None),  # NULL length -> bucket 0
    ]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = {r.min_chars: r for r in curation.length_filter_sweep(spark, d).collect()}
    assert len(out) == 9
    assert out[0].n_docs_kept == 4 and out[0].frac_docs == 1.0
    assert out[64].n_docs_kept == 2  # 100 and 600 survive >= 64
    assert out[128].n_docs_kept == 1 and out[512].n_docs_kept == 1
    assert out[512].n_chars_kept == 600
    assert_matches_oracle(
        curation.length_filter_sweep(spark, d), con, curation.length_filter_sweep_oracle()
    )


# --- trimmed_mean_value -----------------------------------------------------------


def test_trimmed_mean_drops_exact_tails(spark, tmp_path):
    """20 values with one huge outlier per tail: floor(20/10)=2 trimmed
    from each side, so the outliers cannot move the mean."""
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, i), 1, "t", float(v), "{}")
        for i, v in enumerate([-1e9, -5.0] + [10.0] * 16 + [5e8, 1e9])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = analytics.trimmed_mean_value(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 20 and r.n_kept == 16
    assert r.trimmed_mean == 10.0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        analytics.trimmed_mean_value(spark, d), con, analytics.trimmed_mean_value_oracle()
    )


# --- weighted_sample_ares ----------------------------------------------------------


def test_weighted_sample_ares_contract(spark, tmp_path):
    """K per source, zero/NULL-weight docs excluded, deterministic across
    runs, and the two-stage top-K equals the oracle's single window."""
    rows = [(i, "t", "en", f"s{i % 2}", (i + 1) * 10) for i in range(40)]
    rows += [(100, "t", "en", "s0", 0), (101, "t", "en", "s1", None)]
    d, con = _docs_corpus(spark, tmp_path, rows)
    out = corpus.weighted_sample_ares(spark, d).collect()
    assert len(out) == 2 * corpus.ARES_K
    assert all(r.n_chars > 0 for r in out)
    assert sorted({r.rank for r in out}) == list(range(1, corpus.ARES_K + 1))
    again = corpus.weighted_sample_ares(spark, d).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    assert_matches_oracle(
        corpus.weighted_sample_ares(spark, d), con, corpus.weighted_sample_ares_oracle()
    )


# --- lsh_tuning_curve ---------------------------------------------------------------


def test_lsh_tuning_curve_shape(spark, sf_dir, duck):
    """More bands at fixed b·r means higher recall on every similarity
    in (0,1); the report must be monotone in bands and bounded in [0,1]."""
    rows = {r.bands: r for r in dedup.lsh_tuning_curve(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 4, 8}
    n = {r.n_true_pairs for r in rows.values()}
    assert len(n) == 1  # same true-pair set under every config
    rec = [rows[b].expected_recall for b in (1, 2, 4, 8)]
    assert all(0.0 <= x <= 1.0 for x in rec)
    assert rec == sorted(rec)  # monotone in bands
    s50 = [rows[b].s50 for b in (1, 2, 4, 8)]
    assert s50[0] == 1.0 and all(s50[i] > s50[i + 1] for i in range(3))


# --- registry coverage --------------------------------------------------------------


def test_r8_entries_registered():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    for k in [
        "restore_unique_docs",
        "repeat_profile_automaton",
        "unigram_lm_pieces",
        "dsir_importance_weights",
        "cross_source_dup_leakage",
        "length_filter_sweep",
        "trimmed_mean_value",
        "weighted_sample_ares",
        "lsh_tuning_curve",
    ]:
        assert k in qs and k in oracles
