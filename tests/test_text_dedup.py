"""Text-analysis + dedup operator tests (SURVEY §2C)."""

from etl_schema_spark.operators import dedup, text

from .conftest import assert_matches_oracle


def test_token_count(spark, sf_dir, duck):
    assert_matches_oracle(text.token_count(spark, sf_dir), duck, text.token_count_oracle())


def test_text_quality(spark, sf_dir, duck):
    assert_matches_oracle(text.text_quality(spark, sf_dir), duck, text.text_quality_oracle())


def test_langid(spark, sf_dir, duck):
    assert_matches_oracle(text.langid_heuristic(spark, sf_dir), duck, text.langid_heuristic_oracle())


def test_doc_fingerprint(spark, sf_dir, duck):
    assert_matches_oracle(text.doc_fingerprint(spark, sf_dir), duck, text.doc_fingerprint_oracle())


def test_dedup_exact(spark, sf_dir, duck):
    assert_matches_oracle(dedup.dedup_exact(spark, sf_dir), duck, dedup.dedup_exact_oracle())


def test_dedup_ngram_jaccard(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.dedup_ngram_jaccard(spark, sf_dir), duck, dedup.dedup_ngram_jaccard_oracle()
    )


def test_minhash_lsh_finds_planted_dups(spark, sf_dir):
    """LSH candidates verified by exact Jaccard must be a subset of the
    exact pairs, and at tau=0.5 banding (4 bands x 2 rows) recall on the
    planted near-dups should be total."""
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_minhash_lsh_matches_portable_pairs(spark, sf_dir, duck):
    """Backing claim of dedup_minhash_lsh_oracle: on the driver corpora the
    xxhash64-family verified pair set coincides with the portable
    md5-family pair set at the identical banding (recall saturates for
    both), so the portable oracle SQL is a valid driver twin for the
    production-hash entry."""
    xx = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}
    md = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_minhash_portable(spark, sf_dir).collect()
    }
    assert xx == md
    assert_matches_oracle(
        dedup.dedup_minhash_lsh(spark, sf_dir), duck, dedup.dedup_minhash_lsh_oracle()
    )


def test_minhash_portable_oracle(spark, sf_dir, duck):
    """The md5-family MinHash+LSH pipeline is reproduced end-to-end by the
    SQL oracle: signatures, band buckets, candidates, verified pairs."""
    assert_matches_oracle(
        dedup.dedup_minhash_portable(spark, sf_dir),
        duck,
        dedup.dedup_minhash_portable_oracle(),
    )


def test_minhash_portable_subset_of_exact(spark, sf_dir):
    """Verification makes precision exact: portable-LSH pairs are a subset
    of the exact-Jaccard pairs (recall is the banding S-curve)."""
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_minhash_portable(spark, sf_dir).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_simhash(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.simhash_fingerprint(spark, sf_dir), duck, dedup.simhash_fingerprint_oracle()
    )


def test_simhash_near_dups_have_close_fingerprints(spark, sf_dir):
    """Planted near-dup pairs should have small SimHash Hamming distance."""
    pairs = dedup.dedup_ngram_jaccard(spark, sf_dir, tau=0.8).collect()
    if not pairs:
        return
    fp = {r.doc_id: r.simhash64 for r in dedup.simhash_fingerprint(spark, sf_dir).collect()}

    def hamming(a, b):
        return sum(
            bin(int(ca, 16) ^ int(cb, 16)).count("1") for ca, cb in zip(a, b)
        )

    for p in pairs:
        assert hamming(fp[p.doc_a], fp[p.doc_b]) <= 16, (p, fp[p.doc_a], fp[p.doc_b])


def test_bigram_surprisal(spark, sf_dir, duck):
    from etl_schema_spark.operators import text

    assert_matches_oracle(
        text.bigram_surprisal(spark, sf_dir), duck, text.bigram_surprisal_oracle()
    )


def test_incremental_dedup_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.incremental_dedup(spark, sf_dir), duck, dedup.incremental_dedup_oracle()
    )


def test_incremental_dedup_covers_batch_only(spark, sf_dir):
    from pyspark.sql import functions as F

    out = dedup.incremental_dedup(spark, sf_dir).cache()
    m = dedup.NEW_BATCH_MOD
    # every output doc is from the new-batch slice, and dup_of always
    # points outside it (at an indexed corpus doc)
    assert out.filter(F.col("doc_id") % m != m - 1).count() == 0
    assert out.filter(
        F.col("is_duplicate") & (F.col("dup_of") % m == m - 1)
    ).count() == 0


def test_pii_scrub_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import text as text_ops

    assert_matches_oracle(
        text_ops.pii_scrub(spark, sf_dir), duck, text_ops.pii_scrub_oracle()
    )


def test_pii_scrub_masks_crafted_inputs(spark, duck):
    """The synthetic corpus holds no PII, so prove the masking behavior on
    crafted rows — and prove Spark and DuckDB produce byte-identical masked
    text for them (the portability claim on non-trivial input)."""
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.text import PII_PATTERNS, scrub_pii

    rows = [
        (1, "contact bob.smith+x@ex-ample.org or 10.0.255.3 now"),
        (2, "call 555-867-5309 or mail a@b.co; server 192.168.1.1"),
        (3, "no pii here, just 1234 and a.dot."),
        (4, "two mails x@y.io z@w.dev and 1.2.3.4 5.6.7.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cols = scrub_pii(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", cols["n_email"].alias("ne"), cols["n_ipv4"].alias("ni"),
            cols["n_phone"].alias("np"), cols["masked"].alias("masked")
        ).collect()
    }
    assert (got[1]["ne"], got[1]["ni"], got[1]["np"]) == (1, 1, 0)
    assert got[1]["masked"] == "contact [EMAIL] or [IP] now"
    assert (got[2]["ne"], got[2]["ni"], got[2]["np"]) == (1, 1, 1)
    assert got[2]["masked"] == "call [PHONE] or mail [EMAIL]; server [IP]"
    assert (got[3]["ne"], got[3]["ni"], got[3]["np"]) == (0, 0, 0)
    assert got[3]["masked"] == rows[2][1]
    assert (got[4]["ne"], got[4]["ni"], got[4]["np"]) == (2, 2, 0)

    for doc_id, raw in rows:
        masked = raw
        for _, pat, repl in PII_PATTERNS:
            masked = duck.execute(
                "SELECT regexp_replace(?, ?, ?, 'g')", [masked, pat, repl]
            ).fetchone()[0]
        assert masked == got[doc_id]["masked"], doc_id


def test_vocab_coverage_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.vocab_coverage(spark, sf_dir), duck, text.vocab_coverage_oracle()
    )


def test_vocab_coverage_bounds(spark, sf_dir):
    rows = text.vocab_coverage(spark, sf_dir).collect()
    assert rows  # every doc with tokens appears
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tok"]
    # a 256-term vocab over a synthetic corpus must cover a nontrivial share
    tot = sum(r["n_tok"] for r in rows)
    oov = sum(r["n_oov"] for r in rows)
    assert oov < tot


def test_tokenizer_fertility_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.tokenizer_fertility(spark, sf_dir), duck, text.tokenizer_fertility_oracle()
    )


def test_tokenizer_fertility_vs_per_doc(spark, sf_dir):
    """The per-lang rollup's totals must equal the sum of token_count_bpe's
    per-doc counts (same pretokenizer, different grain)."""
    total_bpe = sum(
        r.total_bpe for r in text.tokenizer_fertility(spark, sf_dir).collect()
    )
    per_doc = sum(
        r.n_tokens_bpe for r in text.token_count_bpe(spark, sf_dir).collect()
    )
    assert total_bpe == per_doc


def test_pmi_cooccur_terms_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.pmi_cooccur_terms(spark, sf_dir), duck, text.pmi_cooccur_terms_oracle()
    )


def test_pmi_support_and_bounds(spark, sf_dir):
    """Every returned pair meets min support; PMI respects df_ab <= min(df)."""
    rows = text.pmi_cooccur_terms(spark, sf_dir).collect()
    assert rows, "PMI top-K should be non-empty on the test corpus"
    for r in rows:
        assert r.df_ab >= text.PMI_MIN_PAIR_DOCS
        assert r.df_ab <= min(r.df_a, r.df_b)
        assert r.tok_a < r.tok_b


def test_perplexity_buckets_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.perplexity_buckets(spark, sf_dir), duck, text.perplexity_buckets_oracle()
    )


def test_perplexity_buckets_shape(spark, sf_dir):
    """Buckets are ~equal-sized quantiles; keep flags exactly the middle."""
    rows = text.perplexity_buckets(spark, sf_dir).collect()
    n = len(rows)
    from collections import Counter

    sizes = Counter(r.bucket for r in rows)
    assert set(sizes) == set(range(text.PPL_BUCKETS))
    for b, c in sizes.items():
        assert abs(c - n / text.PPL_BUCKETS) <= n * 0.1 + 1
    for r in rows:
        assert r.keep == (0 < r.bucket < text.PPL_BUCKETS - 1)


def test_boundary_templates_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.boundary_templates(spark, sf_dir), duck, dedup.boundary_templates_oracle()
    )


def test_boundary_templates_exact_dups_share_boundaries(spark, sf_dir):
    """Exact duplicate documents must surface in both a head and a tail
    group (a dup pair shares its first and last M tokens by definition)."""
    from pyspark.sql import functions as F

    dup_groups = (
        dedup.dedup_exact(spark, sf_dir).filter(F.col("n_copies") >= 2).count()
    )
    rows = dedup.boundary_templates(spark, sf_dir).collect()
    kinds = {r.kind for r in rows}
    if dup_groups:
        assert kinds == {"head", "tail"}
        assert all(r.n_docs >= 2 for r in rows)


def test_doc_entropy_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.doc_entropy(spark, sf_dir), duck, text.doc_entropy_oracle()
    )


def test_doc_entropy_bounds(spark, sf_dir):
    """0 <= entropy <= ln(n_distinct); norm in [0, 1]; single-term docs 0."""
    import math

    for r in text.doc_entropy(spark, sf_dir).collect():
        assert -1e-9 <= r.entropy <= math.log(max(r.n_distinct, 2)) + 1e-9
        assert -1e-9 <= r.norm_entropy <= 1 + 1e-9
        if r.n_distinct == 1:
            assert r.entropy == 0.0


def test_dedup_impact_curve_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.dedup_impact_curve(spark, sf_dir), duck, dedup.dedup_impact_curve_oracle()
    )


def test_dedup_impact_curve_monotone(spark, sf_dir):
    """Tighter tau can only shrink every count."""
    rows = sorted(dedup.dedup_impact_curve(spark, sf_dir).collect(), key=lambda r: r.tau)
    for lo, hi in zip(rows, rows[1:]):
        assert hi.n_pairs <= lo.n_pairs
        assert hi.n_docs_involved <= lo.n_docs_involved
        assert hi.n_would_drop <= lo.n_would_drop


def test_bm25_retrieval_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.bm25_retrieval(spark, sf_dir), duck, text.bm25_retrieval_oracle()
    )


def test_bm25_scores_rank_sanely(spark, sf_dir):
    """Scores are positive, ranks dense from 1, and a doc hitting more
    query terms with equal tf profile can't be beaten by a zero-hit doc
    (zero-hit docs never appear at all)."""
    rows = text.bm25_retrieval(spark, sf_dir).collect()
    assert rows
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        assert r.score > 0 and r.n_terms_hit >= 1
        per_q[r.query_id].append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_winnowing_fingerprint_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.winnowing_fingerprint(spark, sf_dir),
        duck,
        dedup.winnowing_fingerprint_oracle(),
    )


def test_winnowing_density_near_theory(spark, sf_dir):
    """Winnowing selects ~2/(W+1) of windows on random-ish text; every
    profile obeys the hard bounds 1 <= fingerprints <= windows."""
    rows = dedup.winnowing_fingerprint(spark, sf_dir).collect()
    dens = []
    for r in rows:
        if r.n_windows > 0:
            assert 1 <= r.n_fingerprints <= r.n_windows
            assert r.min_fp is not None and len(r.min_fp) == 32
            dens.append(r.n_fingerprints / r.n_windows)
    import statistics

    expect = 2 / (dedup.WINNOW_W + 1)
    assert abs(statistics.mean(dens) - expect) < 0.1


def test_code_detect_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.code_detect(spark, sf_dir), duck, text.code_detect_oracle()
    )


def test_code_detect_counts(spark, sf_dir):
    """Symbol counts reconcile with Python's str.count on a sample."""
    from etl_schema_spark.operators.text import CODE_SYMBOLS
    from etl_schema_spark.sources.catalog import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").limit(50).collect()
    }
    for r in text.code_detect(spark, sf_dir).collect():
        if r.doc_id in texts:
            t = texts[r.doc_id]
            assert r.sym_count == sum(t.count(c) for c in CODE_SYMBOLS)
            assert r.semi_count == t.count(";")
            assert r.n_chars == len(t)


def test_hashing_trick_features_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        text.hashing_trick_features(spark, sf_dir),
        duck,
        text.hashing_trick_features_oracle(),
    )


def test_hashing_trick_features_mass(spark, sf_dir):
    """Bucketed counts conserve the total token mass and bucket ids stay
    inside the fixed width."""
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.text import HASH_FEATURE_BUCKETS
    from etl_schema_spark.sources.catalog import load_table

    feats = text.hashing_trick_features(spark, sf_dir)
    total = feats.agg(F.sum("n")).collect()[0][0]
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .count()
    )
    assert total == toks
    assert feats.agg(F.max("bucket")).collect()[0][0] < HASH_FEATURE_BUCKETS
    assert feats.agg(F.min("bucket")).collect()[0][0] >= 0


def test_containment_dup_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.containment_dup(spark, sf_dir),
        duck,
        dedup.containment_dup_oracle(),
    )


def test_containment_catches_jaccard_and_more(spark, sf_dir):
    """Containment >= jaccard for any pair, so every reported Jaccard
    near-dup pair with a rare shared shingle also clears the containment
    bar; sizes and shares are consistent."""
    for r in dedup.containment_dup(spark, sf_dir).collect():
        assert 0 < r.n_shared <= min(r.size_a, r.size_b)
        assert r.containment_ppm >= dedup.CONT_TAU_PPM
        assert r.containment_ppm <= 1_000_000


def test_minhash_pr_eval_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.minhash_pr_eval(spark, sf_dir), duck, dedup.minhash_pr_eval_oracle()
    )


def test_minhash_pr_eval_consistency(spark, sf_dir):
    """The report's counts must reconcile with the pipelines it grades:
    verified == the portable pair output, exact == the AllPairs output,
    verified <= candidates, verified <= exact (subset property)."""
    r = dedup.minhash_pr_eval(spark, sf_dir).collect()[0]
    assert r.n_verified == dedup.dedup_minhash_portable(spark, sf_dir).count()
    assert r.n_exact == dedup.dedup_ngram_jaccard(spark, sf_dir).count()
    assert r.n_verified <= r.n_candidates
    assert r.n_verified <= r.n_exact
    assert r.recall_ppm == r.n_verified * 1_000_000 // r.n_exact


def _persisted_ids(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted. Tests compare id sets,
    not counts: the ContextCleaner may release an RDD an earlier test
    dropped at any time, which moves a count but never adds an id."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_minhash_banded_candidates_release_signature_cache(spark, sf_dir):
    """_minhash_banded_candidates persists the MinHash signature frame for
    its band self-join; repeated invocations in one session (bench runs
    minhash_pr_eval + dedup_minhash_portable back to back) must not
    leave any RDD they persisted pinned — the same leak class as the r5
    streaming memory-sink drain fix (ADVICE r5)."""
    before = _persisted_ids(spark)
    dedup.dedup_minhash_portable(spark, sf_dir).collect()
    dedup.dedup_minhash_portable(spark, sf_dir).collect()
    dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    assert not _persisted_ids(spark) - before, "signature cache leaked"


def test_registry_pins_do_not_accumulate(spark, sf_dir):
    """The remaining persist sites (ngram_jaccard's shingle + prefix
    frames, jaccard_estimate's signatures) go through cachereg.swap_pin:
    a repeat invocation RELEASES the previous invocation's pins, so the
    steady-state pin count is constant however many times the operators
    run in one session, and release_pins() drops every pin they made
    (VERDICT r6 item 5 — the other half of the ADVICE-r5 leak class;
    substring_dup_spans' pin is gone entirely with the Arrow rewrite)."""
    from etl_schema_spark.operators.cachereg import release_pins

    release_pins()
    baseline = _persisted_ids(spark)
    dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    dedup.substring_dup_spans(spark, sf_dir).collect()
    after_one = len(_persisted_ids(spark) - baseline)
    dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    dedup.substring_dup_spans(spark, sf_dir).collect()
    dedup.minhash_jaccard_estimate(spark, sf_dir).collect()
    dedup.minhash_jaccard_estimate(spark, sf_dir).collect()
    # repeats added jaccard_estimate's single pin but accumulated nothing
    assert len(_persisted_ids(spark) - baseline) <= after_one + 1, "pins accumulate"
    assert release_pins() >= 3  # both jaccard pins + the signature pin
    assert not _persisted_ids(spark) - baseline


def test_substring_repeat_ladder_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        dedup.substring_repeat_ladder(spark, sf_dir),
        duck,
        dedup.substring_repeat_ladder_oracle(),
    )


def test_substring_repeat_ladder_detects_long_repeat(spark, tmp_path):
    """A 300-char verbatim block shared by two docs must light every rung
    (any repeat of length >= 1.5w contains an aligned w-window on both
    sides); unrelated docs must light none."""
    block = "the quick brown fox jumps over the lazy dog. " * 7  # ~315 chars
    rows = [
        (1, "intro text " + block + " tail one", "en", "s1", 1),
        (2, block + " a different ending entirely", "en", "s2", 1),
        (3, "".join(chr(97 + (i * 7 + i // 31) % 26) for i in range(400)), "en", "s3", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "docs"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.win_len: r for r in dedup.substring_repeat_ladder(spark, str(d)).collect()}
    assert set(out) == set(dedup.LADDER_WINS)
    for w in dedup.LADDER_WINS:
        if w <= 200:  # block ~315 chars covers every rung up to 256*1.5>315: check <=200
            assert out[w].dup_windows > 0, f"rung {w} missed the planted repeat"
        assert out[w].docs_with_dup <= 2


def test_repeat_ladder_alignment_free(spark, tmp_path):
    """The content-defined anchors make detection ALIGNMENT-FREE: the same
    200-char block planted at five different, stride-incommensurate byte
    offsets across five docs must be detected at every rung up to 128
    (fixed-grid windows provably miss offsets differing != 0 mod stride —
    the bug the first r6 implementation had)."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    # 600 chars: rung 128 expects (600-128)/64 ~ 7 anchors inside the
    # block (miss probability e^-7 ~ 0.1%) — at 200 chars the boundary
    # rung legitimately misses ~1/3 of the time by the anchor-density
    # formula in the operator docstring
    block = "".join(rng.choice(alphabet) for _ in range(600))
    rows = []
    for i, off in enumerate((0, 1, 3, 7, 13)):
        pad = "".join(rng.choice(alphabet) for _ in range(off))
        tail = "".join(rng.choice(alphabet) for _ in range(60))
        rows.append((i + 1, pad + block + tail, "en", f"s{i}", 1))
    # the 200-char planted block used by the sibling grid test missed
    # rung 128 entirely — keep the regression visible: 600 covers 16-256
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "docs"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.win_len: r for r in dedup.substring_repeat_ladder(spark, str(d)).collect()}
    for w in (16, 32, 64, 128, 256):
        assert out[w].dup_windows > 0, f"rung {w} missed the unaligned repeat"
        assert out[w].docs_with_dup == 5, (w, out[w])


def test_lsh_bucket_occupancy_cap(spark, tmp_path, monkeypatch):
    """A templated corpus collides a whole near-identical cluster into
    every band bucket (ADVICE r6): per-bucket occupancy is hard-capped at
    LSH_BUCKET_CAP before the collect_list, so no single task holds an
    O(N) array / C(N,2) explode. Deterministic on both engines: cap 3
    over 6 identical docs yields exactly C(3,2)=3 verified pairs (the 3
    smallest doc_ids), not C(6,2)=15 — and the oracle's QUALIFY mirrors
    the selection bit-for-bit."""
    import duckdb as _duck

    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 3)
    d = str(tmp_path)
    con = _duck.connect()
    con.execute(
        "COPY (SELECT CAST(i AS BIGINT) AS doc_id,"
        " 'one shared template body repeated verbatim across every doc"
        " in the cluster' AS text FROM range(6) t(i))"
        f" TO '{d}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    from etl_schema_spark.operators import contracts

    sink = {}
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", sink)
    out = dedup.dedup_minhash_portable(spark, d)
    rows = out.collect()
    assert len(rows) == 3, rows
    assert {(r.doc_a, r.doc_b) for r in rows} == {(0, 1), (0, 2), (1, 2)}
    # the cap firing is OBSERVABLE (ADVICE r7): 6 identical docs in each
    # of 4 band buckets, cap 3 -> 3 truncated rows per bucket
    m = sink["minhash_band_cap"].get
    assert m["rows_past_cap"] == 12 and m["max_occupancy"] == 6, m
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", None)
    assert_matches_oracle(out, con, dedup.dedup_minhash_portable_oracle())
    # the production xxhash64 path applies the same cap, same signal
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", sink)
    assert dedup.dedup_minhash_lsh(spark, d).count() == 3
    m = sink["lsh_bucket_cap"].get
    assert m["rows_past_cap"] == 12 and m["max_occupancy"] == 6, m
