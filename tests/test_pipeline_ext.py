"""Round-4 pipeline extensions: streaming registry entries, model-based
quality scoring, embedding decontamination, epoch allocation, dup-cluster
profile (SURVEY §2A/§2C)."""

from pyspark.sql import functions as F

from etl_schema_spark import streaming
from etl_schema_spark.operators import curation, graph, packing, similarity
from etl_schema_spark.operators.packing import EPOCH_DOC_BUDGET

from .conftest import assert_matches_oracle


def test_streaming_hourly_counts_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        streaming.streaming_hourly_counts(spark, sf_dir),
        duck,
        streaming.streaming_hourly_counts_oracle(),
    )


def test_streaming_session_windows_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        streaming.streaming_session_windows(spark, sf_dir),
        duck,
        streaming.streaming_session_windows_oracle(),
    )


def test_quality_logreg_score_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        curation.quality_logreg_score(spark, sf_dir),
        duck,
        curation.quality_logreg_score_oracle(),
    )


def test_quality_logreg_weight_sum_exact(spark, sf_dir):
    """The weight sum is an exact integer — repartitioning cannot change it
    (the property float dot products lack)."""
    out = curation.quality_logreg_score(spark, sf_dir)
    a = {r.doc_id: r.w_sum for r in out.collect()}
    b = {
        r.doc_id: r.w_sum
        for r in curation.quality_logreg_score(spark, sf_dir)
        .repartition(7)
        .collect()
    }
    assert a == b


def test_embedding_decontaminate_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.embedding_decontaminate(spark, sf_dir),
        duck,
        similarity.embedding_decontaminate_oracle(),
    )


def test_embedding_decontaminate_split_is_cross_only(spark, sf_dir):
    """Every flagged pair crosses the split: train ids never appear as eval
    ids and vice versa."""
    out = similarity.embedding_decontaminate(spark, sf_dir).collect()
    trains = {r.train_id for r in out}
    evals = {r.eval_id for r in out}
    assert trains.isdisjoint(evals)


def test_mix_epoch_plan_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        packing.mix_epoch_plan(spark, sf_dir), duck, packing.mix_epoch_plan_oracle()
    )


def test_mix_epoch_plan_sums_to_budget(spark, sf_dir):
    """Largest-remainder apportionment allocates exactly the budget, and
    every source gets base or base+1."""
    rows = packing.mix_epoch_plan(spark, sf_dir).collect()
    assert sum(r.alloc for r in rows) == EPOCH_DOC_BUDGET
    assert all(r.alloc in (r.base_alloc, r.base_alloc + 1) for r in rows)


def test_dup_cluster_stats_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        graph.dup_cluster_stats(spark, sf_dir), duck, graph.dup_cluster_stats_oracle()
    )


def test_dup_cluster_stats_consistent_with_components(spark, sf_dir):
    """The profile's doc total equals the corpus size, and the n_docs
    column equals size * count per row."""
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    rows = graph.dup_cluster_stats(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.n_docs == r.cluster_size * r.n_clusters for r in rows)


def test_skew_salted_daily_users_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import skew

    assert_matches_oracle(
        skew.skew_salted_daily_users(spark, sf_dir),
        duck,
        skew.skew_salted_daily_users_oracle(),
    )


def test_salted_collect_salt_invariant(spark, sf_dir):
    """The merged sorted arrays are identical for any salt width."""
    from etl_schema_spark.operators import skew
    from etl_schema_spark.sources.catalog import load_table

    pairs = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    a = {
        (r.event_type, r.day): r.users
        for r in skew.salted_collect(
            pairs, ["event_type", "day"], "user_id", out="users"
        ).collect()
    }
    b = {
        (r.event_type, r.day): r.users
        for r in skew.salted_collect(
            pairs, ["event_type", "day"], "user_id", salt=3, out="users"
        ).collect()
    }
    assert a == b


def test_bpe_merge_candidates_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import text

    assert_matches_oracle(
        text.bpe_merge_candidates(spark, sf_dir),
        duck,
        text.bpe_merge_candidates_oracle(),
    )


def test_bpe_merge_candidates_counts(spark, sf_dir):
    """Spot-check the pair counting against a driver-side recount."""
    from collections import Counter

    from etl_schema_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    c = Counter()
    for r in docs:
        for w in r.text.lower().split():
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
    top = text.bpe_merge_candidates(spark, sf_dir).collect()
    assert top[0].n == max(c.values())
    assert {(r.pair, r.n) for r in top} <= set(c.items())


def test_user_transition_matrix_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import analytics

    assert_matches_oracle(
        analytics.user_transition_matrix(spark, sf_dir),
        duck,
        analytics.user_transition_matrix_oracle(),
    )


def test_user_transition_matrix_rows_normalize(spark, sf_dir):
    from collections import defaultdict

    from etl_schema_spark.operators import analytics

    rows = analytics.user_transition_matrix(spark, sf_dir).collect()
    by_from = defaultdict(float)
    for r in rows:
        by_from[r.from_type] += r.prob
    # trunc6 loses at most 1e-6 per cell
    assert all(1 - 1e-5 * len(rows) <= v <= 1.0 for v in by_from.values())


def test_session_top_paths_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import sessions

    assert_matches_oracle(
        sessions.session_top_paths(spark, sf_dir),
        duck,
        sessions.session_top_paths_oracle(),
    )


def test_session_top_paths_counts_match_sessions(spark, sf_dir):
    """The top-K paths cover at most every session, and ranking starts
    at 1."""
    from etl_schema_spark.operators import sessions

    n_sessions = sessions.sessionized_events(spark, sf_dir).count()
    top = sessions.session_top_paths(spark, sf_dir).collect()
    assert sum(r.n_sessions for r in top) <= n_sessions
    assert top[0].rank == 1


def test_streaming_distinct_keys_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        streaming.streaming_distinct_keys(spark, sf_dir),
        duck,
        streaming.streaming_distinct_keys_oracle(),
    )


def test_substring_dup_spans_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import dedup

    assert_matches_oracle(
        dedup.substring_dup_spans(spark, sf_dir),
        duck,
        dedup.substring_dup_spans_oracle(),
    )


def test_substring_dup_spans_flags_planted_dup(spark, sf_dir, tmp_path):
    """Two docs sharing a verbatim 64-char block are both flagged; a
    unique doc is not."""
    import pyspark.sql.functions as FF

    from etl_schema_spark.operators import dedup

    block = "x" * 40 + "shared boilerplate sentence here!" + "y" * 40
    rows = [
        (1, block + " unique tail one", "en", "s1", 1),
        (2, "different head text " + block, "en", "s2", 1),
        (3, "totally unrelated content with no overlap at all " * 4, "en", "s3", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "docs"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r.n_dup_windows for r in dedup.substring_dup_spans(spark, str(d)).collect()}
    assert out[1] > 0 and out[2] > 0 and out[3] == 0


def test_streaming_hopping_counts_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        streaming.streaming_hopping_counts(spark, sf_dir),
        duck,
        streaming.streaming_hopping_counts_oracle(),
    )


def test_streaming_attribution_join_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        streaming.streaming_attribution_join(spark, sf_dir),
        duck,
        streaming.streaming_attribution_join_oracle(),
    )


def test_image_ahash_dup_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import multimodal

    assert_matches_oracle(
        multimodal.image_ahash_dup(spark, sf_dir),
        duck,
        multimodal.image_ahash_dup_oracle(),
    )


def test_image_ahash_cluster_consistency(spark, sf_dir):
    """Cluster sizes sum to the corpus; exactly one canonical per hash."""
    from collections import Counter

    from etl_schema_spark.operators import multimodal

    rows = multimodal.image_ahash_dup(spark, sf_dir).collect()
    by_hash = Counter(r.ahash for r in rows)
    assert all(r.n_imgs == by_hash[r.ahash] for r in rows)
    canon = Counter(r.ahash for r in rows if r.is_canonical)
    assert set(canon) == set(by_hash) and all(v == 1 for v in canon.values())


def test_audio_vad_segments_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import multimodal

    assert_matches_oracle(
        multimodal.audio_vad_segments(spark, sf_dir),
        duck,
        multimodal.audio_vad_segments_oracle(),
    )


def test_audio_vad_segments_are_above_mean_islands(spark, sf_dir):
    """Every segment's windows are consecutive and strictly above the
    clip's mean window energy."""
    from collections import defaultdict

    from etl_schema_spark.operators import multimodal

    energies = defaultdict(dict)
    for r in multimodal.multimodal_wav_energy(spark, sf_dir).collect():
        energies[r.doc_id][r.window_idx] = r.energy
    for r in multimodal.audio_vad_segments(spark, sf_dir).collect():
        doc = energies[r.doc_id]
        n, tot = len(doc), sum(doc.values())
        assert r.end_window - r.start_window + 1 == r.n_windows
        for wdx in range(r.start_window, r.end_window + 1):
            assert doc[wdx] * n > tot


def test_minhash_jaccard_estimate_oracle(spark, sf_dir, duck):
    from etl_schema_spark.operators import dedup

    assert_matches_oracle(
        dedup.minhash_jaccard_estimate(spark, sf_dir),
        duck,
        dedup.minhash_jaccard_estimate_oracle(),
    )


def test_minhash_signature_seeds_are_distinct(spark, sf_dir):
    """Regression: each seed must hash with its own prefix. A
    two-parameter transform lambda once collapsed all seeds to one
    degenerate family (index-column binding) — signatures then repeat one
    value. Assert real multi-seed variation and agreement with a driver-
    side recompute."""
    import hashlib

    from pyspark.sql import functions as F

    from etl_schema_spark.operators.dedup import (
        MINHASH_SEEDS,
        _md5_minhash,
        _shingled_docs,
    )

    docs = _shingled_docs(spark, sf_dir).limit(5)
    sig = docs.select("doc_id", "shingles", _md5_minhash(F.col("shingles")).alias("mh"))
    for r in sig.collect():
        want = [
            min(hashlib.md5((f"{i}:" + s).encode()).hexdigest() for s in r.shingles)
            for i in range(MINHASH_SEEDS)
        ]
        assert list(r.mh) == want
        assert len(set(r.mh)) > 1  # degenerate family repeats one value


def test_minhash_estimate_is_calibrated(spark, sf_dir):
    """The signature estimate tracks exact Jaccard within the sketch's
    standard error (~1/sqrt(seeds)) on average."""
    from etl_schema_spark.operators import dedup
    from etl_schema_spark.operators.dedup import MINHASH_SEEDS

    rows = dedup.minhash_jaccard_estimate(spark, sf_dir).collect()
    assert rows
    mean_err = sum(r.abs_err for r in rows) / len(rows)
    assert mean_err <= 2.0 / (MINHASH_SEEDS ** 0.5)
