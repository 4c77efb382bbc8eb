"""Scale-evidence runner: times the documents/embeddings/events-bound
operators at sf0.1 and at the 10x sf1-equivalent corpus produced by
tools/make_scale.py, and prints a markdown table with the warm-median
times and the 10x growth ratio per query.

Interpretation targets (VERDICT r4 item 4): scan-bound ops should grow
~linearly (ratio ~<= 10 plus fixed overhead amortization, so usually
well under 10 locally); LSH/banded ops should grow with collision
volume, not candidate-pair volume (ratio ~10, never ~100 — the
replica-disjoint amplification keeps true pair counts linear, so a
quadratic candidate explosion would show up immediately).

Usage: python tools/bench_scale.py [base_dir] [big_dir] [passes]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_schema_spark.session import get_spark  # noqa: E402

BASE = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
BIG = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scale", "sf1eq")
PASSES = int(sys.argv[3]) if len(sys.argv) > 3 else 3
ONLY = sys.argv[4:]  # optional: restrict to these registry entries

# docs/embeddings/events-bound registry entries, heaviest families first
SCALE_QUERIES = [
    "embedding_cosine_dup",
    "embedding_decontaminate",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_portable",
    "simhash_fingerprint",
    "tfidf_top_terms",
    "pack_sequences",
    "token_count",
    "hourly_rollup",
    "sessionized_events",
    "rolling_active_users",
    # round-5 operators
    "perplexity_buckets",
    "pmi_cooccur_terms",
    "mad_outliers",
    "interval_coverage",
    "reservoir_sample_per_key",
    "boundary_templates",
    "source_quality_profile",
    "tokenizer_fertility",
    # round-6 operators
    "substring_repeat_ladder",
    "ann_pq_topk",
    # round-8 operators
    "restore_unique_docs",
    "repeat_profile_automaton",
    "unigram_lm_pieces",
    "dsir_importance_weights",
    "cross_source_dup_leakage",
    "length_filter_sweep",
    "trimmed_mean_value",
    "weighted_sample_ares",
    "lsh_tuning_curve",
    # round-9 operators
    "quality_expectation_report",
    "embedding_domain_profile",
    "ccnet_source_split",
    "lm_domain_perplexity",
    "ivf_recall_eval",
    "label_balance_sample",
    "streaming_quality_gated_publish",
    "psi_value_drift",
    "topk_drift_weekly",
    # round-10 operators
    "doc_length_drift",
    "dedup_aware_split",
    "centroid_shift_drift",
    "pii_risk_profile",
    "quality_score_calibration",
    "doremi_excess_reweight",
    "near_dup_keep_plan",
    "key_skew_profile",
    "streaming_ingest_restore",
]


def warm_median(fn, spark, sf_dir: str) -> float:
    times = []
    for _ in range(PASSES + 1):  # first run is the warmup/cold pass
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    warm = sorted(times[1:])
    return warm[len(warm) // 2]


def main() -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("bench-scale")
    qs["token_count"](spark, BASE).write.format("noop").mode("overwrite").save()

    print(f"| query | {os.path.basename(BASE)} warm-med s | sf1eq warm-med s | ratio (10x data) |")
    print("| --- | --- | --- | --- |")
    for name in ONLY or SCALE_QUERIES:
        a = warm_median(qs[name], spark, BASE)
        b = warm_median(qs[name], spark, BIG)
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x |", flush=True)


if __name__ == "__main__":
    main()
