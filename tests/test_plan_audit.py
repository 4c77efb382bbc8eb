"""Fleet-wide physical-plan audit (SURVEY §4).

Every queries() entry must compile to a scale-worthy plan:
  - no CartesianProduct / BroadcastNestedLoopJoin, except operators whose
    semantics are genuinely all-pairs (kept as documented correctness
    baselines with a bucketed scale path alongside);
  - no row-at-a-time PythonUDF in any plan (Pandas/Arrow only);
  - every parquet scan prunes columns (never reads a table's full width
    when the query needs a subset — spot-checked on the widest scans).
"""

import os

import pytest

import __spark_entry__ as entry

from .conftest import REPO

# all-pairs by definition (exactness baselines or deliberate small-side
# cross joins): ann brute force broadcasts a tiny query set against the
# collection; kmeans broadcasts K centroids per point. embedding_cosine_dup
# is deliberately NOT here since round 2 — its production path is the
# banded LSH equi-join, so the no-cartesian assertion now covers it.
ALLPAIRS_OK = {
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "knn_classify",
    "kmeans_clusters",
    "tfidf_top_terms",  # broadcast 1-row corpus-size join
    # broadcast 1-row scalar joins (global total / max): BNLJ with a
    # single-row build side is O(n) — the intended plan for a scalar
    # threshold at any scale
    "q11_important_stock",
    "q15_top_supplier",
    "zipf_term_stats",
    "domain_mix_weights",  # two broadcast 1-row normalizing constants
    # rides lm_domain_perplexity's broadcast 1-row bigram-total join (the
    # LM's smoothing denominator) — same scalar-threshold class as above
    "doremi_excess_reweight",
    "gapfill_locf",  # broadcast 1-row global min/max hour bounds onto |types|
    "gapfill_interp",  # same broadcast 1-row bounds spine as gapfill_locf
    # evaluates the allowlisted brute-force baseline (broadcast queries
    # over the scan) against the LSH index — inherits that BNLJ
    "ndcg_eval",
    # per-type sketch summaries pair up via a theta join over <= |types|^2
    # rows (sketch metadata, not data) — intended BNLJ at any scale
    "kmv_set_ops",
    # probe universe = |types| x |distinct users| — dimension-sized cross
    # join by definition (the fact is reduced to distinct pairs first)
    "bloom_membership",
    # broadcast tiny-side cross joins: a 1-row kept-words total and a
    # 4-row quantile-boundary table respectively — O(n) BNLJ by design
    "source_quality_profile",
    "perplexity_buckets",
    # codebook assignment: every vector scores |labels| broadcast
    # centroids — the canonical IVF probe shape (same as ann_ivf/kmeans)
    "semdedup_clusters",
    "embedding_outliers",
    # broadcast 1-row (n_docs, avgdl) corpus stats onto the postings hits
    "bm25_retrieval",
    # broadcast 1-row corpus high-water mark onto the per-user aggregates
    "rfm_features",
    # assembles three 1-row pipeline counts (the kmv_set_ops pattern)
    "minhash_pr_eval",
    # broadcast 1-row feature-total normalizer (the domain_mix_weights
    # pattern) onto the ≤1024-row bucket table
    "dsir_importance_weights",
    # 9-row threshold spine non-equi-joins the ≤9-row bucket aggregate +
    # a 1-row totals normalizer — metadata-sized BNLJ by construction
    "length_filter_sweep",
    # each unique/foreign-key counter (a 1-row aggregate) cross-joins the
    # 1-row table total so `checked` stays consistent — every BNLJ input
    # is one row by construction (the report is metadata-sized)
    "quality_expectation_report",
    # broadcast 1-row totals normalizer onto the ≤1024-row bucket model
    # (the dsir_importance_weights pattern, twice)
    "lm_domain_perplexity",
    # broadcast 1-row corpus token total (the perplexity_buckets pattern)
    "ccnet_source_split",
    # broadcast 1-row smallest-class target onto the ranked frame
    "label_balance_sample",
    # 1-row counter stats cross-join the 1-row dominant-width mode
    "embedding_domain_profile",
    # evaluates the allowlisted brute-force baseline — inherits its BNLJ
    # (the ndcg_eval precedent)
    "ivf_recall_eval",
    # same baseline inheritance as ivf_recall_eval, plus the codebook
    # assignment cross (queries x broadcast centroids, the IVF probe
    # shape) and the |labels|^2 centroid-graph self-pairing — all
    # metadata-sized by construction
    "ann_graph_expand_eval",
    # broadcast 1-row time-range bounds (the gapfill_locf pattern)
    "psi_value_drift",
}

QUERIES = entry.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_rowudf(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in ALLPAIRS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested loop join\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF\n{plan}"


@pytest.mark.parametrize("name", ["pack_sequences", "source_token_budget"])
def test_no_single_reducer_source_window(name, spark, sf_dir):
    """The per-source running sums must use the distributed two-phase
    pattern: a chunked split on (source, order) feeding a (chunk, source)
    local window — never a full-table window partitioned by `source`
    alone, which is a single task per source at 100 TB. (A source-only
    window DOES remain over the per-(chunk, source) offset table — that
    input is metadata-sized by construction, so it is exempt.)

    Both chunk by distributed.chunk_id, a pure row function of the order
    key, so neither plan holds a sampled range split: pack_sequences
    orders by doc_id (a log-linear bin: log2 in the plan),
    source_token_budget by an md5 key (the hex-prefix bucket: conv)."""
    import re

    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, f"{name}: sampled split returned\n{plan}"
    chunk_fn = "LOG2(" if name == "pack_sequences" else "conv(substring("
    assert chunk_fn in plan, f"{name}: no chunk id in plan\n{plan}"
    local = re.search(r"windowspecdefinition\(_+pid\w*#\d+L?, source#\d+", plan)
    assert local, f"{name}: no (chunk, source)-local window\n{plan}"


@pytest.mark.skipif(
    os.environ.get("ETL_TEST_AQE", "true") == "false",
    reason="pin coalescing is an AQE decision",
)
def test_session_pin_is_coalesced(spark):
    """A session pin whose plan ends in a shuffle must not keep all
    shuffle.partitions partitions: the session lets AQE coalesce a cached
    plan's last shuffle (canChangeCachedPlanOutputPartitioning), so every
    stage that reads a small pin runs a few tasks, not one per partition.
    A join over the coalesced pin still equals the join over the unpinned
    frame (the join plans its own exchange when the widths differ)."""
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.cachereg import release_pins, swap_pin
    from etl_schema_spark.session import shuffle_partitions

    base = spark.range(100).withColumn("k", F.col("id") % 7)
    counts = base.groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    dim = spark.range(7).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    try:
        pinned = swap_pin("test_plan_audit.pin_coalesced", counts)
        assert pinned.count() == 7
        assert pinned.rdd.getNumPartitions() < shuffle_partitions(spark)
        joined = sorted(pinned.join(dim, "k").collect())
        assert joined == sorted(counts.join(dim, "k").collect())
    finally:
        release_pins("test_plan_audit.pin_coalesced")


def test_scans_prune_columns(spark, sf_dir):
    """The widest fact scans must read only the columns the query needs."""
    from etl_schema_spark.operators import relational

    plan = (
        relational.q6_forecast_revenue(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # q6 needs 4 lineitem columns; the 16-column full width must not appear
    assert "l_returnflag" not in plan.split("ReadSchema")[-1], plan


def test_registry_contract():
    """Every oracle key pairs with a queries() entry; since round 5 every
    registry entry carries an oracle (dedup_minhash_lsh gained a portable
    self-consistency twin), so the rows-only set is empty."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_registry_synced_with_survey_and_plans():
    """The inventory the judge audits: SURVEY §2 rows == registry keys ==
    PLANS.md rows. A programmatic lockstep so the §7 count can never drift
    from the actual registry again (it said 129 vs 130 in round 4)."""
    import re

    qs = set(entry.queries())

    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    sec2 = survey.split("\n## §2")[1].split("\n## §3")[0]
    survey_keys = set(re.findall(r"^\| `([a-z0-9_]+)`", sec2, re.M))
    assert survey_keys == qs, (
        f"SURVEY §2 missing: {sorted(qs - survey_keys)}; "
        f"stale: {sorted(survey_keys - qs)}"
    )

    plans = open(os.path.join(REPO, "PLANS.md")).read()
    plan_keys = set(re.findall(r"^\| ([a-z0-9_]+) \|", plans, re.M)) - {"query"}
    assert plan_keys == qs, (
        f"PLANS.md missing: {sorted(qs - plan_keys)}; "
        f"stale: {sorted(plan_keys - qs)}"
    )


def _registry_order_and_cap():
    """Parse __spark_entry__.py source: (ordered entry names, cap index)."""
    import re

    src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    body = src.split("def queries()")[1].split("def oracle_sql()")[0]
    names, cap_at = [], None
    for line in body.splitlines():
        if re.match(r'^        "[a-z0-9_]+":', line):
            names.append(line.split('"')[1])
        elif "50-entry scoring cap lands here" in line:
            cap_at = len(names)
    return names, cap_at


def test_scoring_cap_marker_at_50():
    """The driver scores exactly the first 50 queries() entries. The cap
    marker comment must sit exactly there — round 4 had it at 51 and
    stranded token_count_bpe without a verdict (ADVICE r4)."""
    names, cap_at = _registry_order_and_cap()
    assert cap_at == 50, f"cap marker after {cap_at} entries, want 50"
    assert len(names) == len(set(names)), "duplicate registry keys"
    assert names == list(entry.queries()), "parsed order != actual registry"


def test_unverdicted_entries_sort_into_scored_window():
    """Rotation policy, mechanically: any entry whose LATEST driver verdict
    (CORRECTNESS_r*.json history) is missing or non-green must appear in
    the first 50 — otherwise it cannot receive a verdict this round. New
    operators added mid-round trip this automatically if appended at the
    tail (the round-1/2/4 failure mode)."""
    import glob
    import json

    names, _ = _registry_order_and_cap()
    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        for key, rec in json.load(open(path)).items():
            latest[key] = rec

    scored = set(names[:50])
    for name in names:
        rec = latest.get(name)
        green = rec is not None and (
            rec.get("hash_match") is True
            # pre-r5 rows-only record for dedup_minhash_lsh: superseded by
            # the r5 oracle, so it must rotate in (covered by `rec` check)
        )
        if not green:
            assert name in scored, (
                f"{name} has no green driver verdict yet but sits past the "
                f"50-entry scoring cap"
            )


def test_stale_entries_sort_into_scored_window():
    """The changed-since-verdict half of the rotation guard (r4 brief item
    7, finished in r6): any entry whose implementing function — or a
    transitively referenced in-package helper or constant — differs from
    its state at the round-boundary commit of the entry's latest green
    verdict MUST sort inside the scored-50 window, so the driver re-scores
    the code that actually exists. embedding_cosine_dup carried an r2
    verdict across an r5 adaptive-banding rewrite precisely because this
    check did not exist (VERDICT r5's single `weak`)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "verdict_freshness", os.path.join(REPO, "tools", "verdict_freshness.py")
    )
    vf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vf)

    names, _ = _registry_order_and_cap()
    scored = set(names[:50])
    fresh = vf.freshness()
    # r8: the deferral allowlist retires EMPTY (VERDICT r7 item 3). The
    # window holds exactly 50 = 9 new + 17 own-changed + 24
    # helper-changed — every r7 deferral sits IN-window and gets a fresh
    # driver verdict this round. Re-populate this set ONLY as a
    # one-round defer when a rotation genuinely overflows the window,
    # with the same in-window-owner-per-change-class argument r7 used.
    DEFERRED_HELPER_ONLY: set[str] = set()
    for k in DEFERRED_HELPER_ONLY:
        assert fresh[k].get("reason") == "helper changed", (
            f"{k} is deferred but its OWN function changed — not deferrable"
        )
    stale = [k for k, v in fresh.items() if not v["fresh"]]
    outside = [k for k in stale if k not in scored and k not in DEFERRED_HELPER_ONLY]
    assert not outside, (
        f"{len(outside)} entries changed since their last driver verdict "
        f"but sit past the 50-entry scoring cap: {sorted(outside)}"
    )
    # deferred entries must lead the below-cap region so r7 scores them
    below_cap = names[50:]
    assert set(below_cap[: len(DEFERRED_HELPER_ONLY)]) == DEFERRED_HELPER_ONLY


def test_headline_set_frozen():
    """The bench HEADLINE set is FROZEN at the round-6 56-query baseline
    (VERDICT r5 item 5): per-round additions eroded the cross-round common
    set (46 common of 56 in r5 vs r4). New operators get scale evidence
    through tools/bench_scale.py, not by growing this list."""
    import hashlib

    import bench

    assert len(bench.HEADLINE) == 56
    assert len(set(bench.HEADLINE)) == 56
    assert (
        hashlib.md5(",".join(bench.HEADLINE).encode()).hexdigest()
        == "657633faeb1e4da39ada42980c362f4c"
    ), "HEADLINE changed — the set is frozen for cross-round comparability"
    from __spark_entry__ import queries

    qs = queries()
    assert all(name in qs for name in bench.HEADLINE)
