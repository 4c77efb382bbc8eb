"""Similarity-search, sessionization, and multimodal tests (SURVEY §2B/§2C)."""

from etl_schema_spark.operators import multimodal, sessions, similarity

from .conftest import assert_matches_oracle


def test_ann_bruteforce(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.ann_bruteforce_topk(spark, sf_dir), duck, similarity.ann_bruteforce_topk_oracle()
    )


def test_cosine_dup(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.embedding_cosine_dup(spark, sf_dir), duck, similarity.embedding_cosine_dup_oracle()
    )


def test_cosine_dup_banded_subset_and_recall(spark, sf_dir):
    """The banded production path must (a) return a subset of the exact n²
    pairs with identical cosines, and (b) keep recall above the banding
    S-curve floor at tau."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_cosine_dup_exact(spark, sf_dir).collect()
    }
    banded = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_cosine_dup(spark, sf_dir).collect()
    }
    assert set(banded) <= set(exact)
    for pair, cos in banded.items():
        assert cos == exact[pair]
    recall = len(banded) / len(exact)
    assert recall >= 0.3, f"banded recall = {recall:.2f}"


def test_ivf_is_bruteforce_restricted_to_bucket(spark, sf_dir):
    """IVF results must agree with brute force wherever the brute-force
    neighbor lives in the probed bucket (exactness within the bucket)."""
    bf = similarity.ann_bruteforce_topk(spark, sf_dir).collect()
    ivf = similarity.ann_ivf_topk(spark, sf_dir).collect()
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    buckets = {r.query_id: r.bucket for r in ivf}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    for r in bf:
        if labels[r.neighbor_id] == buckets.get(r.query_id) and r.rank <= 5:
            assert (r.query_id, r.neighbor_id) in ivf_set, r


def test_ann_plans_broadcast_queries(spark, sf_dir):
    plan = (
        similarity.ann_bruteforce_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_sessionized_events(spark, sf_dir, duck):
    assert_matches_oracle(
        sessions.sessionized_events(spark, sf_dir), duck, sessions.sessionized_events_oracle()
    )


def test_session_gap_semantics(spark, sf_dir):
    rows = sessions.sessionized_events(spark, sf_dir).collect()
    # sessions of one user never overlap and are ordered
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.session_seq)
        for prev, cur in zip(rs, rs[1:]):
            gap = (cur.session_start - prev.session_end).total_seconds()
            assert gap > sessions.SESSION_GAP_MIN * 60 - 1, (user, prev, cur)


def test_running_totals(spark, sf_dir, duck):
    assert_matches_oracle(
        sessions.running_totals(spark, sf_dir), duck, sessions.running_totals_oracle()
    )


def test_top_clients(spark, sf_dir, duck):
    assert_matches_oracle(
        sessions.top_clients_per_type(spark, sf_dir), duck, sessions.top_clients_per_type_oracle()
    )


def test_multimodal_meta(spark, sf_dir, duck):
    assert_matches_oracle(
        multimodal.multimodal_meta(spark, sf_dir), duck, multimodal.multimodal_meta_oracle()
    )


def test_multimodal_payload_schema(spark, sf_dir):
    df = multimodal.binary_payloads(spark, sf_dir)
    dtypes = dict(df.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["byte_len"] == "bigint" or dtypes["byte_len"] == "int"
    row = df.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.byte_len == len(row.payload)


def test_tfidf_top_terms(spark, sf_dir, duck):
    from etl_schema_spark.operators import text

    assert_matches_oracle(text.tfidf_top_terms(spark, sf_dir), duck, text.tfidf_top_terms_oracle())


def test_knn_classify(spark, sf_dir, duck):
    from etl_schema_spark.operators import similarity

    assert_matches_oracle(
        similarity.knn_classify(spark, sf_dir), duck, similarity.knn_classify_oracle()
    )


def test_kmeans_clusters(spark, sf_dir):
    from etl_schema_spark.operators import similarity

    from etl_schema_spark.sources.catalog import load_table

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    out = similarity.kmeans_clusters(spark, sf_dir).collect()
    assert len(out) == similarity.KMEANS_K
    assert sum(r.n_members for r in out) == n_vecs  # all vectors assigned
    assert all(r.inertia >= 0 for r in out)


def test_ann_lsh_topk(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        similarity.ann_lsh_topk(spark, sf_dir), duck, similarity.ann_lsh_topk_oracle()
    )


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    # banding with 4x4 bits keeps candidate sets small; recall must still
    # beat random chance by a wide margin for the probe to be useful
    assert recall >= 0.3, f"recall@{similarity.TOP_K} = {recall:.2f}"


def test_embedding_quantize_oracle(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        similarity.embedding_quantize(spark, sf_dir),
        duck,
        similarity.embedding_quantize_oracle(),
    )


def test_embedding_quantize_error_bound(spark, sf_dir):
    # max reconstruction error of symmetric int8 is <= scale/2 per element
    from pyspark.sql import functions as F

    bad = (
        similarity.embedding_quantize(spark, sf_dir)
        # scale6/max_err are floor-truncated; allow one ulp of the 1e-6 grid
        .filter(F.col("max_err") > F.col("scale6") / 2 + 1e-6)
    )
    assert bad.count() == 0


def test_kmeans_oracle(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        similarity.kmeans_clusters(spark, sf_dir),
        duck,
        similarity.kmeans_clusters_oracle(),
    )

def test_ann_ivf_oracle(spark, sf_dir, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        similarity.ann_ivf_topk(spark, sf_dir),
        duck,
        similarity.ann_ivf_topk_oracle(),
    )


def test_interval_coverage_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        sessions.interval_coverage(spark, sf_dir),
        duck,
        sessions.interval_coverage_oracle(),
    )


def test_interval_coverage_bounds(spark, sf_dir):
    """Covered time is bounded below by one interval width (any user with
    events) and above by n_events * width; islands <= events."""
    w = sessions.INTERVAL_WIDTH_US
    for r in sessions.interval_coverage(spark, sf_dir).collect():
        assert r.n_islands <= r.n_events
        assert r.covered_micros >= w
        assert r.covered_micros <= r.n_events * w


def test_semdedup_clusters_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.semdedup_clusters(spark, sf_dir),
        duck,
        similarity.semdedup_clusters_oracle(),
    )


def test_semdedup_witness_rules(spark, sf_dir):
    """Witness is always a smaller id in the same cluster; the first
    vector of every cluster is never dropped."""
    rows = similarity.semdedup_clusters(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for c, rs in by_cluster.items():
        first = min(r.vec_id for r in rs)
        for r in rs:
            if r.vec_id == first:
                assert not r.is_dup
            if r.is_dup:
                assert r.dup_of < r.vec_id
                assert any(o.vec_id == r.dup_of and o.cluster == c for o in rs)


def test_embedding_outliers_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.embedding_outliers(spark, sf_dir),
        duck,
        similarity.embedding_outliers_oracle(),
    )


def test_embedding_outliers_are_lowest_cos(spark, sf_dir):
    rows = similarity.embedding_outliers(spark, sf_dir).collect()
    n = len(rows)
    cut = max(1, int(similarity.OUTLIER_FRAC * n))
    flagged = sorted(r.centroid_cos for r in rows if r.is_outlier)
    clean = sorted(r.centroid_cos for r in rows if not r.is_outlier)
    assert len(flagged) == cut
    if flagged and clean:
        assert flagged[-1] <= clean[0] + 1e-9


def test_adaptive_band_params_pin_oracle_scales():
    """ORACLE-SAFETY INVARIANT: at every driver scale (embeddings rows:
    sf0.001=20? sf0.01=200, sf0.1=2000 — all <= 2400) the adaptive family
    must resolve to exactly the 4x4 the static oracle SQL encodes; beyond
    that, width grows with log2(n) and bands alongside, monotonically,
    within the cap."""
    from etl_schema_spark.operators.similarity import (
        LSH_MAX_BITS_PER_BAND,
        _adaptive_band_params,
    )

    for n in (1, 20, 200, 2000, 2400):
        assert _adaptive_band_params(n) == (4, 4), n
    prev_bits = 4
    for n in (5_000, 20_000, 200_000, 2_000_000, 10**9):
        bits, bands = _adaptive_band_params(n)
        assert bits >= prev_bits
        assert bands >= bits or bits == LSH_MAX_BITS_PER_BAND
        assert bits <= LSH_MAX_BITS_PER_BAND
        prev_bits = bits
    # bucket-occupancy bound: 2^bits >= n / (2 * target) up to the cap
    from etl_schema_spark.operators.similarity import LSH_TARGET_BUCKET

    for n in (5_000, 50_000, 500_000):
        bits, _ = _adaptive_band_params(n)
        if bits < LSH_MAX_BITS_PER_BAND:
            assert 2**bits >= n / LSH_TARGET_BUCKET / 2


def test_concurrency_peak_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        sessions.concurrency_peak(spark, sf_dir),
        duck,
        sessions.concurrency_peak_oracle(),
    )


def test_concurrency_peak_bounds(spark, sf_dir):
    """1 <= peak <= the user's event count, and the first-peak instant is
    a real sweep boundary (some event start or end)."""
    from pyspark.sql import functions as F

    from etl_schema_spark.sources.catalog import load_table

    counts = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = sessions.concurrency_peak(spark, sf_dir).collect()
    assert len(rows) == len(counts)
    for r in rows:
        assert 1 <= r.peak_overlap <= counts[r.user_id]


def test_triplet_mining_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.triplet_mining(spark, sf_dir),
        duck,
        similarity.triplet_mining_oracle(),
    )


def test_triplet_mining_hardness(spark, sf_dir):
    """One row per anchor; the mined positive is genuinely the in-class
    minimum (spot-check via the exact pairwise scan on a sample), labels
    differ for negatives, and margins reconcile."""
    from etl_schema_spark.sources.catalog import load_table

    rows = similarity.triplet_mining(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    assert len(rows) == emb.count()
    by_id = {r.label for r in emb.select("label").distinct().collect()}
    assert len(by_id) > 1
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in rows[:50]:
        assert labels[r.pos_id] == r.anchor_label
        if r.neg_id is not None:
            assert labels[r.neg_id] != r.anchor_label
            assert abs(r.margin - (r.pos_cosine - r.neg_cosine)) < 1e-12


def test_ndcg_eval_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.ndcg_eval(spark, sf_dir), duck, similarity.ndcg_eval_oracle()
    )


def test_ndcg_eval_bounds(spark, sf_dir):
    """One row per query; recall and NDCG in [0, 1e6]; NDCG >= ppm-floor
    of recall-weighted worst placement (hits at the list tail)."""
    rows = similarity.ndcg_eval(spark, sf_dir).collect()
    from etl_schema_spark.operators.similarity import N_QUERIES, TOP_K

    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0 <= r.hits <= TOP_K
        assert 0 <= r.recall_ppm <= 1_000_000
        assert 0 <= r.ndcg_ppm <= 1_000_000
        if r.hits == TOP_K:
            assert r.ndcg_ppm >= 999_000  # full recall => near-perfect NDCG


def test_jl_projection_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.jl_projection(spark, sf_dir),
        duck,
        similarity.jl_projection_oracle(),
    )


def test_jl_projection_sign_matches_lsh_bits(spark, sf_dir):
    """The LSH signature bit j is by construction the sign of JL
    coordinate j — verify on the materialized projection."""
    from etl_schema_spark.operators.similarity import JL_DIMS, _lsh_sig_bits
    from etl_schema_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    bits = emb.select(
        "vec_id", F.array(*_lsh_sig_bits(F.col("embedding"), JL_DIMS)).alias("b")
    ).collect()
    bit_map = {r.vec_id: r.b for r in bits}
    for r in similarity.jl_projection(spark, sf_dir).collect():
        expect = 1 if r.proj >= 0 else 0
        # trunc6 can flip a tiny positive to 0.0 but never changes sign class
        if abs(r.proj) > 1e-5:
            assert bit_map[r.vec_id][r.dim] == expect, r


def test_triplet_mining_singleton_class(spark, tmp_path):
    """A single-member label class must produce NO anchor row: before the
    _size > 1 filter, F.sequence(1, _size-1) = sequence(1, 0) = [1, 0]
    (descending default step) paired the anchor with itself as 'hardest
    positive' while the oracle's delta range was empty (ADVICE r5). The
    oracle must agree bit-for-bit on the same corpus."""
    import duckdb

    # 64-dim (the corpus embedding width the md5 hyperplane family spans);
    # deterministic pseudo-random components, one singleton class.
    def vec(seed):
        return [float(((seed * 31 + i * 7) % 97) - 48) / 48.0 for i in range(64)]

    rows, vid = [], 0
    for lbl, n in ((0, 1), (1, 3), (2, 3)):  # label 0 is the singleton
        for j in range(n):
            rows.append((vid, vec(vid + 1), lbl))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "emb"
    df.write.parquet(str(d / "embeddings.parquet"))
    out = similarity.triplet_mining(spark, str(d))
    got = out.collect()
    anchor_ids = {r.anchor_id for r in got}
    assert 0 not in anchor_ids, "singleton-class anchor leaked into output"
    assert len(got) == 6, "one row per non-singleton anchor"
    for r in got:
        assert r.pos_id != r.anchor_id, "anchor paired with itself as positive"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(out, con, similarity.triplet_mining_oracle())


def test_ann_pq_topk_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        similarity.ann_pq_topk(spark, sf_dir),
        duck,
        similarity.ann_pq_topk_oracle(),
    )


def test_ann_pq_topk_shape_and_selfexclusion(spark, sf_dir):
    rows = similarity.ann_pq_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert r.approx_d2 >= 0
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == similarity.N_QUERIES
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, similarity.TOP_K + 1)
        )
        d2s = [r.approx_d2 for r in sorted(rs, key=lambda r: r.rank)]
        assert d2s == sorted(d2s), "rank must follow ascending ADC distance"


def test_ann_pq_sample_vectors_encode_to_self(spark, sf_dir):
    """PQ self-consistency: each codebook sample vector's subvectors are
    themselves codewords, so the vector must encode to its own code with
    zero quantization error in every subspace — if not, the argmin or the
    slicing is off by one."""
    from pyspark.sql import functions as F

    from etl_schema_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.select(
            "vec_id",
            F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))).alias("_h"),
        )
        .orderBy("_h")
        .limit(similarity.PQ_K)
        .collect()
    )
    sample_ids = {r.vec_id for r in sample}
    expect_code = {
        r.vec_id: i for i, r in enumerate(sorted(sample, key=lambda r: r._h))
    }
    # re-derive codes through the operator's own encode path: run the full
    # operator on a corpus restricted to... simpler: recompute d2=0 check
    # via the public output is not exposed; instead verify through a
    # direct encode replay in python
    import math

    vecs = {r.vec_id: r.embedding for r in emb.filter(
        F.col("vec_id").isin([int(i) for i in sample_ids])).collect()}
    sub_d = 64 // similarity.PQ_M
    for vid in sample_ids:
        v = vecs[vid]
        for m in range(similarity.PQ_M):
            sub = v[m * sub_d : (m + 1) * sub_d]
            best = None
            for cid, r in ((expect_code[s.vec_id], vecs[s.vec_id]) for s in sample):
                cb = r[m * sub_d : (m + 1) * sub_d]
                d2 = sum((float(a) - float(b)) ** 2 for a, b in zip(sub, cb))
                cand = (d2, cid)
                best = cand if best is None or cand < best else best
            assert best[0] == 0.0 and best[1] == expect_code[vid], (
                vid, m, best,
            )


def test_cosine_dup_bucket_cap(spark, tmp_path, monkeypatch):
    """A templated cluster (identical vectors colliding in every band
    bucket) must contribute at most C(cap, 2) pairs — the cap keeps only
    the `cap` smallest vec_ids per (band, key) — and the QUALIFY mirror
    must agree bit-for-bit at the same patched cap."""
    import duckdb

    monkeypatch.setattr(similarity, "COSINE_BUCKET_CAP", 4)
    tpl = [float(((j % 8) + 1)) / 8.0 for j in range(64)]

    def vec(seed):
        return [float(((seed * 37 + i * 11) % 89) - 44) / 44.0 for i in range(64)]

    rows = [(v, tpl, 0) for v in range(10)]  # 10-replica cluster
    rows += [(10 + v, vec(v + 3), 1) for v in range(5)]  # background
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "embcap"
    df.write.parquet(str(d / "embeddings.parquet"))

    from etl_schema_spark.operators import contracts

    sink = {}
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", sink)
    out = similarity.embedding_cosine_dup(spark, str(d))
    got = out.collect()
    # the cap firing is OBSERVABLE (ADVICE r7): the 10-replica cluster
    # exceeds the patched cap of 4 in every shared bucket
    # >= 10: a background vector may share the cluster's coarse band key
    m = sink["cosine_bucket_cap"].get
    assert m["rows_past_cap"] > 0 and m["max_occupancy"] >= 10, m
    monkeypatch.setattr(contracts, "CAP_METRIC_SINK", None)
    cluster_pairs = [r for r in got if r.vec_a < 10 and r.vec_b < 10]
    # every band keeps the same 4 smallest ids -> exactly C(4,2) pairs
    assert len(cluster_pairs) == 6, cluster_pairs
    assert {(r.vec_a, r.vec_b) for r in cluster_pairs} == {
        (a, b) for a in range(4) for b in range(4) if a < b
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(out, con, similarity.embedding_cosine_dup_oracle())


def test_decontaminate_witness_and_eval_bucket_caps(spark, tmp_path, monkeypatch):
    """A cluster spanning the train/eval split must emit at most
    DECON_WITNESS_CAP rows per train item (not the |train| x |eval| pair
    matrix), witnesses chosen deterministically (trunc6 cosine desc,
    eval_id asc), with the eval-side bucket cap never dropping a
    contaminated train item — and the oracle must mirror both caps."""
    import duckdb
    import hashlib

    monkeypatch.setattr(similarity, "DECON_WITNESS_CAP", 2)
    monkeypatch.setattr(similarity, "DECON_EVAL_BUCKET_CAP", 3)

    def is_eval(v):
        return int(hashlib.md5(f"split:{v}".encode()).hexdigest()[:8], 16) % 10 == 0

    # collect >= 5 eval ids so the eval bucket cap (3) actually bites
    ids, evals = [], []
    v = 0
    while len(evals) < 5 or len(ids) - len(evals) < 8:
        ids.append(v)
        if is_eval(v):
            evals.append(v)
        v += 1
    tpl = [float(((j % 5) + 2)) / 7.0 for j in range(64)]
    rows = [(i, tpl, 0) for i in ids]  # one mega-cluster spanning the split
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "deconcap"
    df.write.parquet(str(d / "embeddings.parquet"))

    out = similarity.embedding_decontaminate(spark, str(d))
    got = out.collect()
    train_ids = [i for i in ids if not is_eval(i)]
    by_train = {}
    for r in got:
        by_train.setdefault(r.train_id, []).append(r)
    # every train item IS flagged (eval cap must not false-negative) ...
    assert set(by_train) == set(train_ids), (sorted(by_train), train_ids)
    kept_evals = sorted(evals)[:3]  # identical vectors: same bucket, 3 kept
    for t, rs in by_train.items():
        # ... with at most DECON_WITNESS_CAP witnesses, drawn from the
        # capped eval set, smallest eval_ids first (cosine all-equal here)
        assert len(rs) == 2, rs
        assert sorted(r.eval_id for r in rs) == kept_evals[:2], rs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(out, con, similarity.embedding_decontaminate_oracle())
