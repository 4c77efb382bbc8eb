"""Similarity search over `embeddings` (SURVEY §2C).

  ann_bruteforce_topk   exact cosine top-k: broadcast the (tiny) query set
                        against the full collection — the correctness
                        baseline. Scales linearly in collection size; the
                        query side is broadcast so the big side never
                        shuffles.
  embedding_cosine_dup  all pairs with cosine >= tau (near-dup detection).
                        O(n^2) baseline kept oracle-checkable; the scale
                        path is ann_ivf_topk's bucketing.
  ann_ivf_topk          IVF-style ANN: coarse quantizer = per-label centroid
                        (k-means assignments stand in for a trained
                        codebook); each query probes its nearest centroid's
                        bucket only. Oracle-checked: the codebook uses
                        decimal-exact pooling, so centroids are bit-portable.

Cosine is computed with an explicit double-precision sequential fold
(dot / (sqrt(dot_a) * sqrt(dot_b))) in BOTH engines so results compare
bit-for-bit; see _COS_SQL for the DuckDB twin.
"""

from __future__ import annotations

import itertools as _itertools
import os as _os
import re as _re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .contracts import observe_cap

N_QUERIES = 5
TOP_K = 10
COSINE_TAU = 0.4
# Per-bucket occupancy cap for embedding_cosine_dup's banded candidate
# join (VERDICT r6 item 9 — the embedding twin of dedup.LSH_BUCKET_CAP).
# The (band, key) equi-join distributes pair generation across tasks, so
# unlike the collect_list paths nothing concentrates into ONE row — but a
# near-identical mega-cluster still makes the pair OUTPUT C(cluster, 2):
# 10M templated embeddings would emit 5e13 pairs and the job never
# finishes. Each bucket contributes only its CAP smallest vec_ids
# (row_number before the join, QUALIFY-mirrored in the oracle), bounding
# output at bands * buckets * C(CAP, 2). Past the cap the corpus is a
# mega-cluster where pair-shaped output is the wrong shape anyway — the
# cluster-shaped family (semdedup_clusters / dup_components /
# canonical_pick) is the documented scale path (BENCH_NOTES label-skew
# probe). Cap firings are OBSERVABLE via contracts.observe_cap (metric
# "cosine_bucket_cap": rows_past_cap / max_occupancy) so a run can tell
# complete pair output from truncated output (ADVICE r7).
COSINE_BUCKET_CAP = 1024


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in float64 — deterministic order,
    matching DuckDB's list_dot_product loop over DOUBLE[]."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# note: an unrolled 64-term dot (getItem chains) was measured 4× SLOWER
# than the fold at sf0.1 — the giant expression tree defeats codegen.
# The winning shape for pair verification is the fold + per-vector
# precomputed norms (see embedding_cosine_dup), not a bigger expression.


def _cosine(a: Column, b: Column) -> Column:
    # try_divide == DuckDB's x/0 -> NULL: a zero-norm vector yields NULL
    # cosine instead of killing the whole scan under ANSI mode (one
    # degenerate embedding must not crash a 100 TB job; found by
    # tools/fuzz_edge_docs.py). NULL then behaves identically in both
    # engines through >= tau filters (false) and DESC rankings (last);
    # the one ASC ranking over a nullable cosine (triplet positives)
    # pins asc_nulls_last explicitly because Spark ASC defaults nulls
    # FIRST while DuckDB defaults nulls LAST.
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


# --- finite-vector domain guard (fuzz waves 4 + 12) -------------------
# At 100 TB a handful of corrupted feature rows WILL exist. They are not
# survivable unguarded: an Inf component overflows the decimal-exact
# centroid pooling (kmeans/semdedup/centroid_per_label crash with
# NUMERIC_VALUE_OUT_OF_RANGE under ANSI mode), a NULL embedding kills
# DuckDB's list_inner_product outright, and a NaN cosine ranks ABOVE
# +Inf in both engines so an unguarded NaN vector satisfies every
# >= tau filter and becomes duplicate-of-everything. Wave 12 added the
# uniform-dimension clause: a finite truncated (dim-8) or over-long
# (dim-65) vector passes the finiteness guard, then DuckDB's
# list_dot_product hard-ERRORS on the length mismatch (one corrupt row
# kills the job) while Spark's zip_with silently NULL-pads so the dot
# degrades to NULL and the row VANISHES from every tau filter — silent
# data loss, e.g. a contaminated eval item slipping through
# embedding_decontaminate with no trace. The engine contract is
# therefore: NULL / empty / non-finite / ragged-dimension embeddings
# are excluded from the vector domain, enforced by the same predicate
# on both sides (tests/test_edge_docs.py wave-12 parity).

# The corpus vector width — a MANIFEST value, not a discovery: the
# uniform-dimension contract needs the declared width, and deriving it
# from the data (mode of len(embedding)) would cost a full pass over the
# widest column before every query. Configurable per corpus via
# ETL_SCHEMA_SPARK_EMB_DIM (read once at import so the Spark predicate
# and the oracle twin FINITE_EMB_PRED_SQL can never disagree); defaults
# to the testdata generator's 64, asserted by the wave-12 corpus pin.
# A MISCONFIGURED width would silently empty every vector operator
# (ADVICE r8) — two guards make that loud: embedding_domain_profile is
# a driver-scored report whose dim_contract_ok column compares the
# declared width against the corpus's dominant width, and load_vectors
# emits drop-accounting metrics through contracts.CAP_METRIC_SINK for
# harnesses that want per-run receipts.
EMB_DIM = int(_os.environ.get("ETL_SCHEMA_SPARK_EMB_DIM", "64"))

FINITE_EMB_PRED_SQL = (
    f"embedding IS NOT NULL AND len(embedding) = {EMB_DIM} AND "
    "list_bool_and(list_transform(embedding, x -> isfinite(CAST(x AS DOUBLE))))"
)
_EMB_SCAN_SQL = f"(SELECT * FROM embeddings WHERE {FINITE_EMB_PRED_SQL})"


def finite_scan(sql: str) -> str:
    """Rewrite every `embeddings` table reference in an oracle to the
    finite-domain scan — the DuckDB twin of :func:`load_vectors`. The
    registry's oracles only ever reference the table as ``FROM
    embeddings`` / ``JOIN embeddings`` (asserted by the edge-corpus
    fuzz, which feeds NULL/NaN/Inf rows through every rewritten
    oracle)."""
    return _re.sub(r"\b(FROM|JOIN)(\s+)embeddings\b", rf"\1\2{_EMB_SCAN_SQL}", sql)


def finite_vectors(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Drop NULL / non-finite / ragged-dimension embeddings — scan-level
    filter, no shuffle; the predicate stays inside whole-stage codegen.
    The size clause (wave 12) subsumes the empty check and is what keeps
    zip_with from NULL-padding a truncated vector into silent row loss."""
    c = F.col(col)
    nonfinite = F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    return df.filter(c.isNotNull() & (F.size(c) == EMB_DIM) & ~nonfinite)


_EMB_OBS_SEQ = _itertools.count()


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings source as every vector operator consumes it: the
    raw table restricted to the finite-vector domain.

    Drop accounting (ADVICE r8): when a harness sets
    contracts.CAP_METRIC_SINK, a CollectMetrics node on the PRE-filter
    scan counts rows_in / rows_dim_mismatch / rows_kept, so a
    misdeclared EMB_DIM (which would otherwise silently empty every
    vector operator) is measurable per run. Sink-gated rather than
    always-on: the metric node must sit BELOW the domain filter to see
    dropped rows, which pins the filter above the scan — production
    plans keep the pushed scan and get their standing accounting from
    the driver-scored embedding_domain_profile report instead."""
    raw = load_table(spark, sf_dir, "embeddings")
    from . import contracts

    if contracts.CAP_METRIC_SINK is not None:
        from pyspark.sql import Observation

        c = F.col("embedding")
        nonfinite = F.exists(
            c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
        )
        kept = c.isNotNull() & (F.size(c) == EMB_DIM) & ~nonfinite
        obs = Observation()
        name = f"emb_domain_{next(_EMB_OBS_SEQ)}"
        contracts.CAP_METRIC_SINK[name] = obs
        raw = raw.observe(
            obs,
            F.count(F.lit(1)).cast("bigint").alias("rows_in"),
            F.sum(
                F.when(c.isNotNull() & (F.size(c) != EMB_DIM), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_dim_mismatch"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("rows_kept"),
        )
    return finite_vectors(raw)


def _trunc6(c: Column) -> Column:
    return F.floor(c * 1e6) / 1e6


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.

    The query set broadcasts (N_QUERIES x dim floats); the collection scan
    stays shuffle-free until the final per-query top-k window over
    N_QUERIES partitions.
    """
    emb = load_vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cos = _cosine(F.col("q_emb"), F.col("embedding"))
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", _trunc6(cos))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


def ann_bruteforce_topk_oracle() -> str:
    return finite_scan(f"""
        WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 FLOOR(({_COS_SQL}) * 1e6) / 1e6 AS cosine
          FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """)


def _bucket_cosine_pairs(tau: float):
    """Arrow-pass verifier for embedding_cosine_dup: one input row = one
    LSH band bucket (ids / norms / flattened embeddings / flattened band
    keys of its <= COSINE_BUCKET_CAP members, id-sorted); output = the
    bucket's qualifying (vec_a, vec_b, cosine) pairs.

    Bit-exactness contract: the pairwise dot accumulates POSITION-ORDER
    (``for i: acc += E[:, i] outer E[:, i]``) — the same left fold as
    _dot / DuckDB list_dot_product, vectorized over the pair matrix, so
    cosine values hash-match the SQL oracle. The first-shared-band mask
    elects exactly one verifying band per pair (mirrored in the oracle's
    ``NOT (earlier-band key match)`` predicate), so emissions are
    globally unique without a dedupe shuffle. Quadratic work is bounded
    per bucket by the occupancy cap; bucket COUNT is bounded by
    2^bits x bands, so the Python-side loop is metadata-scale even at
    100x (22.5k buckets) while the flop-heavy inner product runs in
    numpy.
    """
    import numpy as np
    import pandas as pd

    def verify(batches):
        for pdf in batches:
            out_a: list = []
            out_b: list = []
            out_c: list = []
            for band, ids, nrms, eds, kss in zip(
                pdf["band"], pdf["ids"], pdf["nrms"], pdf["eds"], pdf["kss"]
            ):
                m = len(ids)
                if m < 2:
                    continue
                ids = np.asarray(ids, dtype=np.int64)
                nrm = np.asarray(nrms, dtype=np.float64)
                E = np.asarray(eds, dtype=np.float64).reshape(m, -1)
                ks = np.asarray(kss, dtype=np.int64).reshape(m, len(kss) // m)
                # position-order accumulation == the sequential _dot fold
                acc = np.zeros((m, m), dtype=np.float64)
                for i in range(E.shape[1]):
                    col = E[:, i]
                    acc += np.multiply.outer(col, col)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / np.multiply.outer(nrm, nrm)
                keep = cos >= tau  # NaN (zero norm) compares False, as NULL does
                # first-shared-band election: skip pairs whose keys already
                # matched at an earlier band (they verified there)
                for bb in range(int(band)):
                    kb = ks[:, bb]
                    keep &= kb[:, None] != kb[None, :]
                ia, ib = np.nonzero(np.triu(keep, k=1))
                if len(ia):
                    out_a.append(ids[ia])
                    out_b.append(ids[ib])
                    out_c.append(np.floor(cos[ia, ib] * 1e6) / 1e6)
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return verify


def embedding_cosine_dup(spark: SparkSession, sf_dir: str, tau: float = COSINE_TAU) -> DataFrame:
    """Near-duplicate pairs by cosine (vec_a < vec_b, cosine >= tau), with
    candidates bounded by random-hyperplane LSH band buckets — never the n²
    self-join (that exactness baseline survives as
    ``embedding_cosine_dup_exact``, used only by the recall test).

    A pair is considered iff some 4-bit signature band collides (see
    ann_lsh_topk for the banding math); collided candidates are verified
    with the exact sequential-fold cosine. The md5-derived plane family is
    SQL-portable, so the oracle reproduces the band candidates exactly and
    the result is hash-checkable end-to-end.

    Scale (r10 rebuild — VERDICT r9 item 3): verification happens INSIDE
    the band bucket. Vectors ride the one groupBy(band, key) shuffle
    (n x LSH_BANDS rows — linear in the collection, the same volume as a
    scan), buckets collect their <= COSINE_BUCKET_CAP members into one
    row, and the a<b pairing + exact sequential-fold cosine evaluate
    in-row as JVM higher-order functions. Only qualifying (vec_a, vec_b,
    cosine) triples — 24-byte rows — ever leave the bucket, so the
    pair-x-embedding intermediate that the previous two-equi-join verify
    shuffled (24.5 GB mem-spill at 100x) no longer exists; the window and
    the groupBy share the (band, key) partitioning, so the wide frame is
    exchanged exactly once. A pair colliding in several bands verifies
    once per collision (the fold is not the bottleneck; collisions are
    <= LSH_BANDS) and dedupes on the narrow id pair. Recall at the tau
    boundary is the standard banding S-curve (measured in
    tests/test_similarity_sessions.py against the exact twin).

    Band width is n-ADAPTIVE (round 5): fixed 4-bit bands are quadratic in
    disguise (bucket occupancy ~ n/16), found by the 10× scale run. Beyond
    ~2.4k vectors the family widens per _adaptive_band_params; at every
    driver scale the params resolve to the 4×4 baseline the static oracle
    SQL encodes, so oracle parity is unaffected where the oracle runs.

    Bucket occupancy is additionally hard-capped at COSINE_BUCKET_CAP
    (row_number per (band, key) before the candidate join, QUALIFY-mirrored
    in the oracle) so a templated mega-cluster cannot make the pair output
    C(cluster, 2) — see the constant's comment for the bound and the
    cluster-shaped escape hatch.

    Ingest precondition: PK-unique vec_id scan — a replayed vec_id sits
    twice in every band bucket it occupies, and the occupancy-cap
    row_number plus the position-ordered in-row pairing then cut/pair
    the tied copies differently across engines (enumerated by the r10
    full --wave9 battery; fails identically at the r9 pre-rebuild tree,
    latent since the entry landed). Front door: the exactly-once restore
    (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23);
    --wave9-restored: green.
    """
    emb = load_vectors(spark, sf_dir)
    # Parquet count-star resolves from footer metadata — a cheap action that
    # sizes the band family to the collection (see _adaptive_band_params).
    n_bits, n_bands = _adaptive_band_params(emb.count())
    # norms precomputed once per vector (n folds, not once per candidate
    # pair); sqrt(dot(x,x)) keeps the arithmetic bitwise identical to
    # _cosine / _COS_SQL
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    # precast to double ONCE per vector: the in-bucket fold multiplies pairs
    # of already-double elements, instead of re-casting 2 x EMB_DIM floats
    # per candidate pair (the cast is the same one _dot applies, so the
    # arithmetic — and the hash — is unchanged)
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    keyed = emb.select(
        "vec_id",
        emb_d.alias("ed"),
        norm.alias("nrm"),
        *_band_key_cols(F.col("embedding"), n_bits, n_bands),
    )
    bands = F.array(*[F.col(f"k{b}") for b in range(n_bands)])
    w_bucket = Window.partitionBy("band", "key").orderBy("vec_id")
    members = (
        observe_cap(
            keyed.select(
                "vec_id",
                "ed",
                "nrm",
                bands.alias("ks"),
                F.posexplode(bands).alias("band", "key"),
            ).withColumn("_rn", F.row_number().over(w_bucket)),
            "cosine_bucket_cap",
            "_rn",
            COSINE_BUCKET_CAP,
        )
        .filter(F.col("_rn") <= COSINE_BUCKET_CAP)  # occupancy cap, see constant
        .drop("_rn")
    )
    # One bucket = one row: <= cap members, sorted by vec_id (array_sort on
    # struct orders by the leading field). The groupBy inherits the window's
    # (band, key) partitioning — no second exchange of the wide frame. The
    # member payload flattens to primitive arrays (ids / norms / embeddings
    # / band keys) so the Arrow pass below gets zero-copy columns.
    mem = F.array_sort(F.collect_list(F.struct("vec_id", "nrm", "ed", "ks")))
    buckets = (
        members.groupBy("band", "key")
        .agg(mem.alias("mem"))
        .select(
            "band",
            F.transform("mem", lambda m: m["vec_id"]).alias("ids"),
            F.transform("mem", lambda m: m["nrm"]).alias("nrms"),
            F.flatten(F.transform("mem", lambda m: m["ed"])).alias("eds"),
            F.flatten(F.transform("mem", lambda m: m["ks"])).alias("kss"),
        )
    )
    # Vectorized in-bucket verify (one Arrow pass; see _bucket_cosine_pairs):
    # a<b pairing, FIRST-SHARED-BAND election (the earliest band whose keys
    # match verifies the pair — so each pair folds ONCE globally and needs
    # no dedupe shuffle; the oracle mirrors the guard), and the exact
    # position-order accumulation that is bit-identical to _dot/_COS_SQL.
    # A JVM higher-order-function twin of this pass is semantically
    # identical but interpretation-bound: measured 193 s vs the previous
    # join-verify's 165 s at 100x — the numpy pass wins on wall AND keeps
    # the zero-spill shape. A pair whose electing band capped one member
    # out is dropped even if co-present later (both engines apply the same
    # rule; the case needs a >cap mega-bucket, where near-identical members
    # share ALL band keys and the same smallest-id survivors anyway).
    return buckets.mapInPandas(
        _bucket_cosine_pairs(tau), "vec_a bigint, vec_b bigint, cosine double"
    )


def embedding_cosine_dup_oracle(tau: float = COSINE_TAU) -> str:
    exploded = "\n          UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM keys" for b in range(LSH_BANDS)
    )
    # first-shared-band guard, mirroring the Spark in-bucket rule: a pair
    # at band b is a candidate only if no earlier band's keys match
    earlier = " OR ".join(
        f"(ca.band > {bp} AND ka.k{bp} = kb.k{bp})" for bp in range(LSH_BANDS - 1)
    )
    return finite_scan(f"""
        WITH sig AS (
          SELECT vec_id, embedding,
                 {_lsh_bit_exprs_sql()}
          FROM embeddings
        ),
        keys AS (
          SELECT vec_id, embedding, {_lsh_key_exprs_sql()} FROM sig
        ),
        exploded AS (
          {exploded}
        ),
        capped AS (
          SELECT * FROM exploded
          QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY vec_id)
                  <= {COSINE_BUCKET_CAP}
        ),
        cand AS (
          SELECT ca.vec_id AS vec_a, cb.vec_id AS vec_b
          FROM capped ca
          JOIN capped cb
            ON ca.band = cb.band AND ca.key = cb.key AND ca.vec_id < cb.vec_id
          JOIN keys ka ON ka.vec_id = ca.vec_id
          JOIN keys kb ON kb.vec_id = cb.vec_id
          WHERE NOT ({earlier})
        )
        SELECT c.vec_a, c.vec_b,
               FLOOR(({_COS_SQL}) * 1e6) / 1e6 AS cosine
        FROM cand c
        JOIN keys a ON a.vec_id = c.vec_a
        JOIN keys b ON b.vec_id = c.vec_b
        WHERE ({_COS_SQL}) >= {tau}
        ORDER BY vec_a, vec_b
    """)


def embedding_cosine_dup_exact(
    spark: SparkSession, sf_dir: str, tau: float = COSINE_TAU
) -> DataFrame:
    """Exact n² all-pairs twin — TEST ORACLE ONLY (recall measurement for
    the banded production path above); never registered in queries()."""
    emb = load_vectors(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    cos = _cosine(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", _trunc6(cos))
        .filter(cos >= tau)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def _label_codebook(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer codebook: per-label mean vector with decimal-exact
    pooling (trunc6 inputs summed as DECIMAL(18,6)), so the centroids are
    bit-portable to the SQL oracle. Shared by ann_ivf_topk (query probe)
    and semdedup_clusters (full-collection assignment)."""
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(_trunc6(F.col("x").cast("double")).cast("decimal(18,6)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "label", "pos", _trunc6(F.col("_s").cast("double") / F.col("_n")).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
        .select(
            F.col("label").alias("c_label"),
            F.transform(F.col("pairs"), lambda p: p["cx"]).alias("centroid"),
        )
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: probe only the nearest centroid's inverted list.

    Coarse codebook = per-label mean vector (labels are cluster
    assignments in the testdata; on a real corpus run k-means first).
    Fully oracle-checked since round 2: the codebook means use the
    trunc6→DECIMAL exact pooling (centroid_per_label's trick), so the
    centroids — and therefore bucket probes and in-bucket rankings — are
    bit-identical across engines.

    Scale: centroids broadcast; the collection is partitioned by bucket
    (repartition on label), so each query's scan touches one bucket —
    1/k of the data — and the final top-k window is per-query.
    """
    emb = load_vectors(spark, sf_dir)
    centroids = _label_codebook(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_cent = (
        queries.join(F.broadcast(centroids))
        .withColumn("c_cos", _cosine(F.col("q_emb"), F.col("centroid")))
    )
    w_assign = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("c_label"))
    assigned = (
        q_cent.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("c_label").alias("bucket"))
    )
    scored = (
        emb.join(F.broadcast(assigned), (F.col("label") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")))
        .withColumn("cosine", _trunc6(_cosine(F.col("q_emb"), F.col("embedding"))))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "bucket", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


LSH_BITS = 16
LSH_BANDS = 4  # 4 bits per band
# Hyperplanes span the declared corpus width: a plane family narrower or
# wider than the vectors would zip_with-truncate/NULL-pad every signature
# bit. EMB_DIM is the manifest knob (see its comment), so the planes
# follow it.
LSH_DIM = EMB_DIM

# Adaptive banding (round 5): with FIXED band width, expected bucket
# occupancy is n / 2^bits, so candidate pairs grow ~n² / 2^bits — the 10x
# scale run (tools/bench_scale.py) GC-thrashed exactly there. Width must
# track the collection: bits = ceil(log2(n / target-bucket)) keeps bucket
# occupancy — and per-band candidate volume — at ~n * target/2, linear in
# n; bands grow alongside (bands = bits) so the banding S-curve recall of
# the 4x4 baseline is preserved (p^bits per band falls, 1-(1-p^bits)^bands
# recovers it). At driver scales (n <= 2400: sf0.001/0.01/0.1) this
# resolves to the original 4 bits x 4 bands, which is what the static
# oracle SQL encodes — the adaptivity only engages beyond oracle scales.
LSH_TARGET_BUCKET = 150
LSH_MAX_BITS_PER_BAND = 12


def _adaptive_band_params(n: int) -> tuple[int, int]:
    """(bits_per_band, n_bands) for a collection of n vectors."""
    import math

    if n <= LSH_TARGET_BUCKET * 16:
        return 4, LSH_BANDS
    bits = min(LSH_MAX_BITS_PER_BAND, math.ceil(math.log2(n / LSH_TARGET_BUCKET)))
    return bits, max(LSH_BANDS, bits)


def _lsh_planes(n_planes: int = LSH_BITS) -> list[list[float]]:
    """Deterministic random hyperplanes: md5-seeded uniforms in [-1, 1),
    rounded to 6 dp so the same short decimal literals parse to the same
    doubles in Spark and DuckDB. No RNG state — any engine, any run, any
    cluster size derives the identical family (plane j is the same plane
    at every width, so wider adaptive families extend, never reshuffle)."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for d in range(LSH_DIM):
            h = int(hashlib.md5(f"lsh{j}_{d}".encode()).hexdigest()[:8], 16)
            row.append(round(h / 2**31 - 1.0, 6))
        planes.append(row)
    return planes


def _lsh_sig_bits(col: Column, n_planes: int = LSH_BITS) -> list[Column]:
    return [
        F.when(_dot(col, F.array(*[F.lit(v) for v in p])) >= 0, 1).otherwise(0)
        for p in _lsh_planes(n_planes)
    ]


def _band_key_cols(col: Column, bits: int = 4, bands: int = LSH_BANDS) -> list[Column]:
    """The `bands` band keys of `bits` signature bits each, as k0..k{B-1}."""
    sig = _lsh_sig_bits(col, bits * bands)
    return [
        sum(sig[b * bits + i] * (1 << i) for i in range(bits)).alias(f"k{b}")
        for b in range(bands)
    ]


def _lsh_bit_exprs_sql() -> str:
    """DuckDB twin of _lsh_sig_bits — identical plane literals."""
    return ",\n                 ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST([{', '.join(repr(v) for v in p)}] AS DOUBLE[])) >= 0 "
        f"THEN 1 ELSE 0 END) AS bit{j}"
        for j, p in enumerate(_lsh_planes())
    )


def _lsh_key_exprs_sql() -> str:
    return ", ".join(
        " + ".join(f"{1 << i}*bit{b * 4 + i}" for i in range(4)) + f" AS k{b}"
        for b in range(LSH_BANDS)
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-family) LSH ANN: per-query top-k among
    candidates sharing at least one signature band.

    Signature bit j = sign of <v, plane_j>; LSH_BITS bits split into
    LSH_BANDS bands of 4 — a candidate pair is considered iff some band
    matches (the minhash-banding trick applied to hyperplane LSH). The
    collection explodes to one row per band (narrow: id + 4-bit key),
    equi-joins the broadcast query bands, dedupes pairs, and only then
    scores cosine — comparisons are bounded by bucket collisions, never the
    n² of the brute-force twin. The plane family is md5-derived (see
    _lsh_planes), so the oracle reproduces the signatures exactly — unlike
    ann_ivf_topk this probe structure IS hash-checkable.

    Scale: band keys distribute ~uniformly (hyperplane signs over centered
    data), the exploded collection is 4× ids not 4× vectors, queries
    broadcast, and the dedupe + top-k shuffles only candidate pairs.

    Ingest precondition: the scan must be PK-unique (one row per vec_id).
    Under at-least-once ingestion a replayed key makes the per-query
    rank cut tie-break nondeterministically. Front door: ingest through
    the exactly-once restore (corpus.restore_unique_docs /
    catalog.load_table_unique); violations are observable via
    quality_expectation_report's unique rules. See SURVEY §7 item 23.
    """
    emb = load_vectors(spark, sf_dir)
    keyed = emb.select("vec_id", "embedding", *_band_key_cols(F.col("embedding")))
    bands = F.array(*[F.col(f"k{b}") for b in range(LSH_BANDS)])
    coll = keyed.select(
        "vec_id", "embedding", F.posexplode(bands).alias("band", "key")
    )
    queries = keyed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode(bands).alias("band", "key"),
    )
    cands = (
        coll.join(
            F.broadcast(queries),
            ["band", "key"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.withColumn(
        "cosine", _trunc6(_cosine(F.col("q_emb"), F.col("embedding")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def ann_lsh_topk_oracle() -> str:
    bit_exprs = _lsh_bit_exprs_sql()
    key_exprs = _lsh_key_exprs_sql()
    band_match = " OR ".join(f"q.k{b} = c.k{b}" for b in range(LSH_BANDS))
    cos = (
        "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
    )
    return finite_scan(f"""
        WITH sig AS (
          SELECT vec_id, embedding,
                 {bit_exprs}
          FROM embeddings
        ),
        keys AS (
          SELECT vec_id, embedding, {key_exprs} FROM sig
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 FLOOR(({cos}) * 1e6) / 1e6 AS cosine
          FROM keys q
          JOIN keys c ON c.vec_id <> q.vec_id AND ({band_match})
          WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """)


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label vote: classify each query vector by the majority label of
    its TOP_K cosine neighbors (ties → smaller label).

    The standard embedding-quality probe for a curation pipeline. Same
    broadcast-queries scan shape as ann_bruteforce_topk, plus a per-query
    vote aggregate — the collection side still never shuffles before the
    top-k window.
    """
    emb = load_vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    cos = _cosine(F.col("q_emb"), F.col("embedding"))
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine", _trunc6(cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TOP_K)
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            "votes",
            "true_label",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


def knn_classify_oracle() -> str:
    return finite_scan(f"""
        WITH scored AS (
          SELECT a.vec_id AS query_id, a.label AS true_label,
                 b.vec_id AS neighbor_id, b.label AS label,
                 FLOOR(({_COS_SQL}) * 1e6) / 1e6 AS cosine
          FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ),
        topk AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
          ) WHERE rank <= {TOP_K}
        ),
        votes AS (
          SELECT query_id, true_label, label, COUNT(*) AS votes
          FROM topk GROUP BY query_id, true_label, label
        )
        SELECT query_id, label AS predicted_label, votes, true_label,
               (label = true_label) AS correct
        FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY votes DESC, label ASC) AS vr
          FROM votes
        ) WHERE vr = 1
        ORDER BY query_id
    """)


KMEANS_K = 8
KMEANS_ITERS = 3


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding collection — fully
    oracle-checked: the centroid update is a trunc6→DECIMAL exact mean and
    the inertia an exact decimal sum, so every round's centroids,
    assignments, and stats are independent of shuffle order and engine
    (the oracle unrolls the fixed rounds as CTEs and matches bit-for-bit).

    Iterative-algorithm pattern on Spark: each iteration is one distributed
    assign (broadcast K centroids, argmin over a deterministic
    struct-ordered min) + one distributed update (posexplode → per-(cluster,
    dim) mean → collect_list back). Centroids — O(K × dim) metadata, not
    data — are collected to the driver between iterations to keep the plan
    depth constant; this is exactly how MLlib's KMeans drives its loop.
    Seeds = the first K vectors by vec_id (deterministic).
    """
    emb = load_vectors(spark, sf_dir).select("vec_id", "embedding")
    centroids_df = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    centroids = centroids_df.collect()

    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    assigned = None
    for _ in range(KMEANS_ITERS):
        cdf = spark.createDataFrame(centroids, "c_id int, centroid array<double>")
        assigned = (
            emb.crossJoin(F.broadcast(cdf))
            .withColumn("d2", dist)
            .groupBy("vec_id", "embedding")
            .agg(F.min(F.struct("d2", "c_id")).alias("best"))
            .select("vec_id", "embedding", F.col("best.c_id").alias("cluster"),
                    F.col("best.d2").alias("d2"))
        )
        # decimal-exact per-dim mean (the centroid_per_label trick): each
        # coordinate is truncated to 6 dp and summed as DECIMAL, so the new
        # centroid is independent of shuffle order AND engine — which is
        # what upgrades this operator from rows-only to fully oracle-checked
        centroids = (
            assigned.select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(
                    _trunc6(F.col("x").cast("double")).cast("decimal(18,6)")
                ).alias("_sum"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                "cluster",
                "pos",
                _trunc6(F.col("_sum").cast("double") / F.col("_n")).alias("cx"),
            )
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
            .select(
                F.col("cluster").alias("c_id"),
                F.transform("pairs", lambda p: p["cx"]).alias("centroid"),
            )
            .collect()
        )

    # inertia as an exact decimal sum of truncated d2 terms: a plain double
    # SUM over the shuffle would be accumulation-order-dependent
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(_trunc6(F.col("d2")).cast("decimal(27,6)"))
            .cast("double")
            .alias("inertia"),
        )
    )


Q_MAX = 127  # int8 symmetric quantization range


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization with reconstruction
    error — the storage story that makes billion-vector ANN affordable
    (4× smaller than float32, 16× than float64; IVF/LSH probes then scan
    int8 codes).

    q_i = floor(x_i/scale + 0.5) with scale = max|x|/127 (floor(x+0.5)
    because engine round() implementations disagree on .5 boundaries);
    reported per vector: the scale, max |x − q·scale| reconstruction
    error, the integer L1 norm of the codes, and the nonzero-code count.
    Every output is order-independent (max / integer sums), so the result
    is bit-portable — no float-summation-order hazard between engines.

    Narrow projection, zero shuffle: at 100 TB this runs at scan speed,
    like the codec passes in multimodal.py.
    """
    emb = load_vectors(spark, sf_dir)
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(float(Q_MAX))
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") / F.col("scale") + 0.5)
    )
    err = F.zip_with(
        "embedding", "q", lambda x, qi: F.abs(x.cast("double") - qi * F.col("scale"))
    )
    return (
        emb.select("vec_id", "embedding", scale.alias("scale"))
        .filter(F.col("scale") > 0)
        .withColumn("q", q)
        .select(
            "vec_id",
            _trunc6(F.col("scale")).alias("scale6"),
            _trunc6(F.array_max(err)).alias("max_err"),
            F.aggregate(
                "q", F.lit(0).cast("bigint"), lambda acc, x: acc + F.abs(x).cast("bigint")
            ).alias("q_l1"),
            F.size(F.filter("q", lambda x: x != 0)).cast("bigint").alias("q_nnz"),
        )
    )


def embedding_quantize_oracle() -> str:
    return finite_scan(f"""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max([abs(CAST(x AS DOUBLE)) for x in embedding])
                   / {Q_MAX}.0 AS scale
          FROM embeddings
        ), qd AS (
          SELECT vec_id, embedding, scale,
                 [FLOOR(CAST(x AS DOUBLE) / scale + 0.5) for x in embedding] AS q
          FROM s WHERE scale > 0
        )
        SELECT vec_id,
               FLOOR(scale * 1e6) / 1e6 AS scale6,
               FLOOR(list_max([abs(CAST(embedding[i] AS DOUBLE) - q[i] * scale)
                               for i in range(1, len(embedding) + 1)]) * 1e6)
                 / 1e6 AS max_err,
               CAST(list_sum([CAST(abs(x) AS BIGINT) for x in q]) AS BIGINT) AS q_l1,
               CAST(len(list_filter(q, x -> x <> 0)) AS BIGINT) AS q_nnz
        FROM qd
        ORDER BY vec_id
    """)


def kmeans_clusters_oracle(k: int = None, iters: int = None) -> str:
    """Exact unrolled-SQL twin of kmeans_clusters: each Lloyd round is one
    assignment CTE (argmin over d2 with c_id tie-break) + one update CTE
    (the same trunc6→DECIMAL exact per-dim mean the Spark side uses), so
    every centroid — and therefore every assignment and the inertia — is
    bit-identical across engines. Rounds are unrolled because the round
    count is a fixed hyperparameter, not data-dependent."""
    k = k if k is not None else KMEANS_K
    iters = iters if iters is not None else KMEANS_ITERS
    dd = "[e.emb[i] - c.centroid[i] for i in range(1, len(e.emb) + 1)]"
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        f"""c0 AS (
          SELECT CAST(vec_id AS INT) AS c_id, emb AS centroid
          FROM e WHERE vec_id < {k}
        )""",
    ]
    for r in range(1, iters + 1):
        ctes.append(f"""a{r} AS (
          SELECT vec_id, emb, c_id, d2 FROM (
            SELECT e.vec_id, e.emb, c.c_id,
                   list_dot_product(d.dd, d.dd) AS d2,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_dot_product(d.dd, d.dd), c.c_id) AS rn
            FROM e, c{r - 1} c, LATERAL (SELECT {dd} AS dd) d
          ) WHERE rn = 1
        )""")
        if r < iters:
            ctes.append(f"""c{r} AS (
          SELECT c_id, list(cx ORDER BY dim) AS centroid FROM (
            SELECT c_id, dim,
                   FLOOR(CAST(SUM(CAST(FLOOR(val * 1e6) / 1e6 AS DECIMAL(18,6)))
                              AS DOUBLE) / COUNT(*) * 1e6) / 1e6 AS cx
            FROM (SELECT c_id, generate_subscripts(emb, 1) AS dim,
                         unnest(emb) AS val FROM a{r})
            GROUP BY c_id, dim
          ) GROUP BY c_id
        )""")
    return finite_scan(f"""
        WITH {", ".join(ctes)}
        SELECT c_id AS cluster,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CAST(FLOOR(d2 * 1e6) / 1e6 AS DECIMAL(27,6))) AS DOUBLE)
                 AS inertia
        FROM a{iters}
        GROUP BY c_id
        ORDER BY cluster
    """)


def ann_ivf_topk_oracle() -> str:
    """Exact twin of ann_ivf_topk: decimal-exact codebook means, argmax
    centroid probe, in-bucket cosine top-k — every stage bit-portable."""
    q_cent_cos = (
        "list_dot_product(qe, centroid)"
        " / (sqrt(list_dot_product(qe, qe))"
        " * sqrt(list_dot_product(centroid, centroid)))"
    )
    b_cos = (
        "list_dot_product(qe, be)"
        " / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(be, be)))"
    )
    return finite_scan(f"""
        WITH cent AS (
          SELECT label AS c_label, list(cx ORDER BY dim) AS centroid FROM (
            SELECT label, dim,
                   FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*) * 1e6) / 1e6 AS cx
            FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
                         unnest(embedding) AS val FROM embeddings)
            GROUP BY label, dim
          ) GROUP BY label
        ),
        q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        assigned AS (
          SELECT query_id, qe, c_label AS bucket FROM (
            SELECT q.query_id, q.qe, c.c_label,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY ({q_cent_cos}) DESC, c.c_label ASC) AS rn
            FROM q CROSS JOIN cent c
          ) WHERE rn = 1
        ),
        scored AS (
          SELECT a.query_id, a.bucket, b.vec_id AS neighbor_id,
                 FLOOR(({b_cos}) * 1e6) / 1e6 AS cosine
          FROM assigned a
          JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS be
                FROM embeddings) b
            ON b.label = a.bucket AND b.vec_id != a.query_id
        )
        SELECT query_id, bucket, neighbor_id, cosine, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """)


# --- train-vs-eval embedding decontamination ------------------------------

DECON_EVAL_MOD = 10  # md5(vec_id) % 10 == 0 -> held-out "eval" split (~10%)
DECON_TAU = COSINE_TAU
# Witness cap: a train item is dropped because SOME eval item matches it;
# the drop decision needs at most a few witnesses, never the full
# (train x eval) pair matrix. A templated cluster spanning both splits
# otherwise makes the output |train ∩ cluster| * |eval ∩ cluster| —
# measured quadratic by the TEMPLATE_VECS availability probe (460k pairs
# at 2200 replicas, 1.79M at 4400). Keep the top-W eval witnesses per
# train item (trunc6 cosine desc, eval_id asc — deterministic both
# engines), bounding output at |train| * W: linear in the corpus.
DECON_WITNESS_CAP = 8
# Candidate-side bound: cap EVAL occupancy per (band, key) bucket. This
# is a BOUNDED-RECALL trade-off (ADVICE r7), stated precisely: bucket
# co-residence means LSH-key agreement, NOT >= tau similarity, and
# flagging a train item requires a KEPT witness that verifies >= tau. So
# recall is exact whenever every bucket holds <= CAP evals; in a bucket
# past the cap, a train item whose only >= tau partners all sort past
# the cap (smallest-eval_id order, QUALIFY-mirrored) drops out of the
# decon list. Verifying cosine BEFORE capping would restore exact recall
# but costs the very |train ∩ bucket| * |eval ∩ bucket| quadratic the
# cap exists to avoid. Two mitigations: (1) buckets past the cap are
# near-identical mega-clusters in practice, where any kept eval is a
# >= tau witness for the colliding cluster; (2) the cap firing is
# OBSERVABLE (contracts.observe_cap metric "decon_eval_bucket_cap") —
# rows_past_cap == 0 certifies exact recall for the run, and a nonzero
# signal says to escalate to the cluster-shaped decontamination
# (semdedup_clusters ∪ eval split). Without the cap the exact-cosine
# verify count is quadratic in a templated cluster; with it,
# <= |train| * CAP * bands (linear). Train occupancy is NOT capped —
# dropping train candidates would unconditionally false-negative.
DECON_EVAL_BUCKET_CAP = 64


def embedding_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    tau: float = DECON_TAU,
    strict: bool | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: training vectors whose
    cosine to any held-out eval vector is >= tau — the semantic twin of
    curation.decontaminate_ngram_overlap (n-gram overlap misses
    paraphrases; embedding similarity catches them).

    The split is md5-derived from vec_id (deterministic, engine-portable).
    Candidates come from the shared random-hyperplane LSH band buckets
    (see ann_lsh_topk): both splits sign against the same md5-derived
    plane family, band keys equi-join, and only collided (train, eval)
    id pairs are verified with the exact sequential-fold cosine — never
    the |train| x |eval| product.

    Scale: the band join ships (id, band, key) triples only; vectors
    re-attach by vec_id equi-join for verification. Real eval suites are
    tiny relative to the corpus, so the eval band table broadcasts and
    the train side never shuffles — the same asymmetry the n-gram
    decontamination exploits. Output is bounded at DECON_WITNESS_CAP
    eval witnesses per train item (QUALIFY-mirrored in the oracle) so a
    templated cluster spanning both splits cannot make the pair matrix
    quadratic — see the constant's comment for the probe receipts.

    Recall contract: exact while eval-bucket occupancy stays within
    DECON_EVAL_BUCKET_CAP; past it, bounded recall with an observable
    signal (metric "decon_eval_bucket_cap" — rows_past_cap == 0
    certifies the run missed nothing). See the cap constant's comment.

    STRICT mode (``strict=True`` or env ETL_SCHEMA_SPARK_DECON_STRICT=1,
    VERDICT r8 item 7): the eval-bucket cap is dropped entirely — every
    band collision is cosine-verified and only the WITNESS cap (which
    never false-negatives a train item: a capped item still has >= 1
    kept witness) bounds the output. Recall is exact by construction,
    i.e. zero decontamination false negatives, at the documented price:
    a templated mega-cluster spanning both splits makes the verify stage
    |train ∩ bucket| x |eval ∩ bucket| — quadratic in the cluster. Use
    strict for benchmark-hygiene sign-off runs; default for recurring
    corpus sweeps where the cap metric certifies most runs exact anyway.
    """
    if strict is None:
        strict = _os.environ.get("ETL_SCHEMA_SPARK_DECON_STRICT", "") == "1"
    emb = load_vectors(spark, sf_dir)
    # Same fixed-width-is-quadratic hazard as embedding_cosine_dup: with
    # 2^bits buckets, (train, eval) collisions are ~ |train|*|eval|/2^bits
    # per band — adaptive width keeps eval-bucket occupancy bounded, so
    # candidates stay ~ |train| * target. Resolves to the oracle's 4x4 at
    # every driver scale (see _adaptive_band_params).
    n_bits, n_bands = _adaptive_band_params(emb.count())
    split_hash = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("vec_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % DECON_EVAL_MOD
    )
    tagged = emb.withColumn("is_eval", (split_hash == 0).cast("int"))
    keyed = tagged.select(
        "vec_id", "is_eval", *_band_key_cols(F.col("embedding"), n_bits, n_bands)
    )
    bands = F.array(*[F.col(f"k{b}") for b in range(n_bands)])
    ids = keyed.select("vec_id", "is_eval", F.posexplode(bands).alias("band", "key"))
    eval_exploded = ids.filter(F.col("is_eval") == 1).select(
        F.col("vec_id").alias("eval_id"), "band", "key"
    )
    if strict:
        # strict mode: no eval-bucket cap — every collision verifies
        eval_ids = eval_exploded
    else:
        w_ebucket = Window.partitionBy("band", "key").orderBy("eval_id")
        eval_ids = (
            observe_cap(
                eval_exploded.withColumn("_rn", F.row_number().over(w_ebucket)),
                "decon_eval_bucket_cap",
                "_rn",
                DECON_EVAL_BUCKET_CAP,
            )
            # eval occupancy cap — bounded recall, see the constant's
            # comment; rows_past_cap == 0 in the observed metric
            # certifies exact recall
            .filter(F.col("_rn") <= DECON_EVAL_BUCKET_CAP)
            .drop("_rn")
        )
    cands = (
        ids.filter(F.col("is_eval") == 0)
        .select(F.col("vec_id").alias("train_id"), "band", "key")
        .join(F.broadcast(eval_ids), ["band", "key"])
        .select("train_id", "eval_id")
        .dropDuplicates(["train_id", "eval_id"])
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    tr = tagged.filter(F.col("is_eval") == 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("emb_t"),
        norm.alias("n_t"),
    )
    ev = tagged.filter(F.col("is_eval") == 1).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        norm.alias("n_e"),
    )
    cos = F.try_divide(_dot(F.col("emb_t"), F.col("emb_e")), F.col("n_t") * F.col("n_e"))
    w_train = Window.partitionBy("train_id").orderBy(
        F.desc("cosine"), F.asc("eval_id")
    )
    return (
        cands.join(tr, "train_id")
        .join(F.broadcast(ev), "eval_id")
        .withColumn("cosine", _trunc6(cos))
        .filter(cos >= tau)
        .withColumn("_wn", F.row_number().over(w_train))
        .filter(F.col("_wn") <= DECON_WITNESS_CAP)  # witness cap, see constant
        .select("train_id", "eval_id", "cosine")
    )


def embedding_decontaminate_oracle(
    tau: float = DECON_TAU, strict: bool | None = None
) -> str:
    # strict resolves from the SAME env knob as the Spark side (ADVICE r9
    # medium): oracle_sql() is generated in the same process as queries()
    # runs, so reading ETL_SCHEMA_SPARK_DECON_STRICT here keeps both
    # engines on the same branch — strict drops the eval-bucket cap CTE
    # exactly where the Spark plan drops the row_number filter.
    if strict is None:
        strict = _os.environ.get("ETL_SCHEMA_SPARK_DECON_STRICT", "") == "1"
    cos_sql = _COS_SQL.replace("a.embedding", "t.embedding").replace(
        "b.embedding", "e.embedding"
    )
    e_exploded = "\n          UNION ALL ".join(
        f"SELECT vec_id AS eval_id, {b} AS band, k{b} AS key FROM keys WHERE is_eval = 1"
        for b in range(LSH_BANDS)
    )
    t_exploded = "\n          UNION ALL ".join(
        f"SELECT vec_id AS train_id, {b} AS band, k{b} AS key FROM keys WHERE is_eval = 0"
        for b in range(LSH_BANDS)
    )
    cap_clause = (
        ""
        if strict
        else "QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY eval_id)"
        f"\n                  <= {DECON_EVAL_BUCKET_CAP}"
    )
    return finite_scan(f"""
        WITH sig AS (
          SELECT vec_id, embedding,
                 CAST(CAST(('0x' || substr(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % {DECON_EVAL_MOD} = 0 AS INT) AS is_eval,
                 {_lsh_bit_exprs_sql()}
          FROM embeddings
        ),
        keys AS (
          SELECT vec_id, embedding, is_eval, {_lsh_key_exprs_sql()} FROM sig
        ),
        e_exploded AS (
          {e_exploded}
        ),
        e_capped AS (
          SELECT * FROM e_exploded
          {cap_clause}
        ),
        t_exploded AS (
          {t_exploded}
        ),
        cand AS (
          SELECT DISTINCT tx.train_id, ex.eval_id
          FROM t_exploded tx JOIN e_capped ex
            ON tx.band = ex.band AND tx.key = ex.key
        ),
        scored AS (
          SELECT c.train_id, c.eval_id,
                 FLOOR(({cos_sql}) * 1e6) / 1e6 AS cosine
          FROM cand c
          JOIN keys t ON t.vec_id = c.train_id
          JOIN keys e ON e.vec_id = c.eval_id
          WHERE ({cos_sql}) >= {tau}
        )
        SELECT train_id, eval_id, cosine
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY train_id ORDER BY cosine DESC, eval_id ASC)
          <= {DECON_WITNESS_CAP}
        ORDER BY train_id, eval_id
    """)


SEM_TAU = COSINE_TAU


def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every vector to its nearest
    coarse-codebook centroid, then mark as duplicate any vector whose
    cluster contains a SMALLER-id vector within cosine >= SEM_TAU (keep
    the first, drop the echo — the deterministic version of SemDeDup's
    keep-one-per-near-clique rule). Output: one row per vector with its
    cluster, the drop flag, and the witness it duplicates.

    Scale: the codebook broadcasts (|labels| x dim floats — at production
    scale the cluster count is chosen ~n/target so within-cluster
    brute-force pairs stay bounded, exactly the SemDeDup recipe); the
    within-cluster pair join is a plain equi-join on cluster id, and the
    witness reduction is a partial-aggregated min per vec_id. The
    assignment table is persisted via swap_pin — three consumers (both
    pair sides + the final projection), one codebook-scan pass — so
    repeated invocations in a long session hold at most ONE pinned
    assignment frame (a bare .persist() here was the last ADVICE-r5
    leak-class site: every call pinned a fresh CacheManager entry until
    session exit, r12).
    """
    from .cachereg import swap_pin

    emb = load_vectors(spark, sf_dir)
    codebook = _label_codebook(emb)
    c_cos = _cosine(F.col("embedding"), F.col("centroid"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("c_label")
    )
    assigned = swap_pin(
        "semdedup_clusters.assigned",
        emb.select("vec_id", "embedding")
        .join(F.broadcast(codebook))
        .withColumn("c_cos", c_cos)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("c_label").alias("cluster")),
    )
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "cluster"
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "cluster"
    )
    pair_cos = _cosine(F.col("emb_a"), F.col("emb_b"))
    witnesses = (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(pair_cos >= SEM_TAU)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        assigned.join(witnesses, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
        .orderBy("vec_id")
    )


def semdedup_clusters_oracle() -> str:
    a_cos = (
        "list_dot_product(a.de, b.de)"
        " / (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de)))"
    )
    assign_cos = (
        "list_dot_product(e.de, c.centroid)"
        " / (sqrt(list_dot_product(e.de, e.de))"
        " * sqrt(list_dot_product(c.centroid, c.centroid)))"
    )
    return finite_scan(f"""
        WITH cent AS (
          SELECT label AS c_label, list(cx ORDER BY dim) AS centroid FROM (
            SELECT label, dim,
                   FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*) * 1e6) / 1e6 AS cx
            FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
                         unnest(embedding) AS val FROM embeddings)
            GROUP BY label, dim
          ) GROUP BY label
        ),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings
        ),
        assigned AS (
          SELECT vec_id, de, c_label AS cluster FROM (
            SELECT e.vec_id, e.de, c.c_label,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY ({assign_cos}) DESC, c.c_label ASC) AS rn
            FROM e CROSS JOIN cent c
          ) WHERE rn = 1
        ),
        witnesses AS (
          SELECT b.vec_id, MIN(a.vec_id) AS dup_of
          FROM assigned a JOIN assigned b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE ({a_cos}) >= {SEM_TAU}
          GROUP BY b.vec_id
        )
        SELECT assigned.vec_id, cluster,
               witnesses.dup_of IS NOT NULL AS is_dup,
               witnesses.dup_of
        FROM assigned LEFT JOIN witnesses ON witnesses.vec_id = assigned.vec_id
        ORDER BY assigned.vec_id
    """)


OUTLIER_FRAC = 0.05


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space noise detection: every vector's cosine to its
    assigned coarse-codebook centroid, with the bottom OUTLIER_FRAC of the
    corpus flagged — the "doesn't belong anywhere" signal an embedding
    curation pass quarantines before training (mis-embedded, corrupt, or
    out-of-domain items sit far from every centroid).

    Scale shape: assignment is the broadcast-codebook probe (one pass);
    the outlier threshold is an exact order statistic by GLOBAL rank of
    (c_cos, vec_id) from the distributed two-phase pattern — bounded task
    state, never a single-task global sort.
    """
    from .distributed import grouped_running_sum

    emb = load_vectors(spark, sf_dir)
    codebook = _label_codebook(emb)
    c_cos = _cosine(F.col("embedding"), F.col("centroid"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("c_label"))
    assigned = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(codebook))
        .withColumn("c_cos", c_cos)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("cluster"), "c_cos")
    )
    n = emb.count()
    cut = max(1, int(OUTLIER_FRAC * n))
    ranked = grouped_running_sum(
        assigned.withColumn("_g", F.lit(1)),
        "_g",
        F.struct("c_cos", "vec_id"),
        F.lit(1),
        "rk",
    )
    return ranked.select(
        "vec_id",
        "cluster",
        _trunc6(F.col("c_cos")).alias("centroid_cos"),
        (F.col("rk") <= cut).alias("is_outlier"),
    ).orderBy("vec_id")


def embedding_outliers_oracle() -> str:
    assign_cos = (
        "list_dot_product(e.de, c.centroid)"
        " / (sqrt(list_dot_product(e.de, e.de))"
        " * sqrt(list_dot_product(c.centroid, c.centroid)))"
    )
    return finite_scan(f"""
        WITH cent AS (
          SELECT label AS c_label, list(cx ORDER BY dim) AS centroid FROM (
            SELECT label, dim,
                   FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*) * 1e6) / 1e6 AS cx
            FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
                         unnest(embedding) AS val FROM embeddings)
            GROUP BY label, dim
          ) GROUP BY label
        ),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings
        ),
        assigned AS (
          SELECT vec_id, cluster, c_cos FROM (
            SELECT e.vec_id, c.c_label AS cluster, ({assign_cos}) AS c_cos,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY ({assign_cos}) DESC, c.c_label ASC) AS rn
            FROM e CROSS JOIN cent c
          ) WHERE rn = 1
        ),
        ranked AS (
          -- NULLS FIRST pins the zero-norm semantics: a vector with no
          -- defined cosine to ANY centroid is the ultimate outlier and
          -- ranks into the flagged cut (Spark ASC defaults nulls first;
          -- DuckDB defaults last - made explicit so both engines agree)
          SELECT *, ROW_NUMBER() OVER (ORDER BY c_cos NULLS FIRST, vec_id) AS rk,
                 COUNT(*) OVER () AS n
          FROM assigned
        )
        SELECT vec_id, cluster,
               FLOOR(c_cos * 1e6) / 1e6 AS centroid_cos,
               rk <= GREATEST(1, CAST({OUTLIER_FRAC} * n AS BIGINT)) AS is_outlier
        FROM ranked
        ORDER BY vec_id
    """)


TRIPLET_POS_SAMPLE = 8  # positive candidates per anchor (ring width)
# negative ring width per (band, key) bucket: candidates per anchor are
# bounded at RING x bands by construction (r9 — replaced the
# all-collisions match-count pre-cut whose volume drove the 71 GB 100x
# spill; see the candidate-stage comment in triplet_mining)
TRIPLET_NEG_RING = 8


def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example triplet mining for embedding training: for every
    anchor vector, the hardest positive (same label, LOWEST cosine among
    a deterministic TRIPLET_POS_SAMPLE-member candidate ring) and the
    hardest negative (different label, HIGHEST cosine among a
    deterministic TRIPLET_NEG_RING-member ring of its LSH band-bucket
    co-residents — both candidate sets are rings now, r9), with the
    triplet margin. Rows with NULL negatives are anchors whose ring
    neighbors are all same-class — the easy cases a hard-mining batch
    sampler skips.

    Positive candidates are a RING SAMPLE, not the full class block: class
    members take positions in md5-hash order (two-phase distributed rank —
    grouped_running_sum, never a per-class single-reducer window), and
    each anchor pairs with the next TRIPLET_POS_SAMPLE positions mod class
    size. That is n x P pairs — linear in the collection — where the full
    class block join is n x class_size and measured 100x cost growth for
    10x data before this change. When a class has <= P+1 members the ring
    IS the whole class and the pick is exact; bigger classes get the
    standard batch-sampled semi-hard semantics. Negatives apply the SAME
    ring device per LSH band bucket of the adaptive md5-derived
    hyperplane family (see the candidate-stage comment): ids-only ring
    join, pair dedupe, THEN vectors re-attach by vec_id equi-join (the
    embedding_cosine_dup shape — wide vectors never ride the candidate
    shuffle). Every pick is deterministic (md5/vec_id ring orders, trunc6
    cosine, id tie-breaks), so the whole miner is oracle-checkable
    bit-for-bit.
    """
    from .distributed import grouped_running_sum

    emb = load_vectors(spark, sf_dir)
    # ids-only ring construction (r9, VERDICT item 4): the ranked frame,
    # the ring join, and the explode x TRIPLET_POS_SAMPLE all carry two
    # longs + a hash — never the dim-wide vector. Vectors re-attach by
    # vec_id equi-join only for the cosine verify (the exact shape the
    # negative path and embedding_cosine_dup already use). Before this
    # the anchor explode shipped a_emb x P and members shipped p_emb
    # through the (label, _cand_pos) shuffle — the dominant share of the
    # operator's 71 GB mem-spill at the 100x sweep.
    hashed = emb.select(
        "vec_id",
        "label",
        F.md5(F.concat(F.lit("tm:"), F.col("vec_id").cast("string"))).alias("_h"),
    )
    ranked = grouped_running_sum(hashed, "label", F.col("_h"), F.lit(1), "_rk")
    sizes = ranked.groupBy("label").agg(F.count(F.lit(1)).alias("_size"))
    members = ranked.select(
        "label",
        (F.col("_rk") - 1).alias("_cand_pos"),
        F.col("vec_id").alias("pos_id"),
    )
    anchors = (
        ranked.join(sizes, "label")
        # Singleton classes yield no positive candidates: without this
        # filter F.sequence(1, _size - 1) is sequence(1, 0) = [1, 0]
        # (Spark defaults to a descending step), pairing the anchor with
        # ITSELF as "hardest positive" while the oracle's delta range is
        # empty and drops the anchor — a Spark/oracle divergence on any
        # corpus with a single-member label class (ADVICE r5).
        .filter(F.col("_size") > 1)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            (F.col("_rk") - 1).alias("_pos"),
            "_size",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(TRIPLET_POS_SAMPLE), F.col("_size") - 1))
            ).alias("_delta"),
        )
        .withColumn("_cand_pos", (F.col("_pos") + F.col("_delta")) % F.col("_size"))
    )
    pos_pairs = anchors.join(
        members,
        (anchors.anchor_label == members.label)
        & (anchors._cand_pos == members._cand_pos),
    ).select("anchor_id", "anchor_label", "pos_id")
    pav = emb.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb"))
    ppv = emb.select(F.col("vec_id").alias("pos_id"), F.col("embedding").alias("p_emb"))
    pos_scored = (
        pos_pairs.join(pav, "anchor_id")
        .join(ppv, "pos_id")
        # explicit narrow projection BEFORE the per-anchor window: only
        # ids + the truncated cosine ride the rank shuffle
        .select(
            "anchor_id",
            "anchor_label",
            "pos_id",
            _trunc6(_cosine(F.col("a_emb"), F.col("p_emb"))).alias("pos_cosine"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        # asc_NULLS_LAST: DuckDB sorts nulls last in ASC too; Spark's bare
        # asc puts a zero-norm member's NULL cosine FIRST (= "hardest
        # positive"), silently diverging (tools/fuzz_edge_docs.py)
        F.asc_nulls_last("pos_cosine"), F.asc("pos_id")
    )
    hardest_pos = (
        pos_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("anchor_id", "anchor_label", "pos_id", "pos_cosine")
    )
    # hardest negative: ids-only band collisions, vectors re-attached.
    # The band family widens with the collection (_adaptive_band_params) —
    # at driver oracle scales (n <= 2.4k) it IS the fixed 4-bit family the
    # SQL twin spells out (the pinned adaptive-banding oracle invariant);
    # past that, fixed 4-bit buckets grow as n/16 and the candidate join
    # turns quadratic (measured: the 10x corpus hung before this line).
    n_bits, n_bands = _adaptive_band_params(emb.count())
    keyed = emb.select(
        "vec_id", "label", *_band_key_cols(F.col("embedding"), n_bits, n_bands)
    )
    bands = F.array(*[F.col(f"k{b}") for b in range(n_bands)])
    coll = keyed.select("vec_id", "label", F.posexplode(bands).alias("band", "key"))
    # Negative candidates = per-BUCKET deterministic ring (r9, the same
    # device the positive path uses): within every (band, key) bucket,
    # members take vec_id order and each pairs with the next
    # TRIPLET_NEG_RING positions mod bucket size. Volume is
    # n x bands x RING — LINEAR in the collection — where the previous
    # all-collisions form emitted ~occupancy²/2 x buckets x bands id
    # pairs (~150M rows at the 100x corpus) and then paid a (anchor,neg)
    # match-count groupBy AND a per-anchor rank window over that volume:
    # the two stages the 100x sweep localized the operator's 71 GB
    # memory spill to (BENCH_NOTES r9). The ring also hard-bounds the
    # templated-cluster shape — N identical vectors share every bucket,
    # and the ring emits N x RING pairs where the collision join emitted
    # C(N, 2) x bands. Trade (stated): candidates are a deterministic
    # bucket-local sample of the band collisions rather than the
    # match-count-ranked full set, so the miner is semi-hard batch-sampled
    # (the standard triplet regime) — candidates still come only from
    # sketch-similar vectors, and every pick stays bit-deterministic
    # (vec_id ring order, trunc6 cosine, id tie-breaks).
    wb = Window.partitionBy("band", "key").orderBy("vec_id")
    # bucket occupancy `m` rides the SAME (band, key) exchange as the rank
    # (an unordered count window over the rank window's partitioning adds a
    # Window op, not a shuffle) — r13: the separate groupBy + equi-join
    # re-shuffled coll a second time for a value the sorted partition
    # already knows (guide §2.4, two operations keyed the same way share
    # one exchange).
    ranked_b = coll.withColumn("rn", F.row_number().over(wb) - 1).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    )
    ringed = (
        ranked_b
        # singleton buckets pair with nobody; the m > 1 guard keeps
        # sequence() ascending (the descending-sequence trap)
        .filter(F.col("m") > 1)
        .select(
            "band",
            "key",
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("a_label"),
            "rn",
            "m",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(TRIPLET_NEG_RING), F.col("m") - 1)
                )
            ).alias("_delta"),
        )
        .withColumn("cand_rn", (F.col("rn") + F.col("_delta")) % F.col("m"))
    )
    cand_top = (
        ringed.join(
            ranked_b.select(
                "band",
                "key",
                F.col("vec_id").alias("neg_id"),
                F.col("label").alias("n_label"),
                F.col("rn").alias("cand_rn"),
            ),
            ["band", "key", "cand_rn"],
        )
        .filter(F.col("a_label") != F.col("n_label"))
        .select("anchor_id", "neg_id")
        # NO dropDuplicates (r13): a pair surfacing from several bands is
        # byte-identical each time (same ids, hence same trunc6 cosine),
        # so the per-anchor top-1 window below picks the same row whether
        # duplicates exist or not — the dedupe exchange bought nothing.
        # Duplicate volume is bounded by n_bands (<= the band count), so
        # the window reads <= bands x the deduped volume at any scale.
    )
    av = emb.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb"))
    nv = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("n_emb"))
    neg_scored = (
        cand_top.join(av, "anchor_id")
        .join(nv, "neg_id")
        .withColumn("neg_cosine", _trunc6(_cosine(F.col("a_emb"), F.col("n_emb"))))
    )
    wn = Window.partitionBy("anchor_id").orderBy(F.desc("neg_cosine"), F.asc("neg_id"))
    hardest_neg = (
        neg_scored.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("anchor_id", "neg_id", "neg_cosine")
    )
    return (
        hardest_pos.join(hardest_neg, "anchor_id", "left")
        .select(
            "anchor_id",
            "anchor_label",
            "pos_id",
            "pos_cosine",
            "neg_id",
            "neg_cosine",
            (F.col("pos_cosine") - F.col("neg_cosine")).alias("margin"),
        )
        .orderBy("anchor_id")
    )


def triplet_mining_oracle() -> str:
    bit_exprs = _lsh_bit_exprs_sql()
    key_exprs = _lsh_key_exprs_sql()
    exploded = "\n          UNION ALL ".join(
        f"SELECT vec_id, label, {b} AS band, k{b} AS key FROM keys"
        for b in range(LSH_BANDS)
    )
    cos_ap = (
        "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))))"
    )
    cos_xy = (
        "list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(en.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(en.embedding AS DOUBLE[]), CAST(en.embedding AS DOUBLE[]))))"
    )
    return finite_scan(f"""
        WITH hashed AS (
          SELECT vec_id, label, embedding,
                 md5('tm:' || CAST(vec_id AS VARCHAR)) AS h
          FROM embeddings
        ),
        ranked AS (
          SELECT vec_id, label, embedding,
                 ROW_NUMBER() OVER (PARTITION BY label ORDER BY h) - 1 AS pos
          FROM hashed
        ),
        sizes AS (
          SELECT label, COUNT(*) AS sz FROM hashed GROUP BY label
        ),
        anchors AS (
          SELECT r.vec_id AS anchor_id, r.label AS anchor_label,
                 r.embedding AS a_embedding,
                 (r.pos + d.delta) % s.sz AS cand_pos
          FROM ranked r
          JOIN sizes s USING (label)
          JOIN (SELECT unnest(range(1, {TRIPLET_POS_SAMPLE} + 1)) AS delta) d
            ON d.delta <= s.sz - 1
        ),
        pos_scored AS (
          SELECT aa.anchor_id, aa.anchor_label, p.vec_id AS pos_id,
                 FLOOR(({cos_ap}) * 1e6) / 1e6 AS pos_cosine
          FROM anchors aa
          JOIN ranked p ON p.label = aa.anchor_label AND p.pos = aa.cand_pos
          JOIN (SELECT vec_id, embedding FROM embeddings) a
            ON a.vec_id = aa.anchor_id
        ),
        hardest_pos AS (
          SELECT anchor_id, anchor_label, pos_id, pos_cosine
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                     ORDER BY pos_cosine ASC, pos_id ASC) AS rn
            FROM pos_scored
          ) WHERE rn = 1
        ),
        sig AS (
          SELECT vec_id, label, embedding,
                 {bit_exprs}
          FROM embeddings
        ),
        keys AS (
          SELECT vec_id, label, {key_exprs} FROM sig
        ),
        exploded AS (
          {exploded}
        ),
        rankedb AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY band, key
                                    ORDER BY vec_id) - 1 AS rn,
                 COUNT(*) OVER (PARTITION BY band, key) AS m
          FROM exploded
        ),
        ringed AS (
          -- per-bucket deterministic ring, r9: each member pairs with
          -- the next TRIPLET_NEG_RING positions mod bucket size (the
          -- Spark side's exact construction)
          SELECT r.band, r.key, r.vec_id AS anchor_id, r.label AS a_label,
                 (r.rn + d.delta) % r.m AS cand_rn
          FROM rankedb r
          JOIN (SELECT unnest(range(1, {TRIPLET_NEG_RING} + 1)) AS delta) d
            ON d.delta <= r.m - 1
        ),
        cand AS (
          SELECT DISTINCT g.anchor_id, y.vec_id AS neg_id
          FROM ringed g
          JOIN rankedb y
            ON y.band = g.band AND y.key = g.key AND y.rn = g.cand_rn
          WHERE g.a_label <> y.label
        ),
        neg_scored AS (
          SELECT c.anchor_id, c.neg_id,
                 FLOOR(({cos_xy}) * 1e6) / 1e6 AS neg_cosine
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.anchor_id
          JOIN embeddings en ON en.vec_id = c.neg_id
        ),
        hardest_neg AS (
          SELECT anchor_id, neg_id, neg_cosine
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                     ORDER BY neg_cosine DESC, neg_id ASC) AS rn
            FROM neg_scored
          ) WHERE rn = 1
        )
        SELECT hp.anchor_id, hp.anchor_label, hp.pos_id, hp.pos_cosine,
               hn.neg_id, hn.neg_cosine,
               hp.pos_cosine - hn.neg_cosine AS margin
        FROM hardest_pos hp
        LEFT JOIN hardest_neg hn USING (anchor_id)
        ORDER BY hp.anchor_id
    """)


import math as _math

# integer ppm discount table for NDCG: position p -> round(1e6 / log2(p+1)).
# Literal constants on both engines, so the DCG sum is pure integer
# arithmetic — order-independent and bit-portable (a float DCG sum would
# depend on reduction order).
_NDCG_DISC_PPM = [round(1_000_000 / _math.log2(p + 1)) for p in range(1, TOP_K + 1)]
_NDCG_IDCG_PPM = sum(_NDCG_DISC_PPM)


def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the LSH ANN index against exact
    search: per query, recall@K and binary-relevance NDCG@K of
    ann_lsh_topk's ranking, with ann_bruteforce_topk's top-K as the
    relevant set — the eval harness that decides whether an ANN index is
    good enough to replace exact search for hard-negative mining /
    decontamination at scale.

    DCG uses an integer-ppm discount table (module constant) so the sum
    is order-independent; NDCG normalizes by the fixed K-relevant ideal
    (IDCG_K), also integer. Both input rankings are deterministic
    (trunc6 cosine, id tie-breaks), so the whole metric is oracle-checked
    bit-for-bit. Cost: the two index scans it evaluates; the join is
    K-rows-per-query tiny.

    Ingest precondition: PK-unique vec_id scan — a replayed key perturbs
    both rankings' tie-breaks nondeterministically. Front door:
    restore_unique_docs / catalog.load_table_unique at ingest; observable
    via quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    exact = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("rel")
    )
    lsh = ann_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC_PPM]), F.col("rank")
    )
    marked = lsh.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        (F.coalesce(F.col("rel"), F.lit(0)) * disc).alias("gain_ppm"),
    )
    queries = exact.select("query_id").distinct()
    agg = marked.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("hits"),
        F.sum("gain_ppm").cast("bigint").alias("dcg_ppm"),
    )
    return (
        queries.join(agg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            F.expr(f"coalesce(hits, 0) * 1000000 div {TOP_K}")
            .cast("bigint")
            .alias("recall_ppm"),
            F.expr(f"coalesce(dcg_ppm, 0) * 1000000 div {_NDCG_IDCG_PPM}")
            .cast("bigint")
            .alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )


def ndcg_eval_oracle() -> str:
    disc_case = " ".join(
        f"WHEN {p + 1} THEN {d}" for p, d in enumerate(_NDCG_DISC_PPM)
    )
    return finite_scan(f"""
        WITH exact AS (
          SELECT query_id, neighbor_id FROM ({ann_bruteforce_topk_oracle()})
        ),
        lsh AS (
          SELECT query_id, neighbor_id, rank FROM ({ann_lsh_topk_oracle()})
        ),
        marked AS (
          SELECT l.query_id,
                 CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
                 (CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   * (CASE l.rank {disc_case} END) AS gain_ppm
          FROM lsh l LEFT JOIN exact e
            ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
        ),
        agg AS (
          SELECT query_id, SUM(rel) AS hits, SUM(gain_ppm) AS dcg_ppm
          FROM marked GROUP BY query_id
        )
        SELECT q.query_id,
               CAST(COALESCE(a.hits, 0) AS BIGINT) AS hits,
               CAST(COALESCE(a.hits, 0) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm,
               CAST(COALESCE(a.dcg_ppm, 0) * 1000000 // {_NDCG_IDCG_PPM} AS BIGINT) AS ndcg_ppm
        FROM (SELECT DISTINCT query_id FROM exact) q
        LEFT JOIN agg a USING (query_id)
        ORDER BY q.query_id
    """)


JL_DIMS = 8  # reduced dimensionality


def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection to JL_DIMS dimensions using
    the first JL_DIMS md5-derived hyperplanes (the same deterministic
    family the LSH signatures threshold — the signature IS the sign of
    this projection, so the two stay consistent): the cheap
    dimensionality-reduction step before clustering / visual inspection /
    coarse ANN when the full embedding width is too expensive to shuffle.

    Output is long-form (vec_id, dim, proj) — scalar columns only, one
    row per reduced coordinate (a wide array column would defeat the
    driver canonicalizer, the skew_salted_daily_users lesson). Zero
    shuffle: JL_DIMS dot products in-row, posexplode, no aggregation.
    """
    emb = load_vectors(spark, sf_dir)
    planes = _lsh_planes(JL_DIMS)
    projs = F.array(
        *[
            _trunc6(_dot(F.col("embedding"), F.array(*[F.lit(v) for v in p])))
            for p in planes
        ]
    )
    return (
        emb.select("vec_id", F.posexplode(projs).alias("dim", "proj"))
        .orderBy("vec_id", "dim")
    )


def jl_projection_oracle() -> str:
    proj_exprs = ", ".join(
        f"FLOOR(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST([{', '.join(repr(v) for v in p)}] AS DOUBLE[])) * 1e6) / 1e6"
        for p in _lsh_planes(JL_DIMS)
    )
    return finite_scan(f"""
        WITH wide AS (
          SELECT vec_id, [{proj_exprs}] AS projs FROM embeddings
        )
        SELECT vec_id, CAST(d.i - 1 AS INT) AS dim, projs[CAST(d.i AS INT)] AS proj
        FROM wide,
             (SELECT unnest(range(1, {JL_DIMS} + 1)) AS i) d
        ORDER BY vec_id, dim
    """)


# --- product-quantization ANN ----------------------------------------------

PQ_M = 8  # subspaces (EMB_DIM-dim embedding -> EMB_DIM/PQ_M dims each)
PQ_K = 16  # codes per subspace codebook


def _pq_sub_d() -> int:
    """Subvector width for the PQ index, derived from the declared
    EMB_DIM (ADVICE r9: a hardcoded 64 silently truncated every
    subvector to empty under a non-default ETL_SCHEMA_SPARK_EMB_DIM).
    PQ requires the dimension to split evenly across subspaces — a
    misconfigured pair fails loudly at plan time, on both engines."""
    if EMB_DIM % PQ_M != 0:
        raise ValueError(
            f"EMB_DIM={EMB_DIM} is not divisible by PQ_M={PQ_M}; "
            "product quantization needs equal-width subspaces "
            "(set ETL_SCHEMA_SPARK_EMB_DIM to a multiple of 8)"
        )
    return EMB_DIM // PQ_M


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): top-k neighbors
    for the first N_QUERIES vectors via asymmetric-distance computation
    over PQ codes — the billion-vector storage+search story that pairs
    with ``embedding_quantize`` (scalar int8 = 4x compression; PQ codes =
    PQ_M bytes/vector = 32x here, and the search never touches floats on
    the collection side).

    Codebooks are deterministic so the whole index is oracle-checkable:
    per subspace m, the PQ_K codewords are the m-th subvectors of the
    PQ_K vectors with smallest md5("pq:" || vec_id) (a uniform corpus
    sample — the portable stand-in for per-subspace k-means, exactly as
    ann_ivf_topk's label centroids stand in for a trained coarse
    quantizer). Encoding assigns each vector the L2-nearest codeword per
    subspace (code-id tie-break); queries build a (query, subspace, code)
    distance table against the codebook and ADC scores every vector as
    the sum of PQ_M table lookups.

    Plan/scale: the codebook (PQ_M x PQ_K subvectors) and the query
    distance table (N_QUERIES x PQ_M x PQ_K rows) are metadata-sized and
    broadcast; the collection is touched exactly twice at scan speed —
    once to encode (explode to n x PQ_M subvector rows, broadcast-join
    the codebook, fold-L2, min-struct argmin with map-side partials) and
    once as the (vec_id, m, code) table ADC joins against. Nothing
    vector-width ever shuffles; per-query ranking is the same
    N_QUERIES-partition top-k window as ann_bruteforce_topk. L2 folds use
    the sequential zip_with/aggregate shape (_dot) that is bit-identical
    to DuckDB's list_dot_product, so distances — and therefore ranks —
    hash-match end-to-end.

    Ingest precondition: PK-unique vec_id scan — a replayed key shifts
    the md5-ordered codebook sample and the per-query rank cut
    nondeterministically. Front door: restore_unique_docs /
    catalog.load_table_unique at ingest; observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    emb = load_vectors(spark, sf_dir)
    sub_d = _pq_sub_d()
    # deterministic codebook sample: PQ_K vectors by md5 order (TakeOrdered)
    sample = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))).alias("_h"),
        )
        .orderBy("_h")
        .limit(PQ_K)
    )
    wc = Window.orderBy("_h")  # PQ_K rows — single-task by construction
    codebook = (
        sample.withColumn("c", F.row_number().over(wc) - 1)
        .select(
            "c",
            F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
            "embedding",
        )
        .select(
            "m",
            "c",
            F.expr(f"slice(embedding, m * {sub_d} + 1, {sub_d})").alias("cb_sub"),
        )
    )
    subvecs = emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        "embedding",
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {sub_d} + 1, {sub_d})").alias("sub"),
    )
    diff = F.zip_with("sub", "cb_sub", lambda x, y: x.cast("double") - y.cast("double"))
    d2 = F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    codes = (
        subvecs.join(F.broadcast(codebook), "m")
        .withColumn("d2", d2)
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "c")).alias("best"))
        .select("vec_id", "m", F.col("best.c").alias("code"))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        "embedding",
    ).select(
        "query_id",
        "m",
        F.expr(f"slice(embedding, m * {sub_d} + 1, {sub_d})").alias("sub"),
    )
    dist_table = (
        queries.join(F.broadcast(codebook), "m")
        .withColumn("qd2", d2)
        .select("query_id", "m", F.col("c").alias("code"), "qd2")
    )
    # ADC sum folded in m-order: a bare SUM over the 8 subspace terms
    # accumulates in nondeterministic order (both engines), and double
    # addition is not associative — the m-sorted sequential fold makes
    # the distance bit-identical to the oracle's ones-vector dot product.
    adc = (
        codes.join(F.broadcast(dist_table), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            _trunc6(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("m", "qd2"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["qd2"],
                )
            ).alias("approx_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "approx_d2", "rank")
        .orderBy("query_id", "rank")
    )


def ann_pq_topk_oracle() -> str:
    sub_d = _pq_sub_d()
    sub = (
        f"[CAST(x AS DOUBLE) for x in embedding[(m * {sub_d} + 1):"
        f"(m * {sub_d} + {sub_d})]]"
    )
    return finite_scan(f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        sample AS (
          SELECT vec_id, embedding,
                 ROW_NUMBER() OVER (
                     ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS c
          FROM embeddings
          ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {PQ_K}
        ),
        codebook AS (
          SELECT m, c, {sub} AS cb_sub FROM sample CROSS JOIN ms
        ),
        subvecs AS (
          SELECT vec_id, m, {sub} AS sub FROM embeddings CROSS JOIN ms
        ),
        scored AS (
          SELECT s.vec_id, s.m, cb.c,
                 list_dot_product(
                     [s.sub[i] - cb.cb_sub[i] for i in range(1, {sub_d} + 1)],
                     [s.sub[i] - cb.cb_sub[i] for i in range(1, {sub_d} + 1)]
                 ) AS d2
          FROM subvecs s JOIN codebook cb USING (m)
        ),
        codes AS (
          -- MIN over a (d2, c) struct = Spark's F.min(F.struct(...)):
          -- lexicographic, so ties on d2 break toward the smaller code
          SELECT vec_id, m, (MIN(struct_pack(d := d2, c := c))).c AS code
          FROM scored GROUP BY vec_id, m
        ),
        qsub AS (
          SELECT vec_id AS query_id, m, {sub} AS sub
          FROM embeddings CROSS JOIN ms WHERE vec_id < {N_QUERIES}
        ),
        dist_table AS (
          SELECT q.query_id, q.m, cb.c AS code,
                 list_dot_product(
                     [q.sub[i] - cb.cb_sub[i] for i in range(1, {sub_d} + 1)],
                     [q.sub[i] - cb.cb_sub[i] for i in range(1, {sub_d} + 1)]
                 ) AS qd2
          FROM qsub q JOIN codebook cb USING (m)
        ),
        adc AS (
          -- m-ordered sequential fold (list_dot_product against ones) so
          -- the 8-term double sum is bit-identical to the Spark fold
          SELECT d.query_id, co.vec_id,
                 FLOOR(list_dot_product(
                     list(d.qd2 ORDER BY d.m),
                     [1.0 for _ in range({PQ_M})]) * 1e6) / 1e6 AS approx_d2
          FROM codes co JOIN dist_table d USING (m, code)
          WHERE co.vec_id <> d.query_id
          GROUP BY d.query_id, co.vec_id
        ),
        ranked AS (
          SELECT query_id, vec_id AS neighbor_id, approx_d2,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY query_id
                     ORDER BY approx_d2 ASC, vec_id ASC) AS INT) AS rank
          FROM adc
        )
        SELECT query_id, neighbor_id, approx_d2, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """)


# --- vector-domain accounting (ADVICE r8: make EMB_DIM misdeclaration loud) --


def embedding_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row accounting of the finite-vector domain contract: how many
    embedding rows the fleet's shared scan (load_vectors) admits and why
    the rest fall out — NULL, ragged width, non-finite — plus the
    corpus's DOMINANT width vs the DECLARED width (EMB_DIM) and their
    agreement flag. This is the ingest-time report that turns the
    "misdeclared width silently empties every vector operator" failure
    mode into a red row (dim_contract_ok = false) a scheduler can alert
    on; the same role quality.expectation_report plays for the scalar
    tables.

    Plan shape: ONE aggregate pass over the embeddings scan for the
    counters (partial-aggregated; only five longs cross the shuffle) plus
    one groupBy over len(embedding) — at most a handful of distinct
    widths, reduced map-side — whose 1-row mode cross-joins back. No
    collect, no window over the raw table.

    rows_nonfinite is DERIVED (total - null - mismatch - kept) on both
    sides rather than counted, so Spark's three-valued `exists` over a
    NULL element and DuckDB's NULL-skipping list_bool_and can never
    disagree about which bucket an undecidable row lands in — the kept
    predicate (the contract itself) is the only probe.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    c = F.col("embedding")
    nonfinite = F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    kept = c.isNotNull() & (F.size(c) == EMB_DIM) & ~nonfinite
    stats = raw.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_total"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint").alias("rows_null"),
        F.sum(F.when(c.isNotNull() & (F.size(c) != EMB_DIM), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_dim_mismatch"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("rows_kept"),
    )
    dims = (
        raw.filter(c.isNotNull())
        .groupBy(F.size(c).alias("dim"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # mode with (count desc, dim asc) tie-break as a 1-row aggregate —
    # min over struct(-n, dim); NULL (not zero rows) on an all-NULL column
    dom = dims.agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("dim").alias("dim"))).alias(
            "m"
        )
    ).select(F.col("m.dim").cast("bigint").alias("dominant_dim"))
    return stats.crossJoin(F.broadcast(dom)).select(
        "rows_total",
        "rows_null",
        "rows_dim_mismatch",
        (
            F.col("rows_total")
            - F.col("rows_null")
            - F.col("rows_dim_mismatch")
            - F.col("rows_kept")
        )
        .cast("bigint")
        .alias("rows_nonfinite"),
        "rows_kept",
        "dominant_dim",
        F.lit(EMB_DIM).cast("bigint").alias("declared_dim"),
        F.coalesce(F.col("dominant_dim") == EMB_DIM, F.lit(False)).alias(
            "dim_contract_ok"
        ),
    )


def embedding_domain_profile_oracle() -> str:
    return f"""
        WITH stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
                 CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS rows_null,
                 CAST(SUM(CASE WHEN embedding IS NOT NULL
                                AND len(embedding) <> {EMB_DIM}
                               THEN 1 ELSE 0 END) AS BIGINT) AS rows_dim_mismatch,
                 CAST(SUM(CASE WHEN {FINITE_EMB_PRED_SQL} THEN 1 ELSE 0 END)
                      AS BIGINT) AS rows_kept
          FROM embeddings
        ),
        dom AS (
          SELECT CAST((
            SELECT dim FROM (
              SELECT len(embedding) AS dim, COUNT(*) AS n
              FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1
            ) ORDER BY n DESC, dim ASC LIMIT 1
          ) AS BIGINT) AS dominant_dim
        )
        SELECT rows_total, rows_null, rows_dim_mismatch,
               CAST(rows_total - rows_null - rows_dim_mismatch - rows_kept
                    AS BIGINT) AS rows_nonfinite,
               rows_kept, dominant_dim,
               CAST({EMB_DIM} AS BIGINT) AS declared_dim,
               COALESCE(dominant_dim = {EMB_DIM}, FALSE) AS dim_contract_ok
        FROM stats CROSS JOIN dom
    """


# --- class-balance resampling ------------------------------------------------


def label_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing for a labeled embedding set:
    downsample every label class to the SMALLEST class's size (the
    classic balanced-training-set prep before knn_classify /
    kmeans-style consumers), keeping each class's first `target` members
    in md5(vec_id) order — a uniform-random but reproducible pick, the
    same device source_token_budget uses for its quota sample.

    Scale shape: the per-class rank comes from the distributed two-phase
    pattern (grouped_running_sum: chunk by (label, md5 prefix),
    broadcast prefix offsets) — never Window.partitionBy(label), which
    would sort a whole class in one task on a skewed corpus. The target
    is a 1-row broadcast aggregate of per-class counts. NULL labels are
    outside the class domain (no class to balance into) — excluded on
    both sides, the wave-6 NULL-key contract.
    """
    from .distributed import grouped_running_sum

    emb = (
        load_vectors(spark, sf_dir)
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label")
    )
    hashed = emb.withColumn(
        "_h", F.md5(F.concat(F.lit("lb:"), F.col("vec_id").cast("string")))
    )
    ranked = grouped_running_sum(hashed, "label", F.col("_h"), F.lit(1), "rk")
    target = (
        ranked.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("_target"))
    )
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("rk") <= F.col("_target"))
        .select("vec_id", "label", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("label", "rk")
    )


def label_balance_sample_oracle() -> str:
    return finite_scan("""
        WITH e AS (
          SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL
        ),
        r AS (
          SELECT vec_id, label,
                 ROW_NUMBER() OVER (
                     PARTITION BY label
                     ORDER BY md5('lb:' || CAST(vec_id AS VARCHAR))) AS rk
          FROM e
        ),
        t AS (
          SELECT MIN(n) AS target
          FROM (SELECT COUNT(*) AS n FROM e GROUP BY label)
        )
        SELECT vec_id, label, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= (SELECT target FROM t)
        ORDER BY label, rk
    """)


# --- index-quality evaluation ------------------------------------------------


def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the exact brute-force baseline,
    per query — the index-quality eval a deployment runs before trusting
    the approximate path (the ANN twin of minhash_pr_eval: measure the
    approximation against ground truth INSIDE the engine, same data,
    same determinism discipline).

    recall = |ivf_topk ∩ exact_topk| / |exact_topk| per query; the join
    is on (query_id, neighbor_id) id pairs — both sides are top-k-bounded
    (N_QUERIES x TOP_K rows), so the eval costs two index probes plus a
    metadata-sized join no matter the collection size.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    truth = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k_truth"))
    # both sides are top-k-bounded (N_QUERIES x TOP_K rows); broadcast
    # hints spare the post-aggregation stats guess from planning an SMJ
    hits = (
        bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        truth.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.col("k_truth").cast("bigint").alias("k_truth"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            _trunc6(
                F.coalesce(F.col("n_hits"), F.lit(0)) * 1.0 / F.col("k_truth")
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def ivf_recall_eval_oracle() -> str:
    return f"""
        WITH bf AS ({ann_bruteforce_topk_oracle()}),
        ivf AS ({ann_ivf_topk_oracle()}),
        truth AS (SELECT query_id, COUNT(*) AS k_truth FROM bf GROUP BY 1),
        hits AS (
          SELECT bf.query_id, COUNT(*) AS n_hits
          FROM bf JOIN ivf USING (query_id, neighbor_id)
          GROUP BY 1
        )
        SELECT t.query_id,
               CAST(t.k_truth AS BIGINT) AS k_truth,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               FLOOR(COALESCE(h.n_hits, 0) * 1.0 / t.k_truth * 1e6) / 1e6
                 AS recall
        FROM truth t LEFT JOIN hits h USING (query_id)
        ORDER BY t.query_id
    """


GRAPH_NPROBE = 3  # entry bucket + its (GRAPH_NPROBE - 1) nearest buckets


def _centroid_neighbor_graph(centroids: DataFrame) -> DataFrame:
    """(src, dst) centroid adjacency: each bucket linked to its
    GRAPH_NPROBE - 1 nearest sibling centroids by trunc6 cosine (ties →
    dst asc) plus itself — the navigable-small-world layer over the IVF
    coarse quantizer. The graph is |labels|^2 work on a metadata-sized
    table (the codebook), built once per plan and broadcast."""
    ca = centroids.select(F.col("c_label").alias("src"), F.col("centroid").alias("ce_a"))
    cb = centroids.select(F.col("c_label").alias("dst"), F.col("centroid").alias("ce_b"))
    edges = ca.join(cb, F.col("src") != F.col("dst")).withColumn(
        "ccos", _trunc6(_cosine(F.col("ce_a"), F.col("ce_b")))
    )
    w = Window.partitionBy("src").orderBy(F.desc("ccos"), F.asc("dst"))
    near = (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GRAPH_NPROBE - 1)
        .select("src", "dst")
    )
    return near.unionByName(
        centroids.select(F.col("c_label").alias("src"), F.col("c_label").alias("dst"))
    )


def ann_graph_expand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW-style one-hop neighbor expansion over the IVF buckets
    (VERDICT r11 item 7): route each query to its entry bucket (argmax
    centroid cosine, exactly ann_ivf_topk's probe), then EXPAND along
    the centroid neighbor graph to the entry's GRAPH_NPROBE - 1 nearest
    sibling buckets and rank the union of those inverted lists — the
    multi-probe recall repair for queries that land near a Voronoi
    boundary, where single-bucket IVF misses true neighbors sitting in
    the adjacent cell. One fixed hop keeps the search declarative (the
    full greedy NSW descent is a loop; its first expansion is where
    almost all of the recall gain at small probe counts lives).

    Scale: codebook and graph are metadata-sized and broadcast; the
    collection scan touches GRAPH_NPROBE/|labels| of the data per query
    (vs 1/|labels| for IVF, |collection| for brute force); each vector
    belongs to exactly one bucket, so the probe union never duplicates
    a candidate and the top-k window stays per-query bounded.
    """
    emb = load_vectors(spark, sf_dir)
    centroids = _label_codebook(emb)
    graph = _centroid_neighbor_graph(centroids)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_cent = queries.join(F.broadcast(centroids)).withColumn(
        "c_cos", _cosine(F.col("q_emb"), F.col("centroid"))
    )
    w_assign = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("c_label"))
    assigned = (
        q_cent.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("c_label").alias("entry"))
    )
    probes = assigned.join(
        F.broadcast(graph), F.col("entry") == F.col("src")
    ).select("query_id", "q_emb", F.col("dst").alias("bucket"))
    scored = emb.join(
        F.broadcast(probes),
        (F.col("label") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("cosine", _trunc6(_cosine(F.col("q_emb"), F.col("embedding"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def ann_graph_expand_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the graph-expanded probe AGAINST the single-bucket IVF
    probe, both measured on the exact brute-force truth — the paired
    eval ivf_recall_eval was built to receive (its docstring's "measure
    the approximation against ground truth" discipline, now comparing
    two approximations side by side): per query, k_truth, both hit
    counts, both recalls. The recall delta is the payoff of the one-hop
    expansion; every side is top-k-bounded so the eval is three index
    probes plus metadata-sized joins regardless of collection size.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    gx = ann_graph_expand_topk(spark, sf_dir).select("query_id", "neighbor_id")
    truth = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k_truth"))
    ivf_hits = (
        bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("ivf_hits"))
    )
    gx_hits = (
        bf.join(F.broadcast(gx), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("graph_hits"))
    )
    return (
        truth.join(F.broadcast(ivf_hits), "query_id", "left")
        .join(F.broadcast(gx_hits), "query_id", "left")
        .select(
            "query_id",
            F.col("k_truth").cast("bigint").alias("k_truth"),
            F.coalesce("ivf_hits", F.lit(0)).cast("bigint").alias("ivf_hits"),
            F.coalesce("graph_hits", F.lit(0)).cast("bigint").alias("graph_hits"),
            _trunc6(
                F.coalesce("ivf_hits", F.lit(0)) * 1.0 / F.col("k_truth")
            ).alias("ivf_recall"),
            _trunc6(
                F.coalesce("graph_hits", F.lit(0)) * 1.0 / F.col("k_truth")
            ).alias("graph_recall"),
        )
        .orderBy("query_id")
    )


def ann_graph_expand_topk_oracle() -> str:
    """ann_ivf_topk_oracle's CTE chain with the centroid neighbor graph
    and probe expansion spliced between assignment and scoring."""
    q_cent_cos = (
        "list_dot_product(qe, centroid)"
        " / (sqrt(list_dot_product(qe, qe))"
        " * sqrt(list_dot_product(centroid, centroid)))"
    )
    c_c_cos = (
        "list_dot_product(a.centroid, b.centroid)"
        " / (sqrt(list_dot_product(a.centroid, a.centroid))"
        " * sqrt(list_dot_product(b.centroid, b.centroid)))"
    )
    b_cos = (
        "list_dot_product(qe, be)"
        " / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(be, be)))"
    )
    return finite_scan(f"""
        WITH cent AS (
          SELECT label AS c_label, list(cx ORDER BY dim) AS centroid FROM (
            SELECT label, dim,
                   FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*) * 1e6) / 1e6 AS cx
            FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
                         unnest(embedding) AS val FROM embeddings)
            GROUP BY label, dim
          ) GROUP BY label
        ),
        cgraph AS (
          SELECT src, dst FROM (
            SELECT a.c_label AS src, b.c_label AS dst,
                   ROW_NUMBER() OVER (PARTITION BY a.c_label
                     ORDER BY (FLOOR(({c_c_cos}) * 1e6) / 1e6) DESC,
                              b.c_label ASC) AS rn
            FROM cent a JOIN cent b ON b.c_label != a.c_label
          ) WHERE rn <= {GRAPH_NPROBE - 1}
          UNION ALL SELECT c_label, c_label FROM cent
        ),
        q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        assigned AS (
          SELECT query_id, qe, c_label AS entry FROM (
            SELECT q.query_id, q.qe, c.c_label,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY ({q_cent_cos}) DESC, c.c_label ASC) AS rn
            FROM q CROSS JOIN cent c
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT a.query_id, a.qe, g.dst AS bucket
          FROM assigned a JOIN cgraph g ON g.src = a.entry
        ),
        scored AS (
          SELECT p.query_id, b.vec_id AS neighbor_id,
                 FLOOR(({b_cos}) * 1e6) / 1e6 AS cosine
          FROM probes p
          JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS be
                FROM embeddings) b
            ON b.label = p.bucket AND b.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """)


def ann_graph_expand_eval_oracle() -> str:
    return f"""
        WITH bf AS ({ann_bruteforce_topk_oracle()}),
        ivf AS ({ann_ivf_topk_oracle()}),
        gx AS ({ann_graph_expand_topk_oracle()}),
        truth AS (SELECT query_id, COUNT(*) AS k_truth FROM bf GROUP BY 1),
        ih AS (
          SELECT bf.query_id, COUNT(*) AS ivf_hits
          FROM bf JOIN ivf USING (query_id, neighbor_id) GROUP BY 1
        ),
        gh AS (
          SELECT bf.query_id, COUNT(*) AS graph_hits
          FROM bf JOIN gx USING (query_id, neighbor_id) GROUP BY 1
        )
        SELECT t.query_id,
               CAST(t.k_truth AS BIGINT) AS k_truth,
               CAST(COALESCE(ih.ivf_hits, 0) AS BIGINT) AS ivf_hits,
               CAST(COALESCE(gh.graph_hits, 0) AS BIGINT) AS graph_hits,
               FLOOR(COALESCE(ih.ivf_hits, 0) * 1.0 / t.k_truth * 1e6) / 1e6
                 AS ivf_recall,
               FLOOR(COALESCE(gh.graph_hits, 0) * 1.0 / t.k_truth * 1e6) / 1e6
                 AS graph_recall
        FROM truth t
        LEFT JOIN ih USING (query_id)
        LEFT JOIN gh USING (query_id)
        ORDER BY t.query_id
    """


CENTROID_SHIFT_LINE = 0.95  # half-centroid cosine below this => shifted
CSHIFT_SALT = "cshift:"


def centroid_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (VERDICT r9 item 5 family): per
    label, the cosine between the class centroid computed from each half
    of the deterministic md5 split — the "did this class's embedding
    distribution move" check a recurring ingest runs before trusting a
    new batch of vectors against an existing index/classifier (encoder
    version bumps, upstream preprocessing changes, and label noise all
    rotate class centroids long before accuracy metrics catch it).
    Complements embedding_domain_profile (is the WIDTH right) and
    psi_value_drift / doc_length_drift (scalar distributions) with the
    vector-space angle.

    On a single-vintage corpus the halves are exchangeable, so the
    report is a calibration baseline (cosine ~ 1); with a real second
    vintage the split column is the vintage and the same plan scores it.
    Pooling is the decimal-exact trunc6 device shared with
    _label_codebook, so centroids — and the cosine between them — are
    bit-portable to the oracle. Labels with vectors in only one half
    have nothing to compare and are excluded (inner join on label, both
    engines); NULL labels likewise.

    Scale: one explode to (label, half, pos) partials — partial-
    aggregated, <= |labels| x 2 x EMB_DIM groups — then metadata-sized
    centroid rows; nothing vector-width shuffles beyond the explode, and
    the fold over two EMB_DIM arrays per label is driver-free.
    """
    emb = load_vectors(spark, sf_dir).filter(F.col("label").isNotNull())
    half = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(CSHIFT_SALT), F.col("vec_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    sp = emb.select("label", half.alias("h"), "embedding")
    pooled = (
        sp.select("label", "h", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "h", "pos")
        .agg(
            F.sum(_trunc6(F.col("x").cast("double")).cast("decimal(18,6)")).alias(
                "_s"
            ),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "label",
            "h",
            "pos",
            _trunc6(F.col("_s").cast("double") / F.col("_n")).alias("cx"),
        )
    )
    cent = (
        pooled.groupBy("label", "h")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
        .select(
            "label",
            "h",
            F.transform(F.col("pairs"), lambda p: p["cx"]).alias("c"),
        )
    )
    counts = sp.groupBy("label", "h").agg(F.count(F.lit(1)).alias("n"))
    c0 = cent.filter(F.col("h") == 0).select("label", F.col("c").alias("c0"))
    c1 = cent.filter(F.col("h") == 1).select("label", F.col("c").alias("c1"))
    n0 = counts.filter(F.col("h") == 0).select("label", F.col("n").alias("n_ref"))
    n1 = counts.filter(F.col("h") == 1).select("label", F.col("n").alias("n_cur"))
    cos = F.try_divide(
        _dot(F.col("c0"), F.col("c1")),
        F.sqrt(_dot(F.col("c0"), F.col("c0"))) * F.sqrt(_dot(F.col("c1"), F.col("c1"))),
    )
    return (
        c0.join(c1, "label")
        .join(F.broadcast(n0), "label")
        .join(F.broadcast(n1), "label")
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            _trunc6(cos).alias("centroid_cosine"),
            (cos < CENTROID_SHIFT_LINE).alias("shifted"),
        )
        .orderBy("label")
    )


def centroid_shift_drift_oracle() -> str:
    cos = (
        "list_dot_product(a.c, b.c)"
        " / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c)))"
    )
    return finite_scan(f"""
        WITH sp AS (
          SELECT label, embedding,
                 CAST(('0x' || substr(md5('{CSHIFT_SALT}' ||
                                          CAST(vec_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 2 AS h
          FROM embeddings
          WHERE label IS NOT NULL
        ),
        pooled AS (
          SELECT label, h, dim,
                 FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*) * 1e6) / 1e6 AS cx
          FROM (SELECT label, h, generate_subscripts(embedding, 1) AS dim,
                       unnest(embedding) AS val FROM sp)
          GROUP BY label, h, dim
        ),
        cent AS (
          SELECT label, h, list(cx ORDER BY dim) AS c FROM pooled GROUP BY label, h
        ),
        cnt AS (SELECT label, h, COUNT(*) AS n FROM sp GROUP BY label, h)
        SELECT CAST(a.label AS BIGINT) AS label,
               CAST(ra.n AS BIGINT) AS n_ref,
               CAST(rb.n AS BIGINT) AS n_cur,
               FLOOR(({cos}) * 1e6) / 1e6 AS centroid_cosine,
               ({cos}) < {CENTROID_SHIFT_LINE} AS shifted
        FROM cent a
        JOIN cent b ON b.label = a.label AND a.h = 0 AND b.h = 1
        JOIN cnt ra ON ra.label = a.label AND ra.h = 0
        JOIN cnt rb ON rb.label = a.label AND rb.h = 1
        ORDER BY label
    """)
