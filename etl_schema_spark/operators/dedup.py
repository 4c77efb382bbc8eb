"""Deduplication operators over `documents` (SURVEY §2C).

Four tiers, mirroring a production pretraining-dedup stack:

  dedup_exact           hash-groupBy on normalized text (one shuffle on the
                        md5 key; trivially scales — the key is 32 bytes).
  dedup_ngram_jaccard   exact word-3-gram Jaccard via a prefix-filtered
                        (AllPairs/PPJoin) set-similarity join — candidates
                        come only from each doc's rarest shingles, with a
                        lossless recall guarantee at the threshold.
  dedup_minhash_lsh     MinHash signatures + LSH banding: candidates are
                        pairs sharing a band bucket — the 100 TB-scale path
                        (shuffle volume ~ n * bands, independent of n^2).
                        Verified with exact Jaccard afterward, so precision
                        is exact and only recall is probabilistic.
  simhash_fingerprint   64-bit SimHash per document, computed from md5
                        nibbles so the DuckDB oracle reproduces it bit-for-
                        bit (no engine-specific hash function).

The window/best-per-key dedup variant lives in rollups.dedup_best_per_user
(parity: views/website/entry07_platform_decile_*.sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import cpu_parallel, load_table
from .contracts import _trunc6, observe_cap

JACCARD_TAU = 0.5
MINHASH_SEEDS = 8
LSH_BANDS = 4
ROWS_PER_BAND = MINHASH_SEEDS // LSH_BANDS  # = 2
# Per-bucket occupancy cap for the ids-only LSH candidate paths. On a
# degenerate/templated corpus near-identical docs collide in EVERY band
# bucket, so one bucket row would hold an O(N) collect_list array and one
# task would materialize the C(N,2) pair explosion (executor OOM/skew).
# Each bucket contributes only its CAP smallest doc_ids (deterministic,
# row_number before the aggregate — bounds the agg buffer at CAP ids and
# the explode at C(CAP,2) ≈ 524k pairs), mirrored by QUALIFY in the
# oracles. Past the cap the corpus is a near-identical mega-cluster where
# pair-shaped output is the wrong shape anyway — the cluster-shaped
# family (semdedup/dup_components/canonical_pick) is the documented
# scale path (BENCH_NOTES, label-skew probe). The cap firing is
# OBSERVABLE (ADVICE r7): contracts.observe_cap attaches metrics
# "lsh_bucket_cap" / "minhash_band_cap" (rows_past_cap, max_occupancy)
# at each capped site, so a production run — and downstream pair-frame
# consumers like dup_components/dup_cluster_stats/dedup_impact_curve —
# can detect under-merged clusters instead of reading truncated pairs
# as complete.
LSH_BUCKET_CAP = 1024


def _normalized() -> Column:
    return F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")


def _shingles_of(toks: Column) -> Column:
    """Distinct word-3-gram shingles via zip_with over shifted slices.

    Deliberately NOT transform(sequence, i -> element_at(toks, i+k)): a
    lambda indexing an array expression re-evaluates the expression per
    element (and CollapseProject re-inlines any split() behind a column
    alias), giving O(tokens^2) work per doc — measured 11s vs 1s at sf0.1.
    The three slices evaluate `toks` once each; zip_with walks them in
    lockstep.
    """
    n = F.size(toks)
    s1 = F.slice(toks, 1, n - 2)
    s2 = F.slice(toks, 2, n - 2)
    s3 = F.slice(toks, 3, n - 2)
    shingles = F.array_distinct(
        F.zip_with(
            F.zip_with(s1, s2, lambda x, y: F.concat_ws(" ", x, y)),
            s3,
            lambda xy, z: F.concat_ws(" ", xy, z),
        )
    )
    return F.when(n >= 3, shingles).otherwise(F.array().cast("array<string>"))


def _seeded_md5(i: int):
    """Per-seed shingle hasher for MinHash signatures.

    MUST be built through this closure: passing ``lambda s, i=i: ...``
    straight to F.transform makes PySpark see a TWO-parameter lambda and
    bind ``i`` to the array-index column — the f-string then bakes the
    Column repr into the prefix, collapsing every seed to one degenerate
    hash family (caught in round 4 by minhash_jaccard_estimate's
    signature-level oracle; the tau-filtered pair outputs had masked it).
    """
    prefix = f"{i}:"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def _with_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) of ``docs(doc_id, text)``; a doc with no
    shingle (fewer than 3 tokens) cannot near-dup anything and is
    dropped."""
    return docs.select(
        "doc_id", _shingles_of(F.split(F.col("text"), r"\s+")).alias("shingles")
    ).filter(F.size("shingles") > 0)


def _shingled_docs(spark: SparkSession, sf_dir: str):
    return _with_shingles(
        cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    )


def _md5_minhash(shingles: Column) -> Column:
    """The portable MinHash signature: per seed i, the lexicographic MIN
    of md5("i:" || shingle) — MINHASH_SEEDS hex strings."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_md5(i)))
            for i in range(MINHASH_SEEDS)
        ]
    )


def _band_keys(mh: Column) -> Column:
    """The LSH_BANDS band-bucket keys of a portable signature: md5 of the
    band index ("b|") joined with the band's signature elements, so a
    candidate join is a single-key equi-join on the bucket."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(f"{b}|"),
                    *[mh[b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)],
                )
            )
            for b in range(LSH_BANDS)
        ]
    )


def _capped_bucket_pairs(banded: DataFrame, keys: list[str], cap_name: str) -> DataFrame:
    """Distinct (doc_a < doc_b) id pairs sharing a bucket of ``banded``
    (doc_id, *keys): ids-only, occupancy hard-capped at LSH_BUCKET_CAP
    min-doc_id keepers per bucket (observed as ``cap_name``), per-bucket
    pairs from a sorted collect_list + double explode."""
    w_bucket = Window.partitionBy(*keys).orderBy("doc_id")
    return (
        observe_cap(
            banded.withColumn("_rn", F.row_number().over(w_bucket)),
            cap_name,
            "_rn",
            LSH_BUCKET_CAP,
        )
        .filter(F.col("_rn") <= LSH_BUCKET_CAP)  # occupancy cap, see constant
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "doc_a"), F.col("ids"))
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))
            ).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _with_pair_shingles(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """``pairs(doc_a, doc_b)`` with both docs' shingle arrays (sh_a, sh_b)
    re-attached by two doc_id equi-joins."""
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return pairs.join(sh_a, "doc_a").join(sh_b, "doc_b")


def _jaccard(a: str = "sh_a", b: str = "sh_b") -> tuple[Column, Column]:
    """(|A ∩ B|, exact Jaccard) of two distinct-element array columns."""
    common = F.size(F.array_intersect(a, b))
    return common, common / (F.size(a) + F.size(b) - common)


def _verified(pairs: DataFrame, tau: float) -> DataFrame:
    """The exact-Jaccard verify tail over (doc_a, doc_b, sh_a, sh_b)
    candidates: (doc_a, doc_b, common, jaccard) at jaccard >= tau."""
    common, jac = _jaccard()
    return (
        pairs.withColumn("common", common)
        .withColumn("jaccard", _trunc6(jac))
        .filter(jac >= tau)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on md5 of normalized text, keep min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(_normalized()).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_exact_oracle() -> str:
    return r"""
        SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1 ORDER BY keep_doc_id
    """


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (doc_a < doc_b, jaccard >= tau).

    AllPairs/PPJoin-style exact set-similarity join:

      1. Rank every shingle by global document frequency (rarest first).
      2. Per doc, sort shingles by that rank and emit only the *prefix*
         of length n - ceil(tau*n) + 1 as candidate join keys. The prefix
         filtering lemma guarantees any pair with jaccard >= tau shares a
         key in both prefixes — recall is exactly 1, so this matches the
         naive n^2 oracle while the join only touches rare shingles.
      3. Symmetric length filter (tau*n_a <= n_b <= n_a/tau) prunes
         size-incompatible pairs before verification.
      4. Verify candidates with exact |A ∩ B| over the full shingle sets.

    This keeps the operator exact even on adversarial corpora (tiny shared
    vocabularies) where naive shingle-blocking degenerates to ~n^2; at
    100 TB the candidate volume is bounded by prefix postings of *rare*
    shingles instead of the hottest key.

    The prefix lemma holds for ANY global total order, so the df ranking
    (and its two posting-table shuffles) is strictly a candidate-volume
    heuristic — measured at sf0.1: hash-order (df-free) prefixes produce
    430,395 candidate pairs vs ~300 with rarity ranking, a ~1000x
    verification-load reduction for ~1.5s of ranking cost. At cluster
    scale that trade only improves (verification shuffles full shingle
    arrays; ranking shuffles 16-byte posting rows).

    Shingles are interned to xxhash64 longs up front: every downstream
    shuffle (postings, prefixes, verification arrays) carries 8 bytes per
    shingle instead of ~30-byte strings. Collision probability across a
    corpus vocabulary is ~v^2/2^65 (4e-11 at 30k shingles) — negligible
    against the exactness contract.

    The shingled table is persisted (memory-and-disk) because the plan
    references it three times — postings and both sides of the
    verification join — and tokenize+shingle+hash is the dominant per-row
    cost; without the persist Spark recomputes it per reference (measured
    ~2.5x the operator wall time at sf0.1). At cluster scale this is the
    standard stage-materialization of a set-similarity join. Both pins go
    through swap_pin's reuse form, keyed on the documents file's
    fingerprint: a repeat call over the unchanged file reuses them and
    runs only the candidate self-join and the verify tail, a changed tau
    swaps only the prefix pin, and a rewrite of the file swaps both. A
    long session holds at most one pinned pair (ADVICE r5 leak class), and
    bench/sweep harnesses release_pins() at exit.
    """
    import os

    from .cachereg import swap_pin

    src = (os.path.join(sf_dir, "documents.parquet"),)
    docs = swap_pin(
        "dedup_ngram_jaccard.shingles",
        lambda: _shingled_docs(spark, sf_dir).select(
            "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")
        ),
        spark=spark,
        params=(sf_dir,),
        inputs=src,
    )

    def prefix() -> DataFrame:
        posting = docs.select(
            "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
        )
        # Global order: rarest first, shingle hash as tie-break (total order).
        # df attaches by a shingle-keyed equi-join, NOT by carrying a
        # collect_list postings array through the df aggregate: a corpus-
        # common shingle (stopword trigram) holds O(docs-with-shingle) rows,
        # and the fused groupBy(shingle).collect_list(docs) form concentrated
        # that whole postings list into ONE agg buffer / task — the same
        # single-row blowup class as the LSH bucket cap (ADVICE r6), except
        # unbounded by banding. The count aggregate is fixed-state with
        # map-side partials, and the df join distributes the hot shingle's
        # rows across tasks (AQE skew-split handles the residual imbalance).
        dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        return (
            posting.join(dfreq, "shingle")
            .groupBy("doc_id")
            .agg(
                F.any_value(F.col("n_sh")).alias("n_sh"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "shingle"))),
                    lambda s: s["shingle"],
                ).alias("by_rarity"),
            )
            .select(
                "doc_id",
                "n_sh",
                F.slice(
                    "by_rarity",
                    1,
                    (
                        F.size("by_rarity") - F.ceil(F.size("by_rarity") * tau) + 1
                    ).cast("int"),
                ).alias("prefix"),
            )
        )

    # feeds both sides of the self-join; registry-pinned (no accumulation)
    ordered = swap_pin(
        "dedup_ngram_jaccard.prefix", prefix, spark=spark, params=(sf_dir, tau), inputs=src
    )
    pref = ordered.select("doc_id", "n_sh", F.explode("prefix").alias("shingle"))
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle")
    candidates = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= F.col("n_a") * tau)
            & (F.col("n_a") >= F.col("n_b") * tau)
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = _with_pair_shingles(candidates, docs)
    return _verified(verified, tau).orderBy("doc_a", "doc_b")


# DuckDB CTEs producing (doc_id, shingles) — shared by the jaccard oracle
# and downstream consumers of near-dup pairs (graph.dup_components oracle).
_SH_CTE_SQL = """sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                          for i in range(1, len(toks) - 1)])
                      ELSE [] END AS shingles
          FROM d
        )"""
SHINGLE_CTES_SQL = rf"""d AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        ),
        {_SH_CTE_SQL}"""

# DuckDB twins of _md5_minhash and _band_keys: the signature list over a
# ``shingles`` column and the band-bucket list over an ``mh`` column.
_MINHASH_SIG_SQL = ", ".join(
    f"list_min([md5('{i}:' || x) for x in shingles])" for i in range(MINHASH_SEEDS)
)
_BAND_KEYS_SQL = ", ".join(
    "md5(concat_ws(',', '{b}|', {parts}))".format(
        b=b,
        parts=", ".join(
            f"mh[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)
        ),
    )
    for b in range(LSH_BANDS)
)
# shingled docs -> (doc_id, shingles, mh) signatures over a prior sh CTE
_SIG_CTES_SQL = f"""s AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
        sig AS (
          SELECT doc_id, shingles, [{_MINHASH_SIG_SQL}] AS mh FROM s
        )"""


def _banded_cand_ctes_sql() -> str:
    """Signatures -> capped band buckets -> distinct candidate pairs with
    both shingle arrays (the dedup_minhash_portable candidate set), over a
    prior sh CTE. Rendered per call, so the cap follows LSH_BUCKET_CAP."""
    return f"""{_SIG_CTES_SQL},
        banded_all AS (
          SELECT doc_id, shingles, unnest([{_BAND_KEYS_SQL}]) AS bucket FROM sig
        ),
        banded AS (
          SELECT * FROM banded_all
          QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                  <= {LSH_BUCKET_CAP}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.shingles AS sh_a, b.shingles AS sh_b
          FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        )"""


# shingled docs -> signatures -> ids-only band buckets over a prior sh
# CTE, the form the front-door oracles band with
_SIG_BANDED_CTES_SQL = f"""s AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
        sig AS (SELECT doc_id, [{_MINHASH_SIG_SQL}] AS mh FROM s),
        banded AS (SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS bucket FROM sig)"""


def _agree_sql(a: str, b: str) -> str:
    """Matching positions of two portable signatures (the MinHash
    agreement count)."""
    return (
        f"list_sum([CASE WHEN {a}[i + 1] = {b}[i + 1] THEN 1 ELSE 0 END "
        f"for i in range(0, {MINHASH_SEEDS})])"
    )


# Posting-intersection CTEs (r14): |A ∩ B| via an equi-join on exploded
# shingles + COUNT(*) instead of the n^2 cross-pair list_intersect scan.
# EXACTLY the same pairs for any tau > 0: shingle lists are list_distinct,
# so COUNT(*) per (a, b) IS the intersection size, and a pair sharing no
# shingle (absent from the join) has jaccard 0 < tau. The driver's oracle
# gate and the pytest parity tests run this SQL dozens of times per
# session; the naive form cost ~7 s per evaluation at sf0.001 (DuckDB
# inlines CTEs, so multi-round consumers like dup_pagerank re-evaluated
# it per round — 30 s), the posting form ~0.1 s, outputs verified
# identical at sf0.001 and sf0.01.
JPAIRS_COMMON_CTES_SQL = rf"""{SHINGLE_CTES_SQL},
        post AS (
          SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
          FROM sh
        ),
        jcommon AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS common
          FROM post a JOIN post b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        )"""


def jaccard_pairs_ctes_sql(tau: float = JACCARD_TAU) -> str:
    """CTE chain ending in jpairs(doc_a, doc_b): near-dup pairs at tau."""
    return rf"""{JPAIRS_COMMON_CTES_SQL},
        jpairs AS MATERIALIZED (
          SELECT doc_a, doc_b FROM jcommon
          WHERE common * 1.0 / (n_a + n_b - common) >= {tau}
        )"""


def dedup_ngram_jaccard_oracle(tau: float = JACCARD_TAU) -> str:
    return rf"""
        WITH {JPAIRS_COMMON_CTES_SQL}
        SELECT doc_a, doc_b, common,
               FLOOR(common * 1.0 / (n_a + n_b - common) * 1e6) / 1e6 AS jaccard
        FROM jcommon
        WHERE common * 1.0 / (n_a + n_b - common) >= {tau}
        ORDER BY doc_a, doc_b
    """


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU) -> DataFrame:
    """MinHash + LSH banding near-dup detection with the production
    integer hash family (xxhash64 — no 32-byte hex strings on the wire).
    Oracle-checked by self-consistency since round 5: the output is the
    exact-Jaccard-verified pair set, which coincides with the portable
    md5 family's pair set at the same banding when recall saturates (see
    ``dedup_minhash_lsh_oracle``).

    Pipeline: per doc, MINHASH_SEEDS minhashes over shingles; group into
    LSH_BANDS bands; docs sharing any (band, band-signature) bucket become
    candidates; candidates are verified with exact Jaccard so output
    precision is exact (recall is the standard banding S-curve).

    Ids-only candidate generation (same shape as
    ``_minhash_banded_candidates``): only (doc_id, band, bucket) rides the
    band shuffle, per-bucket pairs come from a sorted collect_list +
    double explode (occupancy hard-capped at LSH_BUCKET_CAP so a
    templated corpus cannot concentrate an O(N) bucket into one task),
    and shingle arrays re-attach after the pair dedupe.
    The r5 version persisted the signature frame to share it across the
    band self-join's two sides; that persist stayed pinned in the cache
    manager forever (ADVICE r5 leak class). Now the MinHash map stage
    runs once with nothing persisted.

    Ingest precondition: PK-unique doc_id scan — a replayed key breaks
    the a<b pair-generation tie deterministically on one engine and not
    the other. Front door: restore_unique_docs / catalog.load_table_unique
    at ingest; observable via quality_expectation_report's unique rules
    (SURVEY §7 item 23).
    """
    docs = _shingled_docs(spark, sf_dir)
    minhash = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("shingles"),
                    lambda s, i=i: F.xxhash64(F.concat(F.lit(f"seed{i}:"), s)),
                )
            )
            for i in range(MINHASH_SEEDS)
        ]
    )
    banded = docs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                minhash[b * ROWS_PER_BAND + r].cast("string")
                                for r in range(ROWS_PER_BAND)
                            ],
                        )
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    pairs = _capped_bucket_pairs(banded, ["band", "bucket"], "lsh_bucket_cap")
    return _verified(_with_pair_shingles(pairs, docs), tau).orderBy("doc_a", "doc_b")


def _minhash_banded_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from the portable md5 MinHash banding: one row per
    distinct (doc_a < doc_b) pair sharing a band bucket, with both shingle
    arrays attached for exact verification. Shared by
    ``dedup_minhash_portable`` (which filters to tau) and
    ``minhash_pr_eval`` (which also counts the unfiltered candidates).

    Ids-only candidate generation (the embedding_cosine_dup shape): only
    (doc_id, bucket) rides the band shuffle; per-bucket pairs come from a
    sorted collect_list + double explode, occupancy hard-capped at
    LSH_BUCKET_CAP (banding bounds occupancy only on non-adversarial
    corpora — a templated corpus collides a whole near-identical cluster
    into every band bucket), and shingle arrays re-attach AFTER the pair
    dedupe via two doc_id equi-joins. This replaces the r5 self-join over a persisted
    signature frame — that persist stayed pinned in the cache manager
    forever (ADVICE r5, the streaming drain-leak class), and the wide
    shingle arrays rode both the band join and the pair dedupe shuffle.
    Now the expensive MinHash map stage runs exactly once, nothing is
    persisted, and the candidate shuffles carry 16-byte id pairs.
    """
    docs = _shingled_docs(spark, sf_dir)
    banded = docs.select(
        "doc_id",
        F.explode(_band_keys(_md5_minhash(F.col("shingles")))).alias("bucket"),
    )
    pairs = _capped_bucket_pairs(banded, ["bucket"], "minhash_band_cap")
    return _with_pair_shingles(pairs, docs).select("doc_a", "doc_b", "sh_a", "sh_b")


def dedup_minhash_portable(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU
) -> DataFrame:
    """MinHash + LSH banding with an md5-derived hash family, so the DuckDB
    oracle reproduces the *entire* pipeline — signatures, band buckets,
    candidate set, and verified pairs — bit-for-bit. This is the fully
    driver-checkable twin of `dedup_minhash_lsh` (same banding S-curve,
    same exact-Jaccard verification); the xxhash64 variant stays the
    production path (integer hashing, no 32-byte hex strings on the wire).

    Per seed i, the signature element is the lexicographic MIN of
    md5("i:" || shingle) — hex-string min orders identically in any ANSI
    engine. Band buckets fold the band index into the hash
    (md5("b|" || sig_slice)), so the candidate join is a single-key
    equi-join on `bucket`. Shuffle volume ~ n * bands, independent of n².

    Ingest precondition: PK-unique doc_id scan — a replayed key breaks
    the a<b pair-generation tie nondeterministically. Front door:
    restore_unique_docs / catalog.load_table_unique at ingest; observable
    via quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    return _verified(_minhash_banded_candidates(spark, sf_dir), tau)


def dedup_minhash_portable_oracle(tau: float = JACCARD_TAU) -> str:
    return rf"""
        WITH {SHINGLE_CTES_SQL},
        {_banded_cand_ctes_sql()}
        SELECT doc_a, doc_b,
               len(list_intersect(sh_a, sh_b)) AS common,
               FLOOR(len(list_intersect(sh_a, sh_b)) * 1.0
                     / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) * 1e6)
                 / 1e6 AS jaccard
        FROM cand
        WHERE len(list_intersect(sh_a, sh_b)) * 1.0
              / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= {tau}
        ORDER BY doc_a, doc_b
    """


def dedup_minhash_lsh_oracle(tau: float = JACCARD_TAU) -> str:
    """Self-consistency oracle for the production (xxhash64) LSH path.

    xxhash64 itself is not portable to DuckDB, but the entry's OUTPUT is
    the *verified* pair set — exact Jaccard >= tau over the LSH candidate
    pairs — so the hash family only controls recall, never precision.
    The oracle re-derives the pair set through the portable md5 family at
    the identical banding (MINHASH_SEEDS/LSH_BANDS, the
    ``dedup_minhash_portable`` pipeline): on corpora where both families'
    banding recall saturates (all near-dup clusters collide in >= 1 band —
    true of the driver corpora, asserted by
    tests/test_text_dedup.py::test_minhash_lsh_matches_portable_pairs),
    the two verified pair sets coincide. A driver mismatch therefore
    flags a real recall divergence between the families rather than
    hash-value noise — a strictly stronger signal than the rows-only
    check this entry carried through round 4.
    """
    return dedup_minhash_portable_oracle(tau)


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string.

    Token hash = first 16 nibbles of md5(token) — portable to any ANSI
    engine, so the oracle reproduces the fingerprint exactly. Bit b of the
    fingerprint is the sign of sum over distinct tokens of (+1/-1) for that
    token's bit b.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # Two conv() calls turn the 16-hex-char prefix into a pair of 32-bit
    # ints; each of the 64 bit weights is then an integer shift+mask.
    # (One conv per *bit* — 64 substring+instr string ops per token row —
    # costs ~2x the whole operator; this is the whole-stage-codegen-
    # friendly form.)
    toks = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), r"\s+"))).alias("tok")
        )
        .withColumn("h", F.md5(F.col("tok")))
        .withColumn("hi", F.expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)"))
        .withColumn("lo", F.expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)"))
    )

    weight_exprs = []
    for idx in range(64):
        half, shift = ("hi", 31 - idx) if idx < 32 else ("lo", 63 - idx)
        bit = f"((shiftright({half}, {shift})) & 1)"
        weight_exprs.append(F.expr(f"sum({bit} * 2 - 1)").alias(f"s{idx}"))
    sums = toks.groupBy("doc_id").agg(*weight_exprs)

    nibble_chars = []
    for j in range(16):
        val = " + ".join(
            f"(CASE WHEN s{j * 4 + b} > 0 THEN {2 ** (3 - b)} ELSE 0 END)" for b in range(4)
        )
        nibble_chars.append(F.expr(f"substring('0123456789abcdef', ({val}) + 1, 1)"))
    return sums.select("doc_id", F.concat(*nibble_chars).alias("simhash64"))


def simhash_fingerprint_oracle() -> str:
    weight_exprs = []
    for idx in range(64):
        j = idx // 4 + 1
        s = 3 - idx % 4
        nib = f"(instr('0123456789abcdef', substr(h, {j}, 1)) - 1)"
        bit = f"(({nib} // {2 ** s}) % 2)"
        weight_exprs.append(f"SUM({bit} * 2 - 1) AS s{idx}")
    sums_sql = ",\n                 ".join(weight_exprs)
    nibble_chars = []
    for j in range(16):
        val = " + ".join(
            f"(CASE WHEN s{j * 4 + b} > 0 THEN {2 ** (3 - b)} ELSE 0 END)" for b in range(4)
        )
        nibble_chars.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    concat_sql = " || ".join(nibble_chars)
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS tok
          FROM documents
        ),
        hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
        sums AS (
          SELECT doc_id,
                 {sums_sql}
          FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, {concat_sql} AS simhash64
        FROM sums ORDER BY doc_id
    """


EDIT_D_MAX = 16


def dedup_editdistance(spark: SparkSession, sf_dir: str, d_max: int = EDIT_D_MAX) -> DataFrame:
    """Fuzzy-string near-dup pairs: normalized edit distance <= d_max.

    The remaining dedup family after exact / shingle-Jaccard / MinHash /
    SimHash / embedding-cosine: character-level typo dups (OCR noise,
    whitespace drift) that token shingles miss.

    Candidate generation is an EQUI-join on a length band: edit distance
    <= d implies |len_a - len_b| <= d, so each doc emits d+1 integer keys
    (len .. len+d) and any qualifying pair shares exactly one key where
    the longer doc's length lands in the shorter doc's band. That keeps
    the self-join a hash join on ints (shuffle-partitionable, AQE-skew
    splittable) instead of an O(n^2) theta join; at 100 TB you'd add a
    second key component (e.g. first char) to tighten buckets.

    Verification uses Spark's banded levenshtein(l, r, threshold) — O(n*d)
    not O(n*m) — and keeps only real pairs, so blocking recall is exactly 1
    and the output matches the oracle's unblocked range-join.

    Domain contract (edge fuzz wave 7): the typo-dup domain is ASCII
    documents (char length == byte length) on BOTH sides. Spark's
    levenshtein counts CHARACTERS while DuckDB's counts BYTES
    (levenshtein('é','a') = 2 there), so char-true distance over
    multibyte text is an oracle-expressibility limit — the same class as
    the wave-8 case-mapping contract. Char-level distance is the correct
    production behavior; a deployment wanting multibyte typo dedup drops
    the ASCII filter and keeps Spark's semantics.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    norm = docs.filter(
        F.col("text").isNotNull() & (F.length("text") == F.octet_length("text"))
    ).select(
        "doc_id",
        F.lower("text").alias("t"),
        F.length(F.lower("text")).cast("int").alias("len"),
    )
    keyed = norm.select(
        "doc_id", "t", "len", F.explode(F.sequence("len", F.col("len") + d_max)).alias("bk")
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"), F.col("len").alias("len_a"), "bk"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"), F.col("len").alias("len_b"), "bk"
    )
    dist = F.levenshtein("t_a", "t_b", d_max)
    return (
        a.join(b, "bk")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # each qualifying pair shares exactly one key: the longer length
            & (F.col("bk") == F.greatest("len_a", "len_b"))
        )
        .withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", F.col("edit_distance").cast("bigint").alias("edit_distance"))
        .orderBy("doc_a", "doc_b")
    )


def dedup_editdistance_oracle(d_max: int = EDIT_D_MAX) -> str:
    # levenshtein computed ONCE per candidate pair in a materialized CTE
    # (r14): the previous SELECT + WHERE form evaluated the O(n*m) DP 2-4x
    # per pair in DuckDB (16.9 s -> 4.2 s at sf0.001, output identical).
    return f"""
        WITH n AS (
          SELECT doc_id, lower(text) AS t, length(lower(text)) AS len
          FROM documents
          WHERE text IS NOT NULL AND length(text) = strlen(text)
        ),
        cand AS MATERIALIZED (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 levenshtein(a.t, b.t) AS ed
          FROM n a JOIN n b
            ON a.doc_id < b.doc_id
           AND abs(a.len - b.len) <= {d_max}
        )
        SELECT doc_a, doc_b, CAST(ed AS BIGINT) AS edit_distance
        FROM cand
        WHERE ed <= {d_max}
        ORDER BY doc_a, doc_b
    """


NEW_BATCH_MOD = 10  # doc_id % 10 == 9 -> the arriving "new batch" slice


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an arriving batch against the existing corpus WITHOUT
    re-deduping the corpus — the ingest-time contract at 100 TB: the
    corpus contributes only its fingerprint index (content md5s), which
    in production is a persisted/bucketed table maintained incrementally,
    never a re-scan of the documents themselves.

    The last doc_id decile stands in for the arriving batch; the rest is
    the indexed corpus. A new doc is a duplicate iff its normalized
    content hash already exists in the index (exact tier; the same
    band-key join extends the check to near-dups — see
    dedup_minhash_lsh's bucket keys, which are equally index-able).

    Plan: the batch side is small relative to the corpus, so the corpus
    NEVER shuffles — its hashes stream map-side past a broadcast hash of
    the batch md5s (inner BroadcastHashJoin, build right), and only the
    MATCHING corpus rows (bounded by |batch|) flow into the min-doc_id
    aggregation. Batch rows with no corpus match are restored by a
    second broadcast join of the (tiny) matched set back onto the batch:
    a right-outer join with a broadcast build-right is NOT a plan Spark
    supports (it silently degrades to a full sort-merge join — the
    ADVICE r11 finding; right-outer can only build LEFT), so the outer
    edge must ride two supported build-right joins instead. Output: one
    row per new doc with its verdict and the doc it duplicates (min-id
    corpus holder, NULL if novel).

    Ingest boundary = exactly-once front door (wave 9, wired r8): the
    documents scan goes through catalog.load_table_unique, so a replayed
    key — exact or CONFLICTING payload — contributes ONE deterministic
    row before the batch/index split. Cost: one PK-shuffle of the scan
    (the restore's documented price; see restore_unique_docs).
    """
    from ..sources.catalog import load_table_unique

    docs = load_table_unique(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5(_normalized()).alias("content_md5"))
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    batch = hashed.filter(is_new).select(
        F.col("doc_id").alias("new_doc_id"), "content_md5"
    )
    # Inner BHJ (build right = batch): the corpus streams map-side, only
    # matching rows survive into the (batch-bounded) aggregation. The
    # per-new_doc_id MIN over matched corpus ids equals the per-md5 MIN
    # of a pre-built index because each new_doc_id carries one md5.
    matched = (
        hashed.filter(~is_new)
        .join(F.broadcast(batch), "content_md5", "inner")
        .groupBy("new_doc_id")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    # Outer edge via a second build-right BHJ: batch (left, preserved)
    # against the tiny matched verdicts. The batch subtree's restore
    # exchange is identical to the corpus subtree's, so ReuseExchange
    # computes the PK-restore shuffle once for all three consumers.
    return batch.join(F.broadcast(matched), "new_doc_id", "left").select(
        F.col("new_doc_id").alias("doc_id"),
        F.col("dup_of").isNotNull().alias("is_duplicate"),
        "dup_of",
    )


def incremental_dedup_oracle() -> str:
    from ..sources.catalog import unique_scan_sql

    m = NEW_BATCH_MOD
    return rf"""
        WITH hashed AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5
          FROM {unique_scan_sql("documents")} documents
        ),
        idx AS (
          SELECT content_md5, MIN(doc_id) AS dup_of
          FROM hashed WHERE doc_id % {m} <> {m - 1}
          GROUP BY content_md5
        )
        SELECT b.doc_id,
               idx.dup_of IS NOT NULL AS is_duplicate,
               idx.dup_of
        FROM (SELECT * FROM hashed WHERE doc_id % {m} = {m - 1}) b
        LEFT JOIN idx USING (content_md5)
        ORDER BY b.doc_id
    """


# --- near-dup-at-ingest front door (VERDICT r11 item 4) --------------------

NEARDUP_AGREE_MIN = 4  # verified near-dup: >= 4 of MINHASH_SEEDS=8 agree
# (the signature-agreement estimate of Jaccard >= JACCARD_TAU=0.5 —
# minhash_jaccard_estimate's est_jaccard at the same family/threshold)


def _sig_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, mh, buckets) per shingled doc: the portable-md5 MinHash
    signature (MINHASH_SEEDS elements) and its LSH_BANDS band-bucket
    keys — the columns a persisted fingerprint index carries per doc.
    Same hash family / banding as dedup_minhash_portable (dedup.py:459),
    so a DuckDB oracle reproduces signatures and buckets bit-for-bit."""
    sig = docs.select("doc_id", _md5_minhash(F.col("shingles")).alias("mh"))
    return sig.select("doc_id", "mh", _band_keys(F.col("mh")).alias("buckets"))


def neardup_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake's persisted MinHash band-bucket index over the corpus
    slice (doc_id % NEW_BATCH_MOD != NEW_BATCH_MOD - 1): one narrow row
    per (doc, band) — (doc_id, 8-element signature, bucket key), in
    EXPLODED capped form — built ONCE per session via swap_pin's reuse
    form (keyed on the corpus bytes) and shared by the batch front door
    (incremental_neardup) and its streaming twin (jobs.streaming_neardup).
    At cluster scale this is the bucketed signature table the lake
    maintains incrementally; no arriving batch ever re-shingles the
    corpus.

    Occupancy is hard-capped at LSH_BUCKET_CAP per bucket (min-doc_id
    keepers — ADVICE r12: without the cap a hot band bucket on a
    boilerplate-heavy corpus made the verdict-time candidate stream
    |arriving| x |bucket occupancy|, unbounded; with it the
    neardup_verdicts bound |arriving| x LSH_BANDS x LSH_BUCKET_CAP
    actually holds). The cap's window shuffle is paid once per session
    at build, mirrored in every consumer oracle via QUALIFY."""
    import os

    from ..sources.catalog import load_table_unique
    from .cachereg import swap_pin

    m = NEW_BATCH_MOD

    def build() -> DataFrame:
        docs = _with_shingles(
            load_table_unique(spark, sf_dir, "documents").filter(
                F.col("doc_id") % m != m - 1
            )
        )
        exploded = _sig_banded(docs).select(
            "doc_id", "mh", F.explode("buckets").alias("bucket")
        )
        w = Window.partitionBy("bucket").orderBy("doc_id")
        return (
            observe_cap(
                exploded.withColumn("_rn", F.row_number().over(w)),
                "neardup_band_cap",
                "_rn",
                LSH_BUCKET_CAP,
            )
            .filter(F.col("_rn") <= LSH_BUCKET_CAP)
            .drop("_rn")
        )

    return swap_pin(
        "neardup.band_index",
        build,
        spark=spark,
        params=(sf_dir, MINHASH_SEEDS, LSH_BANDS, m, LSH_BUCKET_CAP),
        inputs=(os.path.join(sf_dir, "documents.parquet"),),
    )


_NEARDUP_AGREE = "size(filter(zip_with(mh_old, mh_new, (x, y) -> x = y), z -> z))"


def neardup_verdicts(index: DataFrame, arriving: DataFrame) -> DataFrame:
    """Verdict table for an arriving cohort of (doc_id, mh, buckets) rows
    against the corpus band index: per arriving doc, how many corpus docs
    share >= 1 band bucket (n_candidates), the best signature agreement
    among them (best_agree, of MINHASH_SEEDS), whether any candidate
    clears NEARDUP_AGREE_MIN (is_near_dup) and the min-id such candidate
    (dup_of, NULL if novel).

    Plan: the index side NEVER shuffles at verdict time — its capped
    exploded (bucket, doc) rows flow map-side past a broadcast hash of
    the arriving buckets (inner BHJ, build right), and only
    bucket-sharing rows — bounded by |arriving| x LSH_BANDS x
    LSH_BUCKET_CAP, a bound the index's build-time occupancy cap makes
    actually hold (ADVICE r12) — reach the pair dedupe + agreement
    aggregation. The outer edge (novel docs) rides a second build-right
    broadcast join, the incremental_dedup two-join shape — a broadcast
    right-outer is not a plan Spark supports."""
    newb = arriving.select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("mh").alias("mh_new"),
        F.explode("buckets").alias("bucket"),
    )
    idx = index.select(
        F.col("doc_id").alias("cand_id"),
        F.col("mh").alias("mh_old"),
        "bucket",
    )
    scored = (
        idx.join(F.broadcast(newb), "bucket", "inner")
        .select("new_doc_id", "cand_id", "mh_new", "mh_old")
        .dropDuplicates(["new_doc_id", "cand_id"])
        .withColumn("n_agree", F.expr(_NEARDUP_AGREE))
    )
    verdicts = scored.groupBy("new_doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max("n_agree").alias("best_agree"),
        F.min(
            F.when(F.col("n_agree") >= NEARDUP_AGREE_MIN, F.col("cand_id"))
        ).alias("dup_of"),
    )
    return (
        arriving.select(F.col("doc_id").alias("new_doc_id"))
        .join(F.broadcast(verdicts), "new_doc_id", "left")
        .select(
            F.col("new_doc_id").alias("doc_id"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("best_agree", F.lit(0)).cast("bigint").alias("best_agree"),
            F.col("dup_of").isNotNull().alias("is_near_dup"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
        )
    )


def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup an arriving batch against the corpus WITHOUT re-running
    pairwise dedup over the lake — the banding extension of
    incremental_dedup's exact tier (its docstring's promised next step):
    the corpus contributes only its persisted MinHash band-bucket index
    (neardup_band_index), arriving docs are signed + banded, candidates
    come from shared band buckets, and the verdict is the existing
    signature-agreement estimate (minhash_jaccard_estimate's device) at
    NEARDUP_AGREE_MIN of MINHASH_SEEDS seeds.

    The last doc_id decile stands in for the arriving batch (same cohort
    as incremental_dedup); docs shingle-empty after tokenization cannot
    near-dup and are excluded on both engines. Ingest boundary:
    load_table_unique on both the index build and the arriving slice, so
    a replayed doc_id contributes ONE deterministic row (wave 9).
    """
    from ..sources.catalog import load_table_unique

    m = NEW_BATCH_MOD
    arriving = _sig_banded(
        _with_shingles(
            load_table_unique(spark, sf_dir, "documents").filter(
                F.col("doc_id") % m == m - 1
            )
        )
    )
    index = neardup_band_index(spark, sf_dir)
    return neardup_verdicts(index, arriving).orderBy("doc_id")


def incremental_neardup_oracle() -> str:
    from ..sources.catalog import unique_scan_sql

    m = NEW_BATCH_MOD
    return rf"""
        WITH d AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS toks
          FROM {unique_scan_sql("documents")} documents
        ),
        {_SH_CTE_SQL},
        {_SIG_BANDED_CTES_SQL},
        new_b AS (SELECT * FROM banded WHERE doc_id % {m} = {m - 1}),
        -- build-time occupancy cap mirror (ADVICE r12): min-doc_id
        -- keepers per bucket, same rule as neardup_band_index
        idx_b AS (SELECT * FROM banded WHERE doc_id % {m} <> {m - 1}
                  QUALIFY row_number() OVER (
                    PARTITION BY bucket ORDER BY doc_id) <= {LSH_BUCKET_CAP}),
        cand AS (
          SELECT DISTINCT nb.doc_id AS new_doc_id, ib.doc_id AS cand_id
          FROM new_b nb JOIN idx_b ib USING (bucket)
        ),
        scored AS (
          SELECT c.new_doc_id, c.cand_id, {_agree_sql("si.mh", "sn.mh")} AS n_agree
          FROM cand c
          JOIN sig sn ON sn.doc_id = c.new_doc_id
          JOIN sig si ON si.doc_id = c.cand_id
        ),
        agg AS (
          SELECT new_doc_id,
                 COUNT(*) AS n_candidates,
                 MAX(n_agree) AS best_agree,
                 MIN(CASE WHEN n_agree >= {NEARDUP_AGREE_MIN} THEN cand_id END)
                   AS dup_of
          FROM scored GROUP BY new_doc_id
        )
        SELECT b.doc_id,
               CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
               CAST(COALESCE(a.best_agree, 0) AS BIGINT) AS best_agree,
               a.dup_of IS NOT NULL AS is_near_dup,
               CAST(a.dup_of AS BIGINT) AS dup_of
        FROM (SELECT doc_id FROM s WHERE doc_id % {m} = {m - 1}) b
        LEFT JOIN agg a ON a.new_doc_id = b.doc_id
        ORDER BY b.doc_id
    """


# --- the composed ingest front door ----------------------------------------

INGEST_RULES = (  # fixed adjudication order for the quality tier's `detail`
    "accepted_lang",
    "n_chars_matches_text",
    "non_negative_n_chars",
    "not_null_text",
)


def front_door_verdicts(
    batch: DataFrame, md5_index: DataFrame, band_index: DataFrame
) -> DataFrame:
    """The three-tier admission adjudication over an arriving ``batch``
    of full-column document rows, against a fingerprint ``md5_index``
    ((doc_id, content_md5) rows) and a ``band_index`` (capped exploded
    (doc_id, mh, bucket) rows — neardup_band_index's shape). One row per
    batch doc: (doc_id, verdict, witness, detail). Shared by the batch
    entry (ingest_front_door) and the streaming sink
    (jobs.ingest_front_door_sink), which also feeds it the admit-append
    index deltas — the tiers must not care where the index rows came
    from. Unordered; callers sort."""
    from ..quality import STANDARD_LANGS

    # exact tier (the incremental_dedup shape, witness only)
    hashed_new = batch.select(
        F.col("doc_id").alias("new_doc_id"), F.md5(_normalized()).alias("content_md5")
    )
    exact = (
        md5_index.join(F.broadcast(hashed_new), "content_md5", "inner")
        .groupBy("new_doc_id")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )

    # near tier (the banding gate, witness only; shingle-empty docs
    # cannot near-dup and simply have no row here)
    arriving_sigs = _sig_banded(_with_shingles(batch))
    near = (
        neardup_verdicts(band_index, arriving_sigs)
        .filter(F.col("is_near_dup"))
        .select(F.col("doc_id").alias("new_doc_id"), F.col("dup_of").alias("near_dup_of"))
    )

    # quality tier: the rule_tagged semantics as per-row flags
    p_lang = F.col("lang").isNull() | F.col("lang").isin(*STANDARD_LANGS)
    p_len = F.coalesce(F.length("text") == F.col("n_chars"), F.lit(False))
    p_neg = F.col("n_chars").isNull() | (F.col("n_chars") >= 0)
    p_nn = F.col("text").isNotNull()
    fail_rule = (
        F.when(~p_lang, INGEST_RULES[0])
        .when(~p_len, INGEST_RULES[1])
        .when(~p_neg, INGEST_RULES[2])
        .when(~p_nn, INGEST_RULES[3])
    )

    routed = (
        batch.select(F.col("doc_id").alias("new_doc_id"), fail_rule.alias("_fail"))
        .join(F.broadcast(exact), "new_doc_id", "left")
        .join(F.broadcast(near), "new_doc_id", "left")
    )
    verdict = (
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("duplicate"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
        .when(F.col("_fail").isNotNull(), F.lit("quality_fail"))
        .otherwise(F.lit("admitted"))
    )
    return routed.select(
        F.col("new_doc_id").alias("doc_id"),
        verdict.alias("verdict"),
        F.coalesce("exact_dup_of", "near_dup_of").cast("bigint").alias("witness"),
        F.when(
            F.col("exact_dup_of").isNull()
            & F.col("near_dup_of").isNull()
            & F.col("_fail").isNotNull(),
            F.col("_fail"),
        ).alias("detail"),
    )


def ingest_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete per-document ADMISSION pipeline an ingest runs on an
    arriving batch, composed from the round's front-door tiers in
    production order — one row per arriving doc with its routing:

      'duplicate'     exact tier first (cheapest signal): normalized-md5
                      hit in the lake's fingerprint index; witness = the
                      min-id corpus holder (incremental_dedup's rule).
      'near_dup'      else the banding tier: >= NEARDUP_AGREE_MIN of
                      MINHASH_SEEDS signature seeds agree with a
                      band-bucket candidate from the session-pinned
                      index; witness = the min-id qualifying candidate.
      'quality_fail'  else the expectation tier: any of the four
                      document rules (quality_rule_drift's exact
                      semantics) fails; `detail` names the FIRST failing
                      rule in INGEST_RULES order (deterministic without
                      a sort).
      'admitted'      else.

    Dedup outranks quality deliberately: a duplicate is dropped for
    free before any quality adjudication spends attention on it, and
    the verdict stays stable when quality rules evolve.

    Plan: three broadcast-island passes over corpus-scale data, all
    map-side — the exact tier streams the corpus hashes past a
    broadcast of the batch md5s (the incremental_dedup two-join shape),
    the near tier streams the pinned band index past the batch buckets
    (neardup_verdicts), and the quality flags are per-row expressions
    on the restored batch. The final assembly is |batch|-bounded
    broadcast joins only — all inside front_door_verdicts, the tier
    composition shared with the streaming twin
    (jobs.ingest_front_door_sink), which additionally feeds it the
    admit-appended index deltas so batch N+1 adjudicates against batch
    N's admits.
    """
    from ..sources.catalog import load_table_unique

    m = NEW_BATCH_MOD
    docs = load_table_unique(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % m == m - 1
    md5_index = docs.filter(~is_new).select(
        "doc_id", F.md5(_normalized()).alias("content_md5")
    )
    return front_door_verdicts(
        docs.filter(is_new), md5_index, neardup_band_index(spark, sf_dir)
    ).orderBy("doc_id")


def ingest_front_door_oracle() -> str:
    from ..quality import STANDARD_LANGS
    from ..sources.catalog import unique_scan_sql

    m = NEW_BATCH_MOD
    langs = ", ".join(f"'{v}'" for v in STANDARD_LANGS)
    return rf"""
        WITH u AS (
          SELECT doc_id, text, lang, n_chars
          FROM {unique_scan_sql("documents")} documents
        ),
        batch AS (SELECT * FROM u WHERE doc_id % {m} = {m - 1}),
        corpus AS (SELECT * FROM u WHERE doc_id % {m} <> {m - 1}),
        exact AS (
          SELECT b.doc_id AS new_doc_id, MIN(c.doc_id) AS exact_dup_of
          FROM batch b JOIN corpus c
            ON md5(regexp_replace(lower(c.text), '\s+', ' ', 'g'))
             = md5(regexp_replace(lower(b.text), '\s+', ' ', 'g'))
          GROUP BY 1
        ),
        d AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM u),
        {_SH_CTE_SQL},
        {_SIG_BANDED_CTES_SQL},
        cand AS (
          SELECT DISTINCT nb.doc_id AS new_doc_id, ib.doc_id AS cand_id
          FROM (SELECT * FROM banded WHERE doc_id % {m} = {m - 1}) nb
          JOIN (SELECT * FROM banded WHERE doc_id % {m} <> {m - 1}
                QUALIFY row_number() OVER (
                  PARTITION BY bucket ORDER BY doc_id) <= {LSH_BUCKET_CAP}) ib
            USING (bucket)
        ),
        near AS (
          SELECT new_doc_id, MIN(cand_id) AS near_dup_of FROM (
            SELECT c.new_doc_id, c.cand_id, {_agree_sql("si.mh", "sn.mh")} AS n_agree
            FROM cand c
            JOIN sig sn ON sn.doc_id = c.new_doc_id
            JOIN sig si ON si.doc_id = c.cand_id
          ) WHERE n_agree >= {NEARDUP_AGREE_MIN}
          GROUP BY 1
        ),
        flags AS (
          SELECT doc_id AS new_doc_id,
                 CASE
                   WHEN NOT (lang IS NULL OR lang IN ({langs}))
                     THEN 'accepted_lang'
                   WHEN NOT COALESCE(length(text) = n_chars, FALSE)
                     THEN 'n_chars_matches_text'
                   WHEN NOT (n_chars IS NULL OR n_chars >= 0)
                     THEN 'non_negative_n_chars'
                   WHEN text IS NULL THEN 'not_null_text'
                 END AS fail_rule
          FROM batch
        )
        SELECT f.new_doc_id AS doc_id,
               CASE WHEN e.exact_dup_of IS NOT NULL THEN 'duplicate'
                    WHEN nr.near_dup_of IS NOT NULL THEN 'near_dup'
                    WHEN f.fail_rule IS NOT NULL THEN 'quality_fail'
                    ELSE 'admitted' END AS verdict,
               CAST(COALESCE(e.exact_dup_of, nr.near_dup_of) AS BIGINT) AS witness,
               CASE WHEN e.exact_dup_of IS NULL AND nr.near_dup_of IS NULL
                    THEN f.fail_rule END AS detail
        FROM flags f
        LEFT JOIN exact e USING (new_doc_id)
        LEFT JOIN near nr USING (new_doc_id)
        ORDER BY doc_id
    """


# --- exact-substring window dedup -----------------------------------------

SUBSTR_WIN = 32  # window width (chars)
SUBSTR_STRIDE = 16  # hop between window starts


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (the Lee et al. "Deduplicating
    Training Data" signal at window granularity): slide a SUBSTR_WIN-char
    window with SUBSTR_STRIDE hop over every document, hash each window,
    and report per document how many of its windows also occur verbatim in
    at least one OTHER document — the cross-doc boilerplate/quotation
    fraction that exact doc-level dedup cannot see and paragraph chunking
    blurs.

    Plan: window hashes are generated in ONE linear Arrow mapInPandas
    pass per document (the substring_repeat_ladder discipline): the
    expression form `substring(text, i, W)` walks UTF-8 bytes to char
    position i, so hashing a window at every stride position is O(len²)
    per document — 461-478 s for a single 1.8 MB doc on the long-document
    probe, where CPython's O(1) str slicing (PEP 393) takes seconds. Text
    stays executor-local; only narrow (doc_id, whash) rows leave the
    worker. Downstream is a single computation chain with NO persist
    (the r6 form pinned the window frame in MEMORY_AND_DISK and never
    released it — the ADVICE-r5 leak class): (whash, doc_id) pair counts
    first (one shuffle, map-side partials on the uniform md5 key), the
    cross-doc count as a whash-partition window over the pair table
    (bounded by docs-per-window, not window occurrences), then the
    per-doc aggregate. Every shuffle is keyed on uniform hashes.
    """
    import hashlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).filter(F.length("text") >= SUBSTR_WIN)

    win_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("whash", T.StringType()),
        ]
    )

    def window_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "whash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for i in range(0, len(text) - (SUBSTR_WIN - 1), SUBSTR_STRIDE):
                    out["doc_id"].append(doc_id)
                    out["whash"].append(
                        md5(text[i : i + SUBSTR_WIN].encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "whash": pd.Series(out["whash"], dtype="object"),
                }
            )

    wins = docs.mapInPandas(window_batches, win_schema)
    per_pair = wins.groupBy("whash", "doc_id").agg(
        F.count(F.lit(1)).alias("n_win_in_doc")
    )
    w_hash = Window.partitionBy("whash")
    flagged = per_pair.withColumn(
        "is_dup", (F.count(F.lit(1)).over(w_hash) >= 2).cast("int")
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("n_win_in_doc").cast("bigint").alias("n_windows"),
        F.sum(F.col("is_dup") * F.col("n_win_in_doc"))
        .cast("bigint")
        .alias("n_dup_windows"),
        _trunc6(
            F.sum(F.col("is_dup") * F.col("n_win_in_doc")) / F.sum("n_win_in_doc")
        ).alias("dup_frac"),
    )


def substring_dup_spans_oracle() -> str:
    return f"""
        WITH wins AS (
          SELECT doc_id,
                 unnest(list_transform(
                     range(1, length(text) - {SUBSTR_WIN - 2}, {SUBSTR_STRIDE}),
                     i -> md5(substr(text, i, {SUBSTR_WIN})))) AS whash
          FROM documents WHERE length(text) >= {SUBSTR_WIN}
        ),
        hash_docs AS (
          SELECT whash, COUNT(*) AS n_docs_with
          FROM (SELECT DISTINCT doc_id, whash FROM wins)
          GROUP BY whash
        )
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CAST(h.n_docs_with >= 2 AS INT)) AS BIGINT)
                 AS n_dup_windows,
               FLOOR(SUM(CAST(h.n_docs_with >= 2 AS INT)) * 1.0 / COUNT(*)
                     * 1e6) / 1e6 AS dup_frac
        FROM wins w JOIN hash_docs h USING (whash)
        GROUP BY w.doc_id
        ORDER BY w.doc_id
    """


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report for the portable MinHash family: for every
    LSH band-candidate pair, the signature-agreement Jaccard estimate
    (matching positions / MINHASH_SEEDS — the unbiased MinHash estimator)
    next to the exact shingle Jaccard, with the absolute error. This is
    the calibration table that justifies trusting signatures instead of
    shingle intersections at 100 TB — and it quantifies the banding
    S-curve's candidate quality on real data.

    Scale: bands explode ids-only (doc_id, bucket); candidate ids shuffle
    without shingles or signatures, which re-attach by two doc_id
    equi-joins — the same ids-first discipline as embedding_cosine_dup.
    """
    from .cachereg import swap_pin

    docs = _shingled_docs(spark, sf_dir)
    # signature frame feeds the band explode AND both estimate re-joins;
    # registry-pinned so repeat invocations release the previous frame
    # (ADVICE r5 leak class)
    sig = swap_pin(
        "minhash_jaccard_estimate.signatures",
        docs.select(
            "doc_id",
            "shingles",
            _md5_minhash(F.col("shingles")).alias("minhash"),
        ),
    )
    banded = sig.select(
        "doc_id", F.explode(_band_keys(F.col("minhash"))).alias("bucket")
    )
    cand = (
        banded.select(F.col("doc_id").alias("doc_a"), "bucket")
        .join(banded.select(F.col("doc_id").alias("doc_b"), "bucket"), "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash").alias("mh_b"),
    )
    matches = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    _, exact = _jaccard()
    est = F.col("sig_matches") / F.lit(float(MINHASH_SEEDS))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("sig_matches", matches.cast("bigint"))
        .withColumn("exact_j", exact)
        .select(
            "doc_a",
            "doc_b",
            "sig_matches",
            _trunc6(est).alias("est_jaccard"),
            _trunc6(F.col("exact_j")).alias("jaccard"),
            _trunc6(F.abs(est - F.col("exact_j"))).alias("abs_err"),
        )
    )


def minhash_jaccard_estimate_oracle() -> str:
    n = MINHASH_SEEDS
    matches = _agree_sql("mh_a", "mh_b")
    exact = (
        "(len(list_intersect(sh_a, sh_b)) * 1.0"
        " / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))))"
    )
    return rf"""
        WITH {SHINGLE_CTES_SQL},
        {_SIG_CTES_SQL},
        banded AS (
          SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS bucket FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        j AS (
          SELECT c.doc_a, c.doc_b,
                 sa.shingles AS sh_a, sb.shingles AS sh_b,
                 sa.mh AS mh_a, sb.mh AS mh_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               CAST({matches} AS BIGINT) AS sig_matches,
               FLOOR(({matches}) / {n}.0 * 1e6) / 1e6 AS est_jaccard,
               FLOOR({exact} * 1e6) / 1e6 AS jaccard,
               FLOOR(abs(({matches}) / {n}.0 - {exact}) * 1e6) / 1e6 AS abs_err
        FROM j
        ORDER BY doc_a, doc_b
    """


BOUNDARY_M = 5  # token-window width for shared-boundary boilerplate keys


def boundary_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-boundary detection: groups of documents sharing their
    FIRST BOUNDARY_M tokens (template header) or LAST BOUNDARY_M tokens
    (template footer) — the signal a curation pass uses to strip shared
    intros/outros before dedup (shared boundaries inflate n-gram overlap
    between otherwise-unrelated pages).

    Deliberately emits the GROUP profile (kind, boundary key, member
    count, representative doc), never the pairs: a boilerplate header
    shared by 10^5 pages is the expected case at crawl scale, and a
    pair-shaped output would be quadratic in exactly the rows that
    matter. One scan -> two md5 keys per doc -> one groupBy on the
    32-byte key; shuffle carries (kind, key, id) only.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    head = F.md5(F.concat_ws(" ", F.slice(toks, 1, BOUNDARY_M)))
    tail = F.md5(F.concat_ws(" ", F.slice(toks, -BOUNDARY_M, BOUNDARY_M)))
    keyed = docs.filter(n >= BOUNDARY_M).select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("head").alias("kind"), head.alias("key")),
                F.struct(F.lit("tail").alias("kind"), tail.alias("key")),
            )
        ).alias("b"),
    )
    return (
        keyed.select("doc_id", F.col("b.kind").alias("kind"), F.col("b.key").alias("key"))
        .groupBy("kind", "key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("kind", F.col("key").alias("boundary_md5"), "n_docs", "first_doc")
        .orderBy("kind", "boundary_md5")
    )


def boundary_templates_oracle() -> str:
    return rf"""
        WITH d AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS toks
          FROM documents
        ),
        keyed AS (
          SELECT doc_id, 'head' AS kind,
                 md5(array_to_string(toks[1:{BOUNDARY_M}], ' ')) AS key
          FROM d WHERE len(toks) >= {BOUNDARY_M}
          UNION ALL
          SELECT doc_id, 'tail' AS kind,
                 md5(array_to_string(toks[-{BOUNDARY_M}:], ' ')) AS key
          FROM d WHERE len(toks) >= {BOUNDARY_M}
        )
        SELECT kind, key AS boundary_md5,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS first_doc
        FROM keyed
        GROUP BY kind, key
        HAVING COUNT(*) >= 2
        ORDER BY kind, boundary_md5
    """


IMPACT_TAUS = (0.5, 0.7, 0.9)


def dedup_impact_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sweep: for each tau in IMPACT_TAUS, how many
    near-dup pairs exist, how many documents are involved, and how many
    the keep-smallest rule would drop — the table a curation owner reads
    to PICK tau before running the expensive dedup (pairs are computed
    once at the loosest tau; the sweep is a re-aggregation, not a re-run).

    Scale: one prefix-filtered exact-Jaccard pass at min(IMPACT_TAUS)
    (the existing scale-correct pipeline), then |taus| cheap aggregates
    over the pair table — pair tables are tiny relative to the corpus by
    construction (that is the point of dedup).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir, tau=min(IMPACT_TAUS)).select(
        "doc_a", "doc_b", "jaccard"
    )
    taus = F.explode(F.array(*[F.lit(t) for t in IMPACT_TAUS])).alias("tau")
    swept = pairs.select("doc_a", "doc_b", "jaccard", taus).filter(
        F.col("jaccard") >= F.col("tau")
    )
    pair_counts = swept.groupBy("tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_would_drop"),
    )
    involved = (
        swept.select("tau", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .groupBy("tau")
        .agg(F.countDistinct("doc").cast("bigint").alias("n_docs_involved"))
    )
    return (
        # |IMPACT_TAUS|-row ⋈ |IMPACT_TAUS|-row: the planner has no stats
        # for either aggregate and fell back to SMJ (two sorts + an
        # exchange pair) — broadcast the 3-row side explicitly (guide
        # §3.1: estimates are often wrong after aggregates; hint when you
        # know a side is small).
        pair_counts.join(F.broadcast(involved), "tau")
        .select("tau", "n_pairs", "n_docs_involved", "n_would_drop")
        .orderBy("tau")
    )


def dedup_impact_curve_oracle() -> str:
    tau_list = ", ".join(f"{t}::DOUBLE" for t in IMPACT_TAUS)
    base = min(IMPACT_TAUS)
    return rf"""
        WITH {SHINGLE_CTES_SQL},
        jp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 FLOOR(len(list_intersect(a.shingles, b.shingles)) * 1.0
                       / (len(a.shingles) + len(b.shingles)
                          - len(list_intersect(a.shingles, b.shingles))) * 1e6)
                   / 1e6 AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
                / (len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles))) >= {base}
        ),
        swept AS (
          SELECT doc_a, doc_b, jaccard, unnest([{tau_list}]) AS tau FROM jp
        ),
        hit AS (SELECT * FROM swept WHERE jaccard >= tau),
        pc AS (
          SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_would_drop
          FROM hit GROUP BY tau
        ),
        inv AS (
          SELECT tau, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_involved
          FROM (
            SELECT tau, doc_a AS doc FROM hit
            UNION ALL
            SELECT tau, doc_b AS doc FROM hit
          ) GROUP BY tau
        )
        SELECT pc.tau, n_pairs, n_docs_involved, n_would_drop
        FROM pc JOIN inv ON inv.tau = pc.tau
        ORDER BY pc.tau
    """


WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (guarantee: any match >= K+W-1 chars shares a fingerprint)


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprint profile per document (Schleimer,
    Wilkerson & Aiken 2003): hash every WINNOW_K-char k-gram, keep the
    minimum hash of each WINNOW_W-wide window — the selected set is the
    document's fingerprint, guaranteeing any verbatim overlap of at least
    K+W-1 characters shares a fingerprint between the two docs. Output is
    the per-doc profile: window count, distinct-fingerprint count, the ppm
    selection density (theory: ~2/(W+1)), and the minimal fingerprint —
    the plagiarism/near-verbatim detection primitive beside the shingle
    and rolling-hash families (`doc_fingerprint`, `substring_dup_spans`).

    Zero shuffle: all arrays build in-row with higher-order functions over
    slice-shifted copies (the `_shingles_of` lesson — never index an array
    EXPRESSION inside a transform lambda, it re-evaluates per element;
    W slices evaluate the hash array W times, O(W·n) not O(n²)). Hashes
    are md5 hex strings compared lexicographically — portable, so the
    oracle reproduces the selection bit-for-bit.
    """
    k, wdw = WINNOW_K, WINNOW_W
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    n = F.length("text")
    m = n - k + 1  # k-gram count
    hashes = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.md5(F.col("text").substr(i, F.lit(k))),
    )
    with_h = docs.select(
        "doc_id", F.when(m >= 1, hashes).otherwise(F.array()).alias("h")
    )
    m2 = F.size("h") - wdw + 1  # window count
    slices = [F.slice("h", b + 1, m2) for b in range(wdw)]
    mins = slices[0]
    for s in slices[1:]:
        mins = F.zip_with(mins, s, lambda a, b: F.least(a, b))
    fp = F.array_distinct(mins)
    prof = with_h.select(
        "doc_id",
        F.greatest(m2, F.lit(0)).cast("bigint").alias("n_windows"),
        F.when(m2 >= 1, F.size(fp)).otherwise(0).cast("bigint").alias("n_fingerprints"),
        F.when(m2 >= 1, F.array_min(fp)).alias("min_fp"),
    )
    return prof.withColumn(
        "density_ppm",
        F.when(
            F.col("n_windows") > 0,
            F.expr("(n_fingerprints * 1000000) div n_windows"),
        )
        .otherwise(0)
        .cast("bigint"),
    ).orderBy("doc_id")


def winnowing_fingerprint_oracle() -> str:
    k, wdw = WINNOW_K, WINNOW_W
    return f"""
        WITH g AS (
          SELECT doc_id, text, length(text) - {k} + 1 AS m FROM documents
        ),
        h AS (
          SELECT doc_id, m,
                 CASE WHEN m >= 1 THEN
                   list_transform(range(1, m + 1),
                                  i -> md5(substr(text, CAST(i AS INT), {k})))
                 ELSE [] END AS hashes
          FROM g
        ),
        wins AS (
          SELECT doc_id,
                 GREATEST(len(hashes) - {wdw} + 1, 0) AS n_windows,
                 CASE WHEN len(hashes) - {wdw} + 1 >= 1 THEN
                   list_distinct(list_transform(
                     range(1, len(hashes) - {wdw} + 2),
                     i -> list_min(hashes[CAST(i AS INT):CAST(i + {wdw} - 1 AS INT)])))
                 ELSE [] END AS fp
          FROM h
        )
        SELECT doc_id,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(len(fp) AS BIGINT) AS n_fingerprints,
               CASE WHEN n_windows >= 1 THEN list_min(fp) END AS min_fp,
               CAST(CASE WHEN n_windows > 0
                    THEN (len(fp) * 1000000) // n_windows ELSE 0 END AS BIGINT)
                 AS density_ppm
        FROM wins
        ORDER BY doc_id
    """


CONT_DF_CAP = 20
CONT_MIN_RARE_SHARED = 2  # candidate pairs must share >= 2 rare shingles
CONT_TAU_PPM = 500_000  # report pairs where the smaller doc is >= 50% contained
PAIR_AGG_FANOUT = 8  # phase-A aggregate parallelism multiplier (see below)


def rare_shared_pairs(
    posting: DataFrame, df_cap: int, min_shared: int, pin_key: str
) -> DataFrame:
    """Exact (doc_a, doc_b) pairs sharing >= ``min_shared`` rare shingles
    (document frequency <= ``df_cap``), doc_a < doc_b — the shared
    candidate generator of containment_dup and template_communities
    (r11, VERDICT r10 items 2/3).

    ONE groupBy(shingle) collects each rare shingle's <= df_cap member
    ids into a row (the >cap buckets drop AT the aggregate — nothing hot
    ever shuffles twice) and the a<b pairing happens IN-ROW, at most
    C(df_cap, 2) structs per bucket. The pair-multiplicity count — the
    dominant 100x mem-spill once the pairing itself is in-row (26.6 GB
    residual, VERDICT r10 item 3) — runs TWO-PHASE:

      phase A counts occurrences of the 8-byte ``xxhash64(doc_a, doc_b)``
      alone, so the wide aggregate's hash map carries one bigint key
      instead of a two-id row; only hashes seen >= min_shared survive.
      phase B re-derives the id pairs from the same PINNED bucket frame,
      hash-joins them against the (small) survivor set, and recounts
      EXACTLY by (doc_a, doc_b) — a collision in phase A only adds a
      false survivor for phase B's exact recount to drop, never removes
      a true one, so the result is byte-identical to the one-phase count.

    The bucket frame is swap_pinned (narrow: one id array per rare
    shingle) so the two phases share one shingling+aggregation; at
    cluster scale the equivalent is materializing the bucket table once
    to durable storage.
    """
    from .cachereg import swap_pin

    buckets = swap_pin(
        f"{pin_key}.buckets",
        posting.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= df_cap))
        .select("docs"),
    )
    pair_expr = """
        flatten(transform(docs, (a, i) ->
          transform(slice(docs, i + 2, size(docs) - i - 1), b ->
            struct(a AS doc_a, b AS doc_b))))
    """
    # Phase A's aggregate is the memory hot spot: the pair-hash stream is
    # ~all-unique (rare shingles), so map-side partial aggregation cannot
    # combine anything — it only builds a per-task hash map over
    # |pairs| / num_tasks keys and spills it under session memory
    # pressure (the r11 full-session 10 GB receipt). An explicit
    # repartition ON ph ahead of the groupBy moves the whole aggregate
    # post-shuffle at PAIR_AGG_FANOUT x the session's shuffle
    # parallelism: shuffle bytes are unchanged (raw 8-byte hashes ~=
    # uncombinable partial output), but each task's hash map shrinks by
    # the fanout factor and stays in its memory budget even when earlier
    # queries' frames crowd the unified region.
    from ..session import shuffle_partitions

    fanout = PAIR_AGG_FANOUT * shuffle_partitions(posting.sparkSession, 32)
    hot = (
        buckets.select(
            F.explode(
                F.expr(f"transform({pair_expr}, p -> xxhash64(p.doc_a, p.doc_b))")
            ).alias("ph")
        )
        .repartition(fanout, "ph")
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("_phc"))
        .filter(F.col("_phc") >= min_shared)
        .select("ph")
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("s"))
        .select(F.col("s.doc_a").alias("doc_a"), F.col("s.doc_b").alias("doc_b"))
        .withColumn("ph", F.xxhash64("doc_a", "doc_b"))
        .join(hot.hint("shuffle_hash"), "ph")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_rare_shared"))
        .filter(F.col("n_rare_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )


def containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: documents whose SMALLER
    shingle set is >= CONT_TAU_PPM (ppm) contained in the larger one —
    the quote/excerpt/subset-duplication signal symmetric Jaccard
    misses (a 100-line doc quoted inside a 10k-line doc has tiny Jaccard
    but containment ~1; Broder's containment measure).

    Candidates come from shared rare shingles (document frequency <=
    CONT_DF_CAP — the df cap is the hot-key bound AND the semantic
    filter, as in cross_lang_contamination; a pair sharing only
    boilerplate shingles is not an excerpt).

    Scale shape (r10 rebuild — VERDICT r9 item 3, the 39.4 GB mem-spill;
    r11 — VERDICT r10 item 3, the 26.6 GB residual): candidate pairs come
    from ``rare_shared_pairs`` — ONE groupBy(shingle) bucket aggregate
    with IN-ROW a<b pairing (at most C(CONT_DF_CAP, 2) structs per
    bucket; >cap buckets drop AT the aggregate), and the
    pair-multiplicity count two-phased over 8-byte pair hashes with an
    exact recount of the survivors (byte-identical result — see the
    helper's docstring). Verification then re-attaches
    per-doc shingle sets HASHED to 60-bit ints (md5-prefix, the portable
    family) — the pair x shingle-array intermediate the verify shuffles
    narrows ~3x vs string shingles. n_shared is the hashed-set intersect
    size: deterministic and identical on both engines (the oracle hashes
    the same way); a within-pair collision altering the count vs the
    string intersect needs a 60-bit birthday hit across a few hundred
    shingles (~1e-13/pair). Integer ppm output.

    Ingest precondition: PK-unique doc_id scan — a replayed doc_id lands
    twice in its rare-shingle buckets, and the position-ordered in-row
    pairing then emits equal-id and duplicated pairs the oracle's
    value-ordered pair set excludes (enumerated by the r10 full --wave9
    battery; fails identically at the r9 tree, latent since the shape
    landed). Front door: the exactly-once restore
    (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23);
    --wave9-restored: green.
    """
    sh = _shingled_docs(spark, sf_dir)
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    # >= CONT_MIN_RARE_SHARED shared rare shingles, not >= 1: a single
    # rare-shingle coincidence admits C(df_cap, 2) pairs per shingle and
    # the candidate set was measured at 1.1M pairs at sf0.1 — each paying
    # an array_intersect. Any pair at tau shares >= half the smaller
    # set's shingles, so requiring two of those to be rare costs recall
    # only for docs whose overlap is almost entirely boilerplate — the
    # same trade the df cap itself makes. Bucketing + the two-phase
    # narrow-key multiplicity count live in rare_shared_pairs (r11).
    from .cachereg import release_pins, swap_pin

    # Materialize the candidate pairs NOW (they are pair-count bounded —
    # 25 rows at sf0.01, thousands at 100x) so the rare-shingle bucket
    # frame can be released before the verify stage runs: the returned
    # lazy plan reads the small pinned cands frame, not the corpus-scale
    # buckets — previously 'containment_dup.buckets' stayed swap-pinned
    # for the rest of the session (ADVICE r11) and squeezed every later
    # query's memory. swap_pin (not localCheckpoint) keeps the candidate
    # lineage visible to the plan audit and releasable by key.
    cands = swap_pin(
        "containment_dup.cands",
        rare_shared_pairs(
            posting, CONT_DF_CAP, CONT_MIN_RARE_SHARED, "containment_dup"
        ),
    )
    cands.count()
    release_pins("containment_dup.buckets")
    # 60-bit md5-prefix hash per shingle (the portable family): the verify
    # intermediate carries 8-byte ints, not ~25-byte shingle strings
    hashed = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    shh = sh.select(
        "doc_id", F.size("shingles").alias("sz"), hashed.alias("hs")
    )
    sa = shh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("size_a"),
        F.col("hs").alias("hs_a"),
    )
    sb = shh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("size_b"),
        F.col("hs").alias("hs_b"),
    )
    # SHUFFLE_HASH, not the default SMJ: the per-doc set table is the
    # bounded build side (one row per doc), and hashing it lets the wide
    # pair stream FLOW through both attaches unsorted — the SMJ sort of
    # pair x set rows was the dominant verify spill at 100x
    scored = (
        cands.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_shared"),
        )
        .withColumn(
            "containment_ppm",
            F.expr("(n_shared * 1000000) div least(size_a, size_b)").cast("bigint"),
        )
        .filter(F.col("containment_ppm") >= CONT_TAU_PPM)
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        "containment_ppm",
    ).orderBy("doc_a", "doc_b")


def containment_dup_oracle() -> str:
    return f"""
        WITH {SHINGLE_CTES_SQL},
        posting AS (
          SELECT doc_id, unnest(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0
        ),
        rare AS (
          SELECT shingle FROM posting GROUP BY shingle
          HAVING COUNT(*) <= {CONT_DF_CAP}
        ),
        p AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
        cands AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) >= {CONT_MIN_RARE_SHARED}
        ),
        shh AS (
          -- 60-bit md5-prefix hashed shingle sets, mirroring the Spark
          -- verify's narrow payload (see containment_dup docstring)
          SELECT doc_id, len(shingles) AS sz,
                 list_transform(shingles,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
          FROM sh
        ),
        scored AS (
          SELECT c.doc_a, c.doc_b,
                 x.sz AS size_a,
                 y.sz AS size_b,
                 len(list_intersect(x.hs, y.hs)) AS n_shared
          FROM cands c
          JOIN shh x ON x.doc_id = c.doc_a
          JOIN shh y ON y.doc_id = c.doc_b
        )
        SELECT CAST(doc_a AS BIGINT) AS doc_a,
               CAST(doc_b AS BIGINT) AS doc_b,
               CAST(size_a AS BIGINT) AS size_a,
               CAST(size_b AS BIGINT) AS size_b,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST((n_shared * 1000000) // LEAST(size_a, size_b) AS BIGINT)
                 AS containment_ppm
        FROM scored
        WHERE (n_shared * 1000000) // LEAST(size_a, size_b) >= {CONT_TAU_PPM}
        ORDER BY doc_a, doc_b
    """


def minhash_pr_eval(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU
) -> DataFrame:
    """Sketch-quality report for the MinHash+LSH dedup path: one row with
    the exact near-dup pair count (prefix-filtered AllPairs ground
    truth), the LSH candidate count, the verified-pair count, banding
    recall (verified / exact, in ppm — verified pairs are a subset of the
    exact set because candidates are exact-Jaccard-checked, so precision
    is 1 by construction and recall IS the sketch's quality), and
    candidate precision (verified / candidates — the wasted-verify
    ratio). The dedup analog of `ndcg_eval`, and the decision table for
    tuning MINHASH_SEEDS/LSH_BANDS before a corpus-scale run.

    Cost: the two pipelines it compares (both collision/prefix-bounded)
    reduced to three 1-row counts; the final assembly cross-joins 1-row
    frames (allowlisted, the kmv_set_ops pattern).

    Ingest precondition: PK-unique doc_id scan — both compared pipelines
    generate a<b pairs whose ties replay-perturb. Front door:
    restore_unique_docs / catalog.load_table_unique at ingest; observable
    via quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    # ground truth reads the session-pinned verified pair table (VERDICT
    # r9 item 1) — the same materialization the dup-graph family shares
    exact_n = (
        verified_pairs_pinned(spark, sf_dir, tau)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    cands = _minhash_banded_candidates(spark, sf_dir)
    _, jac = _jaccard()
    cand_n = cands.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(jac >= tau, 1).otherwise(0)).alias("n_verified"),
    )
    return (
        exact_n.crossJoin(F.broadcast(cand_n))
        .select(
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_verified").cast("bigint").alias("n_verified"),
            F.when(
                F.col("n_exact") > 0,
                F.expr("(n_verified * 1000000) div n_exact"),
            )
            .cast("bigint")
            .alias("recall_ppm"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr("(n_verified * 1000000) div n_candidates"),
            )
            .cast("bigint")
            .alias("cand_precision_ppm"),
        )
    )


def minhash_pr_eval_oracle(tau: float = JACCARD_TAU) -> str:
    return rf"""
        WITH {jaccard_pairs_ctes_sql(tau)},
        {_banded_cand_ctes_sql()},
        counts AS (
          SELECT
            (SELECT COUNT(*) FROM jpairs) AS n_exact,
            COUNT(*) AS n_candidates,
            SUM(CASE WHEN len(list_intersect(sh_a, sh_b)) * 1.0
                     / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
                     >= {tau} THEN 1 ELSE 0 END) AS n_verified
          FROM cand
        )
        SELECT CAST(n_exact AS BIGINT) AS n_exact,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_verified AS BIGINT) AS n_verified,
               CAST(CASE WHEN n_exact > 0
                    THEN (n_verified * 1000000) // n_exact END AS BIGINT)
                 AS recall_ppm,
               CAST(CASE WHEN n_candidates > 0
                    THEN (n_verified * 1000000) // n_candidates END AS BIGINT)
                 AS cand_precision_ppm
        FROM counts
    """


# --- arbitrary-length repeat ladder ----------------------------------------

LADDER_WINS = (16, 32, 64, 128, 256)  # geometric window ladder (chars)


def substring_repeat_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring length spectrum — the distributed stand-in for a
    suffix automaton's repeat statistics, extending ``substring_dup_spans``
    (fixed 32-char grid) to ARBITRARY-length, arbitrary-ALIGNMENT repeats
    at log cost.

    A suffix automaton enumerates every repeated substring with its
    length; that structure is inherently sequential. The Spark-first
    equivalent is a geometric ladder of CONTENT-DEFINED windows: for rung
    w ∈ {16, 32, 64, 128, 256}, a w-char window starts at position i iff
    the md5 of the 4-gram at i is ≡ 0 mod w/2 (expected density 2/w —
    the content-defined-chunking anchor trick). Because anchors are
    chosen by CONTENT, a verbatim repeat selects the SAME window starts
    in every document containing it, whatever its byte offset — the
    alignment blindness of a fixed grid (two copies at offsets differing
    ≢ 0 mod stride share no windows) cannot happen. A repeat of length L
    goes undetected at rung w only if it contains no anchor in its first
    L−w+1 positions: P ≈ exp(−2(L−w+1)/w) — ≈37% right at L = 1.5w,
    <5% past L ≈ 2.5w, negligible beyond — so the largest hitting rung
    brackets the maximal repeat length within a factor of ~2-3 with
    one-sided error: a hit at rung w CERTIFIES a repeat ≥ w (md5
    collisions aside); only the boundary rung can under-report. This is
    the suffix automaton's length spectrum, sampled.

    Output: one row per rung — total windows, cross-doc duplicate
    windows, documents containing any duplicate, duplicate fraction.
    Rising dup_frac at long rungs = template/boilerplate corpora.

    Scale: window generation is ONE linear Arrow mapInPandas pass per
    document — the long-document probe (BENCH_NOTES "Long-document
    availability") showed why the pure-expression form cannot survive
    real corpora: Spark's `substring(text, i, w)` walks UTF-8 bytes to
    find char position i, so an anchor hash at EVERY position is
    O(len^2) per document — a single 1.8 MB doc ran for >20 min where
    this pass takes ~2 s (CPython str indexing is O(1), PEP 393). This
    is precisely the "built-ins genuinely can't express it" case the
    multimodal family already documents: text stays executor-local,
    only the narrow (doc_id, win_len, whash) rows leave the worker, and
    every shuffle is keyed on (win_len, whash) uniform md5 keys with
    map-side partials. (Parity: the reference has no repeat-length
    operator; this serves the dedup audit the same way its dedup views
    serve exact dup detection.)
    """
    import hashlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).filter(F.length("text") >= F.lit(min(LADDER_WINS)))

    win_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win_len", T.IntegerType()),
            T.StructField("whash", T.StringType()),
        ]
    )
    rungs = LADDER_WINS

    def ladder_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "win_len": [], "whash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                # anchor digest once per position (the JVM expression
                # recomputed it per rung AND paid an O(i) byte walk per
                # substring); rung selection = same mod test as the
                # oracle: first 8 hex digits of md5(4-gram) % (w/2)
                for i in range(n - rungs[0] + 1):
                    h8 = int(
                        md5(text[i : i + 4].encode("utf-8")).hexdigest()[:8], 16
                    )
                    for w in rungs:
                        if i + w <= n and h8 % (w >> 1) == 0:
                            out["doc_id"].append(doc_id)
                            out["win_len"].append(w)
                            out["whash"].append(
                                md5(text[i : i + w].encode("utf-8")).hexdigest()
                            )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "win_len": pd.Series(out["win_len"], dtype="int32"),
                    "whash": pd.Series(out["whash"], dtype="object"),
                }
            )

    wins = docs.mapInPandas(ladder_batches, win_schema)
    hash_docs = (
        wins.dropDuplicates(["win_len", "whash", "doc_id"])
        .groupBy("win_len", "whash")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    flagged = wins.join(hash_docs, ["win_len", "whash"]).withColumn(
        "is_dup", (F.col("n_docs_with") >= 2).cast("int")
    )
    return (
        flagged.groupBy("win_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_windows"),
            F.sum("is_dup").cast("bigint").alias("dup_windows"),
            F.countDistinct(F.when(F.col("is_dup") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("docs_with_dup"),
            _trunc6(F.sum("is_dup") / F.count(F.lit(1))).alias(
                "dup_frac"
            ),
        )
        .orderBy("win_len")
    )


def substring_repeat_ladder_oracle() -> str:
    rungs = ", ".join(f"({w})" for w in LADDER_WINS)
    anchor = (
        "CAST(('0x' || substr(md5(substr(d.text, i, 4)), 1, 8)) AS BIGINT)"
        " % (r.win_len // 2) = 0"
    )
    return f"""
        WITH rungs AS (SELECT * FROM (VALUES {rungs}) r(win_len)),
        wins AS (
          SELECT d.doc_id, r.win_len,
                 md5(substr(d.text, i, r.win_len)) AS whash
          FROM documents d
          JOIN rungs r ON length(d.text) >= r.win_len,
          LATERAL (SELECT unnest(range(1, length(d.text) - r.win_len + 2)) AS i) p
          WHERE {anchor}
        ),
        hash_docs AS (
          SELECT win_len, whash, COUNT(*) AS n_docs_with
          FROM (SELECT DISTINCT doc_id, win_len, whash FROM wins)
          GROUP BY win_len, whash
        )
        SELECT w.win_len AS win_len,
               CAST(COUNT(*) AS BIGINT) AS total_windows,
               CAST(SUM(CAST(h.n_docs_with >= 2 AS INT)) AS BIGINT)
                 AS dup_windows,
               CAST(COUNT(DISTINCT CASE WHEN h.n_docs_with >= 2
                                        THEN w.doc_id END) AS BIGINT)
                 AS docs_with_dup,
               FLOOR(SUM(CAST(h.n_docs_with >= 2 AS INT)) * 1.0 / COUNT(*)
                     * 1e6) / 1e6 AS dup_frac
        FROM wins w JOIN hash_docs h USING (win_len, whash)
        GROUP BY w.win_len
        ORDER BY win_len
    """


# --- exact per-document repeat profile (suffix automaton) ------------------


def repeat_profile_automaton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT within-document repeat statistics via a suffix automaton over
    each document's token sequence — the sequential structure
    ``substring_repeat_ladder`` documents itself as a sampled stand-in
    for (VERDICT r7 item 5). The ladder answers the CROSS-doc question at
    log cost; this answers the WITHIN-doc question exactly: per document,
    the number of distinct token n-grams of every length (the automaton's
    Σ len(v) − len(link(v)) identity), the longest n-gram occurring at
    least twice, that gram (the EARLIEST-first-occurrence witness — the
    repeated maximal gram starting leftmost; unique because one position
    defines one gram, and recoverable from the automaton in O(1) via the
    per-state min end-position, where a lexicographic-min tie-break
    would cost an O(n·L) gram-materialization pass: quadratic on an
    X+X half-repeated document, the 9b probe class), and its
    possibly-overlapping occurrence count (the state's endpos size).
    High max_repeat_len / low distinct ratio = internally templated or
    stuttering generation output — the canonical "repetition" signal a
    training-data filter thresholds on.

    Plan shape: one linear Arrow ``mapInPandas`` pass (the documented
    "built-ins genuinely can't express it" case — an automaton is
    inherently sequential per document, and CPython O(1) indexing beats
    Spark's O(i) UTF-8 substring walk; same argument as the ladder's
    window pass, BENCH_NOTES "Long-document availability"). Documents
    never shuffle: text stays executor-local and only the six narrow
    profile columns leave the worker. Construction is O(tokens) per doc;
    a multi-MB document costs seconds, not the O(n²) a pure-expression
    n-gram enumeration would.

    Oracle: an algorithm-independent twin — DuckDB enumerates ALL
    n-grams of all lengths (quadratic, fine at the oracle's sf) and
    reproduces every statistic from first principles, so the automaton's
    bookkeeping is checked against brute force, not against itself.

    Ingest precondition: PK-unique doc_id scan — the Arrow pass profiles
    each PHYSICAL row independently while the oracle's n-gram enumeration
    groups positions BY doc_id, so a replayed doc_id merges two copies'
    positions into one brute-force profile (a full-length gram suddenly
    "repeats") while Spark emits two per-copy profiles (enumerated by the
    r10 full --wave9 battery; fails identically at the r9 tree, latent
    since the entry landed). Front door: the exactly-once restore
    (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23);
    --wave9-restored: green.
    """
    from collections.abc import Iterator

    import pandas as pd

    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    schema = (
        "doc_id long, n_tokens long, n_distinct_ngrams long, "
        "max_repeat_len long, top_repeat_gram string, top_repeat_count long"
    )

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        # Pin the exact whitespace class, spelled out on BOTH sides: this
        # pass splits on [ \t\n\x0b\f\r] and the oracle's regex names the
        # same class explicitly — RE2's \s is [ \t\n\f\r] (NO vertical
        # tab) while Java's and Python's ASCII \s include \x0b, so a bare
        # \s+ in the oracle silently diverges on any document containing
        # a vertical tab (ADVICE r8; pinned by
        # test_repeat_profile_vertical_tab_parity).
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            out = {
                "doc_id": [], "n_tokens": [], "n_distinct_ngrams": [],
                "max_repeat_len": [], "top_repeat_gram": [], "top_repeat_count": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in ws.split((text or "").lower()) if t]
                n = len(toks)
                # suffix automaton over token symbols, with endpos counts
                # and per-state MIN end position (1-based) for witness
                # recovery without materializing grams
                INF = n + 1
                sa_len, sa_link, trans, cnt, minend = [0], [-1], [{}], [0], [INF]
                last = 0
                for j, c in enumerate(toks, start=1):
                    cur = len(sa_len)
                    sa_len.append(sa_len[last] + 1)
                    sa_link.append(-1)
                    trans.append({})
                    cnt.append(1)
                    minend.append(j)
                    p = last
                    while p != -1 and c not in trans[p]:
                        trans[p][c] = cur
                        p = sa_link[p]
                    if p == -1:
                        sa_link[cur] = 0
                    else:
                        q = trans[p][c]
                        if sa_len[p] + 1 == sa_len[q]:
                            sa_link[cur] = q
                        else:
                            clone = len(sa_len)
                            sa_len.append(sa_len[p] + 1)
                            sa_link.append(sa_link[q])
                            trans.append(dict(trans[q]))
                            cnt.append(0)
                            minend.append(INF)
                            while p != -1 and trans[p].get(c) == q:
                                trans[p][c] = clone
                                p = sa_link[p]
                            sa_link[q] = clone
                            sa_link[cur] = clone
                    last = cur
                # propagate endpos counts + min end up links, longest first
                order = sorted(range(1, len(sa_len)), key=lambda s: -sa_len[s])
                for s in order:
                    cnt[sa_link[s]] += cnt[s]
                    if minend[s] < minend[sa_link[s]]:
                        minend[sa_link[s]] = minend[s]
                n_distinct = sum(
                    sa_len[s] - sa_len[sa_link[s]] for s in range(1, len(sa_len))
                )
                max_rep = max(
                    (sa_len[s] for s in range(1, len(sa_len)) if cnt[s] >= 2),
                    default=0,
                )
                gram, gcount = None, None
                if max_rep > 0:
                    # repeated maximal grams live exactly in states with
                    # len == max_rep and endpos count >= 2; the earliest
                    # first occurrence picks the witness in O(states)
                    best = min(
                        (
                            s
                            for s in range(1, len(sa_len))
                            if cnt[s] >= 2 and sa_len[s] == max_rep
                        ),
                        key=lambda s: minend[s],
                    )
                    start = minend[best] - max_rep  # 0-based slice start
                    gram = " ".join(toks[start : start + max_rep])
                    gcount = cnt[best]
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                out["n_distinct_ngrams"].append(n_distinct)
                out["max_repeat_len"].append(max_rep)
                out["top_repeat_gram"].append(gram)
                out["top_repeat_count"].append(gcount)
            yield pd.DataFrame(out)

    return docs.mapInPandas(profile, schema).orderBy("doc_id")


def repeat_profile_automaton_oracle() -> str:
    return r"""
        WITH base AS (
          SELECT doc_id,
                 -- COALESCE mirrors the Arrow pass's (text or ""): a
                 -- NULL-payload doc profiles as zero tokens, not NULL.
                 -- Explicit whitespace class incl. \x0b: RE2's \s has no
                 -- vertical tab, the Python pass's class does (ADVICE r8)
                 list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                '[ \t\n\x0b\f\r]+'),
                             t -> t <> '') AS tk
          FROM documents
        ),
        sized AS (SELECT doc_id, tk, len(tk) AS n FROM base),
        grams AS (
          SELECT s.doc_id, u1.L, u2.i,
                 array_to_string(s.tk[u2.i : u2.i + u1.L - 1], ' ') AS gram
          FROM sized s,
               UNNEST(range(1, s.n + 1)) u1(L),
               UNNEST(range(1, s.n + 1)) u2(i)
          WHERE u2.i + u1.L - 1 <= s.n
        ),
        gcnt AS (
          SELECT doc_id, L, gram, COUNT(*) AS c, MIN(i) AS first_i
          FROM grams GROUP BY doc_id, L, gram
        ),
        dn AS (
          SELECT doc_id, COUNT(DISTINCT gram) AS nd FROM grams GROUP BY doc_id
        ),
        top AS (
          -- witness = earliest-first-occurrence repeated maximal gram
          -- (one position defines one gram, so first_i is unique per
          -- gram and the pick is total — mirrors the automaton's
          -- min-endpos recovery)
          SELECT doc_id, L, gram, c
          FROM gcnt WHERE c >= 2
          QUALIFY ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY L DESC, first_i ASC) = 1
        )
        SELECT s.doc_id,
               CAST(s.n AS BIGINT) AS n_tokens,
               CAST(COALESCE(dn.nd, 0) AS BIGINT) AS n_distinct_ngrams,
               CAST(COALESCE(top.L, 0) AS BIGINT) AS max_repeat_len,
               top.gram AS top_repeat_gram,
               CAST(top.c AS BIGINT) AS top_repeat_count
        FROM sized s
        LEFT JOIN dn USING (doc_id)
        LEFT JOIN top USING (doc_id)
        ORDER BY s.doc_id
    """


# --- LSH banding calibration (S-curve tuning report) ------------------------

LSH_TUNE_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))  # (bands, rows) with b*r = 8


def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep: for every (bands, rows-per-band)
    split of the MINHASH_SEEDS signature, the EXPECTED RECALL of the
    banding over the corpus's actual verified near-dup pairs — mean over
    true pairs of the S-curve collision probability
    P(collide | s) = 1 − (1 − s^r)^b — plus the curve midpoint
    s50 = (1/b)^(1/r). This is the report that justifies a banding
    choice BEFORE a 100 TB run commits to it: recall is evaluated
    against the measured pair-similarity distribution, not a guessed
    one (the design audit behind dedup_minhash_lsh's n-adaptive bands).

    Determinism: the powers are UNROLLED left-associated products
    (never pow(x, k) — Math.pow and C pow need not equal repeated
    multiplication in the last ulp), each pair's collision probability
    is floor-truncated to 6 dp and summed as DECIMAL(18,6) — the fleet's
    order-independent mean recipe.

    Scale shape: configs attach by an in-row explode of a 4-element
    literal array (no join), so the only heavy work is the pair source
    itself (the AllPairs prefix-filter join, already bounded); the final
    aggregate has 4 groups.
    """
    import functools

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("jaccard")
    cfgs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
            )
            for b, r in LSH_TUNE_CONFIGS
        ]
    )
    ex = (
        pairs.select("jaccard", F.explode(cfgs).alias("cfg"))
        .select("jaccard", "cfg.bands", "cfg.rows_per_band")
    )

    def _unroll(col: Column, k: int) -> Column:
        out = col
        for _ in range(k - 1):
            out = out * col
        return out

    collide = functools.reduce(
        lambda acc, br: F.when(
            (F.col("bands") == br[0]) & (F.col("rows_per_band") == br[1]),
            F.lit(1.0) - _unroll(F.lit(1.0) - _unroll(F.col("jaccard"), br[1]), br[0]),
        ).otherwise(acc),
        LSH_TUNE_CONFIGS,
        F.lit(None).cast("double"),
    )
    p6 = _trunc6(collide).cast("decimal(18,6)")
    return (
        ex.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
            _trunc6(F.sum(p6).cast("double") / F.count(F.lit(1))).alias(
                "expected_recall"
            ),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_true_pairs",
            "expected_recall",
            _trunc6(
                F.exp(F.log(F.lit(1.0) / F.col("bands")) / F.col("rows_per_band"))
            ).alias("s50"),
        )
        .orderBy("bands")
    )


def lsh_tuning_curve_oracle() -> str:
    def unroll(expr: str, k: int) -> str:
        return " * ".join([f"({expr})"] * k)

    branches = "\n                 ".join(
        f"WHEN c.bands = {b} AND c.rows_per_band = {r} THEN "
        f"1.0 - {unroll('1.0 - ' + unroll('p.jaccard', r), b)}"
        for b, r in LSH_TUNE_CONFIGS
    )
    values = ", ".join(f"({b}, {r})" for b, r in LSH_TUNE_CONFIGS)
    return rf"""
        WITH {SHINGLE_CTES_SQL},
        pairs AS (
          SELECT FLOOR(len(list_intersect(a.shingles, b.shingles)) * 1.0
                       / (len(a.shingles) + len(b.shingles)
                          - len(list_intersect(a.shingles, b.shingles))) * 1e6) / 1e6
                   AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
                / (len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles))) >= {JACCARD_TAU}
        ),
        cfgs AS (SELECT * FROM (VALUES {values}) c(bands, rows_per_band)),
        scored AS (
          SELECT c.bands, c.rows_per_band,
                 CAST(FLOOR((CASE {branches} END) * 1e6) / 1e6
                      AS DECIMAL(18,6)) AS p6
          FROM pairs p CROSS JOIN cfgs c
        )
        SELECT CAST(bands AS BIGINT) AS bands,
               CAST(rows_per_band AS BIGINT) AS rows_per_band,
               CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               FLOOR(CAST(SUM(p6) AS DOUBLE) / COUNT(*) * 1e6) / 1e6
                 AS expected_recall,
               FLOOR(exp(ln(1.0 / bands) / rows_per_band) * 1e6) / 1e6 AS s50
        FROM scored
        GROUP BY bands, rows_per_band
        ORDER BY bands
    """


def verified_pairs_pinned(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU
) -> DataFrame:
    """The verified ngram-Jaccard pair table as a session-pinned frame —
    the shared pair materialization of the dup-graph family (WIRED in
    r10 per VERDICT r9 item 1; staged+tested in r9).

    dup_components / dup_cluster_stats / dup_pagerank / minhash_pr_eval
    all consume the SAME verified pair set, and a production pipeline
    materializes pairs ONCE before closure/ranking/calibration — this
    helper is that materialization for a long-lived session (~60% of
    dup_pagerank's warm cost was re-deriving pairs, VERDICT r8 item 6).
    swap_pin's reuse form returns the already-materialized frame on a
    repeat call with the same (sf_dir, tau), the same on-disk documents
    bytes, and a live session; a changed sf_dir/tau swaps the pin (steady
    state: ONE pinned pair frame), and release_pins() at harness exit
    keeps the ADVICE-r5 leak class closed. The documents file's
    fingerprint rides in the reuse identity (``inputs=``), so REWRITING
    the corpus at the same path rebuilds the pairs instead of serving the
    stale set to all five dup-graph consumers (VERDICT r10 item 4). At cluster scale the
    equivalent is writing the verified pair table once to durable
    storage and reading it from all four consumers — the plan shape this
    pin models locally.
    """
    import os

    from .cachereg import swap_pin

    return swap_pin(
        "dedup_ngram_jaccard.pairs",
        lambda: dedup_ngram_jaccard(spark, sf_dir, tau).select("doc_a", "doc_b"),
        spark=spark,
        params=(sf_dir, tau),
        inputs=(os.path.join(sf_dir, "documents.parquet"),),
    )
