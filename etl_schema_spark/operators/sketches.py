"""Distinct-count sketching (SURVEY §2C/§2D adjacency).

The reference leans on BigQuery's approximate aggregates
(APPROX_QUANTILES in views/website/entry07_platform_decile_*.sql); the
sketch below is the distinct-count member of that family, built so it is
*reproducible across engines*: a KMV (k-minimum-values) estimator over
md5 hashes. Engine-native HLLs (Spark approx_count_distinct, DuckDB
approx_count_distinct) use incompatible internal hashes, so two engines
never agree run-to-run; KMV over md5 is deterministic — the same k-th
smallest hash exists in any engine — which makes the approximation itself
oracle-checkable, not just "close".

Estimator: hash every value to md5; keep the k smallest distinct hashes;
if fewer than k exist the count is exact, else est = (k-1) / u_k where
u_k is the k-th smallest hash mapped to (0,1). Standard error ~ 1/sqrt(k-2).

Scale: the hash set is distinct-reduced with map-side partial aggregation
before the per-group rank (one shuffle on (group, hash), one on group);
the sketch state per group is k * 16 bytes. On a cluster you would fold
the top-k inside a partial aggregate (Spark has no bounded-heap builtin;
the distinct+rank plan is the declarative equivalent with the same
shuffle keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .contracts import FINITE_VALUE_SQL, finite_value

KMV_K = 64
_HEX15 = float(16**15)  # 2^60 — exactly representable in double


def kmv_distinct_estimate(spark: SparkSession, sf_dir: str, k: int = KMV_K) -> DataFrame:
    """KMV distinct-user estimate per event_type, with the exact count
    alongside so the estimator's error is visible in the result."""
    ev = load_table(spark, sf_dir, "events")
    hashes = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("distinct_exact"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
    )
    u_k = F.conv(F.substring("hk", 1, 15), 16, 10).cast("double") / F.lit(_HEX15)
    est = F.when(F.col("hk").isNull(), F.col("distinct_exact").cast("double")).otherwise(
        F.lit(float(k - 1)) / u_k
    )
    return agg.select(
        "event_type",
        F.col("distinct_exact").cast("bigint").alias("distinct_exact"),
        (F.floor(est * 1e4) / 1e4).alias("distinct_est"),
    )


def kmv_set_ops(spark: SparkSession, sf_dir: str, k: int = KMV_K) -> DataFrame:
    """Theta-sketch-style set operations from per-group KMV sketches:
    estimated distinct-user intersection and union for every event-type
    pair, with the exact values alongside.

    Method (the Theta/KMV estimator): per type keep the k smallest md5
    hashes; θ_t = u of the k-th smallest (1.0 if the sketch isn't full);
    for a pair, θ = min(θ_a, θ_b), est_∩ = |{h in both sketches, u < θ}|/θ,
    est_∪ = est_a + est_b − est_∩ (inclusion-exclusion over the same
    estimator family).

    This is the mergeability story that makes sketches matter at 100 TB:
    per-partition sketches combine by hash-set union — O(k) state per
    group — and set relations between cohorts come from the sketches
    alone, never a re-scan. The md5 hash family keeps every intermediate
    engine-portable, so estimates (not just bounds) are oracle-checked.

    Plan: one distinct shuffle, one per-type rank window, then joins over
    sketch rows only (≤ k·|types| rows — broadcast-sized by construction).
    """
    ev = load_table(spark, sf_dir, "events")
    # h feeds four consumers (sketch, exact intersection x2, exact counts)
    # and sketch three; pinned (swap_pin — VERDICT r12 item 4 bare-persist
    # sweep) so the scan+distinct and the rank window run once, not per
    # reference (22 -> ~8 exchanges in the plan), and both frames are
    # releasable by the harness hooks
    from .cachereg import swap_pin

    h = swap_pin(
        "sketches.kmv_set.h",
        ev.select(
            "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
        ).distinct(),
    )
    u = F.conv(F.substring("h", 1, 15), 16, 10).cast("double") / F.lit(_HEX15)
    w = Window.partitionBy("event_type").orderBy("h")
    sketch = swap_pin(
        "sketches.kmv_set.sketch",
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .withColumn("u", u),
    )
    per_type = sketch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("u").alias("u_max")
    ).select(
        "event_type",
        F.when(F.col("n_sk") >= k, F.col("u_max")).otherwise(F.lit(1.0)).alias("theta"),
        # per-type KMV distinct estimate, exact when the sketch isn't full
        F.when(F.col("n_sk") >= k, F.lit(float(k - 1)) / F.col("u_max"))
        .otherwise(F.col("n_sk").cast("double"))
        .alias("est_n"),
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("theta").alias("theta_a"),
        F.col("est_n").alias("est_a"),
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("theta").alias("theta_b"),
        F.col("est_n").alias("est_b"),
    )
    pairs = ta.join(tb, F.col("type_a") < F.col("type_b")).withColumn(
        "theta", F.least("theta_a", "theta_b")
    )
    sa = sketch.select(F.col("event_type").alias("type_a"), "h", F.col("u").alias("u_a"))
    sb = sketch.select(F.col("event_type").alias("type_b"), "h")
    common = (
        # k·|types| rows a side, but the planner has no stats for the
        # pinned subtree and defaulted to SMJ — broadcast the sketch side
        # (guide §3.1)
        sa.join(F.broadcast(sb), "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(pairs.select("type_a", "type_b", "theta")), ["type_a", "type_b"])
        .filter(F.col("u_a") < F.col("theta"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Exact pairwise intersections WITHOUT the h-keyed self-join (r13):
    # one groupBy(h) collects the ≤|types| types sharing a hash into a
    # sorted array, the a<b pairs expand IN-ROW (JVM higher-order
    # functions, ≤ C(|types|,2) structs per row), and one partial-
    # aggregated count replaces the former two-sided exchange + join +
    # count over the full distinct table (guide §2.3 "aggregate before
    # you shuffle": the self-join shipped every (type, h) row twice to
    # re-discover the per-h type sets the aggregate builds directly).
    ts = F.array_sort(F.collect_set("event_type")).alias("ts")
    pair_structs = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size(F.col("ts"))),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    exact_inter = (
        h.groupBy("h")
        .agg(ts)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    n_exact = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est_i = F.col("n_common") / F.col("theta")
    # every post-sketch relation is <= |types|^2 rows: broadcast them all so
    # the assembly is exchange-free instead of defaulting to SMJ
    return (
        pairs.join(F.broadcast(common), ["type_a", "type_b"], "left")
        .na.fill(0, ["n_common"])
        .join(F.broadcast(exact_inter), ["type_a", "type_b"], "left")
        .na.fill(0, ["inter_exact"])
        .join(
            F.broadcast(n_exact.select(F.col("event_type").alias("type_a"),
                                       F.col("n_exact").alias("na_exact"))),
            "type_a",
        )
        .join(
            F.broadcast(n_exact.select(F.col("event_type").alias("type_b"),
                                       F.col("n_exact").alias("nb_exact"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            (F.floor(est_i * 1e4) / 1e4).alias("inter_est"),
            (F.floor((F.col("est_a") + F.col("est_b") - est_i) * 1e4) / 1e4).alias(
                "union_est"
            ),
            F.col("inter_exact").cast("bigint").alias("inter_exact"),
            (F.col("na_exact") + F.col("nb_exact") - F.col("inter_exact"))
            .cast("bigint")
            .alias("union_exact"),
        )
    )


def kmv_set_ops_oracle(k: int = KMV_K) -> str:
    u_sql = "CAST(('0x' || substr(h, 1, 15)) AS BIGINT) / POWER(16, 15)"
    return f"""
        WITH h AS (
          SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
          FROM events
        ),
        sketch AS (
          SELECT event_type, h, {u_sql} AS u
          FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h
          ) WHERE rn <= {k}
        ),
        per_type AS (
          SELECT event_type,
                 CASE WHEN COUNT(*) >= {k} THEN MAX(u) ELSE 1.0 END AS theta,
                 CASE WHEN COUNT(*) >= {k} THEN {k - 1} / MAX(u)
                      ELSE CAST(COUNT(*) AS DOUBLE) END AS est_n
          FROM sketch GROUP BY event_type
        ),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 LEAST(a.theta, b.theta) AS theta,
                 a.est_n AS est_a, b.est_n AS est_b
          FROM per_type a JOIN per_type b ON a.event_type < b.event_type
        ),
        common AS (
          SELECT sa.event_type AS type_a, sb.event_type AS type_b,
                 COUNT(*) AS n_common
          FROM sketch sa
          JOIN sketch sb ON sa.h = sb.h AND sa.event_type < sb.event_type
          JOIN pairs p ON p.type_a = sa.event_type AND p.type_b = sb.event_type
          WHERE sa.u < p.theta
          GROUP BY sa.event_type, sb.event_type
        ),
        exact_inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 COUNT(*) AS inter_exact
          FROM h a JOIN h b ON a.h = b.h AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type
        ),
        n_exact AS (
          SELECT event_type, COUNT(*) AS n_exact FROM h GROUP BY event_type
        )
        SELECT p.type_a, p.type_b,
               FLOOR(COALESCE(c.n_common, 0) / p.theta * 1e4) / 1e4 AS inter_est,
               FLOOR((p.est_a + p.est_b - COALESCE(c.n_common, 0) / p.theta) * 1e4)
                 / 1e4 AS union_est,
               CAST(COALESCE(e.inter_exact, 0) AS BIGINT) AS inter_exact,
               CAST(na.n_exact + nb.n_exact - COALESCE(e.inter_exact, 0) AS BIGINT)
                 AS union_exact
        FROM pairs p
        LEFT JOIN common c ON c.type_a = p.type_a AND c.type_b = p.type_b
        LEFT JOIN exact_inter e ON e.type_a = p.type_a AND e.type_b = p.type_b
        JOIN n_exact na ON na.event_type = p.type_a
        JOIN n_exact nb ON nb.event_type = p.type_b
        ORDER BY p.type_a, p.type_b
    """


CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row


def _cms_bucket_col(j_col, key_col) -> "F.Column":
    """Row-j bucket of a key: first 8 md5 nibbles of 'cms<j><key>' mod W —
    md5-derived like the LSH plane family, so any engine reproduces it."""
    h = F.md5(F.concat(F.lit("cms"), j_col.cast("string"), key_col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % CMS_W).alias("bucket")


def cms_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for per-user event counts, with
    the exact count alongside (CMS guarantees est >= exact; the gap shows
    the collision error at W=64 buckets).

    Build: every event increments d=4 (row, bucket) counters — an explode
    to 4 narrow rows then ONE map-side-combined groupBy over at most d*w =
    256 groups; the sketch is O(d*w) no matter the corpus size, which is
    the whole point of the sketch at 100 TB. Query: the distinct keys join
    the broadcast sketch on (row, bucket) and take min over rows.

    Like KMV above, the hash family is md5-derived so the sketch — not
    just its asymptotics — is oracle-checkable across engines (engine-
    native sketches never agree bit-for-bit).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    js = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j")
    increments = ev.select("user_id", js).select(
        "j", _cms_bucket_col(F.col("j"), F.col("user_id"))
    )
    sketch = increments.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("freq_exact"))
    probes = exact.select("user_id", "freq_exact", js).select(
        "user_id",
        "freq_exact",
        "j",
        _cms_bucket_col(F.col("j"), F.col("user_id")),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "freq_exact")
        .agg(F.min("cnt").alias("freq_est"))
        .select("user_id", "freq_exact", "freq_est")
    )


def cms_frequency_estimate_oracle() -> str:
    bucket = (
        "CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR)"
        " || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % {w}"
    ).format(w=CMS_W)
    return f"""
        WITH js AS (SELECT unnest(range(0, {CMS_D})) AS j),
        increments AS (
          SELECT j, {bucket} AS bucket
          FROM events CROSS JOIN js
        ),
        sketch AS (
          SELECT j, bucket, COUNT(*) AS cnt
          FROM increments GROUP BY j, bucket
        ),
        exact AS (
          SELECT user_id, COUNT(*) AS freq_exact FROM events GROUP BY user_id
        ),
        probes AS (
          SELECT user_id, freq_exact, j, {bucket} AS bucket
          FROM exact CROSS JOIN js
        )
        SELECT user_id,
               CAST(freq_exact AS BIGINT) AS freq_exact,
               CAST(MIN(cnt) AS BIGINT) AS freq_est
        FROM probes JOIN sketch USING (j, bucket)
        GROUP BY user_id, freq_exact
        ORDER BY user_id
    """


def kmv_distinct_estimate_oracle(k: int = KMV_K) -> str:
    return f"""
        WITH h AS (
          SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
          FROM events
        ),
        ranked AS (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ),
        agg AS (
          SELECT event_type,
                 COUNT(*) AS distinct_exact,
                 MAX(CASE WHEN rn = {k} THEN h END) AS hk
          FROM ranked GROUP BY event_type
        )
        SELECT event_type,
               CAST(distinct_exact AS BIGINT) AS distinct_exact,
               FLOOR(
                 CASE WHEN hk IS NULL THEN CAST(distinct_exact AS DOUBLE)
                      ELSE {k - 1} / (CAST(('0x' || substr(hk, 1, 15)) AS BIGINT)
                                      / POWER(16, 15))
                 END * 1e4) / 1e4 AS distinct_est
        FROM agg
        ORDER BY event_type
    """


QUANTILE_BINS_PER_DECADE = 20
QUANTILE_QS = (0.5, 0.9, 0.99)


def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (p50/p90/p99) per event_type from a log10-binned
    histogram sketch — the quantile member of the cross-engine-reproducible
    sketch family (distinct = KMV, frequency = CMS, quantile = this).

    Parity: views/website/entry07_platform_decile_*.sql uses BigQuery's
    APPROX_QUANTILES; its t-digest-style internals are engine-specific, so
    no oracle could check them. A fixed log-binned histogram is the
    deterministic equivalent: sketch state per group is (bin -> count),
    O(decades * bins_per_decade) regardless of row count, and two sketches
    merge by adding counts (mergeability proven in tests). Relative error
    is bounded by the bin width (10^(1/bins_per_decade) ~ 12%).

    The quantile readout: rank = ceil(q * n), answer = right edge of the
    first bin whose cumulative count reaches the rank. Ranks are exact
    integers and edges use the ROUND(POW(10, ...), 6) idiom already proven
    hash-stable in log_pdf_cdf, so the sketch is oracle-checkable end to
    end. One shuffle for the bin counts, window + tiny explode for readout.
    """
    # Sketch domain: strictly positive AND finite (contracts.py, fuzz
    # wave 5) — NaN > 0 is TRUE in both engines (NaN ranks above +Inf),
    # so the positivity filter alone admits NaN into log10, where Spark's
    # floor saturates and DuckDB's BIGINT cast hard-errors.
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") > 0) & finite_value("value")
    )
    binned = (
        ev.select(
            "event_type",
            F.floor(F.log10("value") * QUANTILE_BINS_PER_DECADE).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    cum = binned.select(
        "event_type",
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("n_total"),
    )
    qs = F.explode(F.array(*[F.lit(q) for q in QUANTILE_QS])).alias("q")
    return (
        cum.select("event_type", "bin", "cum", "n_total", qs)
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
        .groupBy("event_type", "q")
        .agg(F.min("bin").alias("qbin"), F.first("n_total").alias("n_total"))
        .select(
            "event_type",
            "q",
            F.col("n_total").cast("bigint").alias("n_total"),
            "qbin",
            F.round(
                F.pow(F.lit(10.0), (F.col("qbin") + 1) / QUANTILE_BINS_PER_DECADE), 6
            ).alias("q_est"),
        )
    )


def histogram_quantile_sketch_oracle() -> str:
    qs = ", ".join(str(q) for q in QUANTILE_QS)
    return f"""
        WITH binned AS (
          SELECT event_type,
                 FLOOR(log10(value) * {QUANTILE_BINS_PER_DECADE}) AS bin,
                 COUNT(*) AS n
          FROM events WHERE value > 0 AND {FINITE_VALUE_SQL}
          GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, bin,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(n) OVER (PARTITION BY event_type) AS n_total
          FROM binned
        ),
        hit AS (
          SELECT event_type, q, bin, cum, n_total
          FROM cum CROSS JOIN (SELECT CAST(unnest([{qs}]) AS DOUBLE) AS q) qq
          WHERE cum >= CEIL(q * n_total)
        )
        SELECT event_type, q,
               CAST(MIN(n_total) AS BIGINT) AS n_total,
               CAST(MIN(bin) AS BIGINT) AS qbin,
               ROUND(POW(10, (MIN(bin) + 1.0) / {QUANTILE_BINS_PER_DECADE}), 6) AS q_est
        FROM hit
        GROUP BY event_type, q
        ORDER BY event_type, q
    """


BLOOM_BITS = 1024  # 32 x 32-bit words; masks stay positive in signed 64-bit
BLOOM_K = 4
_BLOOM_WORD_BITS = 32


BLOOM_PROBE_BUDGET = 4_000_000  # max |types| x |users| probe rows before
# the default flips from exhaustive to md5-sampled (below)


def bloom_membership(
    spark: SparkSession, sf_dir: str, probe_fraction: float | None = None
) -> DataFrame:
    """Bloom-filter membership — the fourth member of the portable sketch
    family (distinct = KMV, frequency = CMS, quantile = histogram,
    membership = this): per event_type, a 1024-bit filter over the type's
    user set, then every (type, user) probe summarized against exact
    membership.

    Hash family is md5-derived (seeded), the filter is 32 x 32-bit words
    built with a per-(type, word) BIT_OR aggregate — O(types x 32) state,
    mergeable by OR — so the whole structure, not just its error bound, is
    oracle-checkable. The probe phase broadcasts the sketch (KB-sized at
    any corpus size). Output per type: exact members, bloom positives,
    false positives, false negatives — the last provably zero (a Bloom
    filter never forgets an inserted key; the test and oracle both assert
    the invariant end-to-end).

    At 100 TB this is the "have we seen this key" primitive for ingest
    dedup and join pre-filtering (Spark's own runtime bloom-filter join
    pushdown plays the same trick engine-side).

    Probe-universe caveat: the probe phase walks |types| × |distinct
    users| — LINEAR in the key universe, but NOT metadata-sized when
    distinct users approach corpus cardinality (a web corpus's client-IP
    column, say). ``probe_fraction=None`` (the default, and what the
    registry runs) derives the mode from the universe itself: if the
    estimated |types| × |users| exceeds BLOOM_PROBE_BUDGET the probe set
    is a deterministic md5 sample sized to the budget, so the exhaustive
    cross product is impossible to invoke at 100 TB by accident; below
    the budget (every driver/test SF) the probe stays exhaustive and the
    DuckDB oracle matches bit-for-bit. Sampling keeps the FP-rate
    estimate unbiased (uniform hash sample) and cannot break the zero-FN
    invariant — every sampled member still probes positive. In sampled
    mode every output count (exact_members included) refers to the
    SAMPLED probe universe, not the full one — the schema stays fixed
    across modes so callers compare like against like.
    """
    ev = load_table(spark, sf_dir, "events")
    if probe_fraction is None:
        est = ev.agg(
            F.approx_count_distinct("event_type").alias("t"),
            F.approx_count_distinct("user_id").alias("u"),
        ).first()
        universe = max(1, est.t * est.u)
        probe_fraction = (
            1.0 if universe <= BLOOM_PROBE_BUDGET else BLOOM_PROBE_BUDGET / universe
        )
    # No persist on `members` despite the two consumers (sketch build +
    # exact join): a (type, user) table is corpus-sized at 100 TB and a
    # pinned cache entry outlives the query (the ADVICE-r5 leak class);
    # recomputing one distinct is a map-side-combined scan, strictly
    # cheaper than spilling the cache it would have pinned.
    members = ev.select("event_type", "user_id").distinct()
    seeds = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("seed")

    def bucket(seed_col, key_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("bf"), seed_col.cast("string"),
                                           F.lit(":"), key_col.cast("string"))), 1, 8),
                16, 10,
            ).cast("bigint") % BLOOM_BITS
        )

    def word_mask(df):
        return df.withColumn(
            "word", (F.col("_b") / _BLOOM_WORD_BITS).cast("int")
        ).withColumn(
            "mask",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_b % {_BLOOM_WORD_BITS} AS INT))"),
        ).drop("_b")

    with_bits = word_mask(
        members.select("event_type", "user_id", seeds).withColumn(
            "_b", bucket(F.col("seed"), F.col("user_id"))
        )
    )
    sketch = with_bits.groupBy("event_type", "word").agg(F.bit_or("mask").alias("bits"))

    # probe the user universe against every type's filter — exhaustive by
    # default (validation mode); probe_fraction md5-samples the universe
    # deterministically for the at-scale summary
    users = ev.select("user_id").distinct()
    if not 0.0 < probe_fraction <= 1.0:
        raise ValueError(f"probe_fraction must be in (0, 1], got {probe_fraction}")
    if probe_fraction < 1.0:
        # round, and never let a tiny positive fraction truncate to an
        # empty probe set (cut=0 would vacuously satisfy the zero-FN
        # invariant while summarizing nothing)
        cut = max(1, round(probe_fraction * 10_000))
        users = users.filter(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("probe:"), F.col("user_id").cast("string"))), 1, 8),
                16, 10,
            ).cast("bigint") % 10_000
            < cut
        )
    types = ev.select("event_type").distinct()
    probes = word_mask(
        types.crossJoin(users).select("event_type", "user_id", seeds).withColumn(
            "_b", bucket(F.col("seed"), F.col("user_id"))
        )
    )
    hit = (
        probes.join(F.broadcast(sketch), ["event_type", "word"], "left")
        .withColumn(
            "bit_set",
            (F.col("bits").isNotNull())
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        )
        .groupBy("event_type", "user_id")
        .agg(F.min(F.col("bit_set").cast("int")).alias("all_bits"))
    )
    exact = members.withColumn("is_member", F.lit(1))
    return (
        hit.join(exact, ["event_type", "user_id"], "left")
        .na.fill(0, ["is_member"])
        .groupBy("event_type")
        .agg(
            F.sum("is_member").cast("bigint").alias("exact_members"),
            F.sum("all_bits").cast("bigint").alias("bloom_positives"),
            F.sum(F.when((F.col("all_bits") == 1) & (F.col("is_member") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("false_positives"),
            F.sum(F.when((F.col("all_bits") == 0) & (F.col("is_member") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("false_negatives"),
        )
    )


def bloom_membership_oracle() -> str:
    bucket = (
        "(CAST(('0x' || substr(md5('bf' || CAST(seed AS VARCHAR) || ':' "
        "|| CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % {m})"
    ).format(m=BLOOM_BITS)
    return f"""
        WITH members AS (
          SELECT DISTINCT event_type, user_id FROM events
        ),
        seeds AS (SELECT unnest(range(0, {BLOOM_K})) AS seed),
        bits AS (
          SELECT event_type, user_id,
                 CAST({bucket} // {_BLOOM_WORD_BITS} AS INT) AS word,
                 CAST(1 AS BIGINT) << CAST({bucket} % {_BLOOM_WORD_BITS} AS INT) AS mask
          FROM members CROSS JOIN seeds
        ),
        sketch AS (
          SELECT event_type, word, BIT_OR(mask) AS bword FROM bits GROUP BY 1, 2
        ),
        probes AS (
          SELECT t.event_type, u.user_id,
                 CAST({bucket} // {_BLOOM_WORD_BITS} AS INT) AS word,
                 CAST(1 AS BIGINT) << CAST({bucket} % {_BLOOM_WORD_BITS} AS INT) AS mask
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT DISTINCT user_id FROM events) u
          CROSS JOIN seeds
        ),
        hit AS (
          SELECT p.event_type, p.user_id,
                 MIN(CASE WHEN s.bword IS NOT NULL AND (s.bword & p.mask) = p.mask
                          THEN 1 ELSE 0 END) AS all_bits
          FROM probes p
          LEFT JOIN sketch s ON s.event_type = p.event_type AND s.word = p.word
          GROUP BY 1, 2
        ),
        joined AS (
          SELECT h.event_type, h.user_id, h.all_bits,
                 CASE WHEN m.user_id IS NULL THEN 0 ELSE 1 END AS is_member
          FROM hit h LEFT JOIN members m
            ON m.event_type = h.event_type AND m.user_id = h.user_id
        )
        SELECT event_type,
               CAST(SUM(is_member) AS BIGINT) AS exact_members,
               CAST(SUM(all_bits) AS BIGINT) AS bloom_positives,
               CAST(SUM(CASE WHEN all_bits = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS false_positives,
               CAST(SUM(CASE WHEN all_bits = 0 AND is_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS false_negatives
        FROM joined
        GROUP BY event_type
        ORDER BY event_type
    """


HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # bias constant for m >= 128
_HLL_VBITS = 52  # rho bits: md5 chars 3..15 = 52 bits, double-exact


def _hll_register_rho() -> tuple[Column, Column]:
    """(register, rho) of the md5-portable HLL family over ``user_id``:
    the first 8 md5 bits pick the register, rho is the leading-1-bit
    position in the next 52 bits (+1)."""
    h = F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint").alias("register")
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("bigint")
    rho = (
        F.when(v == 0, F.lit(_HLL_VBITS + 1))
        .otherwise(F.lit(_HLL_VBITS + 1) - F.length(F.bin(v)))
        .alias("rho")
    )
    return reg, rho


def _hll_estimate(regs: DataFrame) -> tuple[DataFrame, Column]:
    """Per-event_type register sums of ``regs(event_type, register,
    max_rho)`` and the HLL estimate over them, linear-counting corrected
    when E <= 2.5m and empty registers exist."""
    per = regs.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1.0)
    raw = F.lit(_HLL_ALPHA * HLL_M * HLL_M) / s
    zeros = F.lit(HLL_M) - F.col("n_present")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    return per, est


def hll_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type — the
    industry-standard counter beside KMV, built md5-portable so the whole
    sketch (registers, harmonic sum, bias/linear-counting corrections) is
    oracle-checked, not just "close". Engine-native HLLs
    (approx_count_distinct) hash incompatibly across engines; this one is
    deterministic everywhere.

    Register index = first 8 md5 bits; rho = position of the leading
    1-bit in the next 52 bits (+1), via length(bin(v)) — identical string
    semantics in Spark and DuckDB. The register table is a groupBy(type,
    register) MAX — partial-aggregated, mergeable (HLL union = elementwise
    max), O(types × 256) state at any corpus size. The harmonic sum's
    2^-rho terms span < 53 bits of exponent, so the double sum is EXACT
    and order-independent — the float reduction itself is portable.

    Corrections per the original paper: linear counting (m·ln(m/V)) when
    E ≤ 2.5m and empty registers exist; the 2^32 large-range branch is
    irrelevant at 52-bit hashes. `distinct_exact` (the expensive twin at
    100 TB) rides along so the error is visible, as in kmv.
    """
    ev = load_table(spark, sf_dir, "events")
    reg, rho = _hll_register_rho()
    regs = (
        ev.select("event_type", reg, rho)
        .groupBy("event_type", "register")
        .agg(F.max("rho").alias("max_rho"))
    )
    per_type, est = _hll_estimate(regs)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_exact")
    )
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            F.col("distinct_exact").cast("bigint").alias("distinct_exact"),
            (F.floor(est * 1e4) / 1e4).alias("hll_est"),
            (F.floor(
                F.abs(est - F.col("distinct_exact"))
                / F.col("distinct_exact") * 1e4
            ) / 1e4).alias("rel_err"),
        )
    )


def hll_distinct_estimate_oracle() -> str:
    vbits1 = _HLL_VBITS + 1
    return f"""
        WITH hashed AS (
          SELECT event_type,
                 md5('hll:' || CAST(user_id AS VARCHAR)) AS h
          FROM events
        ), parts AS (
          SELECT event_type,
                 CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS register,
                 CAST(('0x' || substr(h, 3, 13)) AS BIGINT) AS v
          FROM hashed
        ), regs AS (
          SELECT event_type, register,
                 MAX(CASE WHEN v = 0 THEN {vbits1}
                          ELSE {vbits1} - length(bin(v)) END) AS max_rho
          FROM parts GROUP BY 1, 2
        ), per_type AS (
          SELECT event_type,
                 SUM(power(2.0, -max_rho)) AS s_present,
                 COUNT(*) AS n_present
          FROM regs GROUP BY 1
        ), est AS (
          SELECT event_type,
                 CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}
                   / (s_present + ({HLL_M} - n_present) * CAST(1.0 AS DOUBLE)) AS raw,
                 {HLL_M} - n_present AS zeros
          FROM per_type
        ), corrected AS (
          SELECT event_type,
                 CASE WHEN raw <= 2.5 * {HLL_M} AND zeros > 0
                      THEN {HLL_M} * ln({HLL_M} * 1.0 / zeros)
                      ELSE raw END AS e
          FROM est
        ), exact AS (
          SELECT event_type, COUNT(DISTINCT user_id) AS distinct_exact
          FROM events GROUP BY 1
        )
        SELECT c.event_type,
               CAST(x.distinct_exact AS BIGINT) AS distinct_exact,
               FLOOR(c.e * 1e4) / 1e4 AS hll_est,
               FLOOR(abs(c.e - x.distinct_exact) / x.distinct_exact * 1e4) / 1e4
                 AS rel_err
        FROM corrected c JOIN exact x USING (event_type)
        ORDER BY c.event_type
    """


def hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY contract of the HLL sketch, stated as a query:
    build per-(event_type, day) register tables, union them with
    elementwise MAX (HLL merge), and show the merged whole-period
    estimate EQUALS the sketch built directly over the period — the
    algebraic property (max of day-partitioned maxes == global max) that
    lets a 100 TB pipeline keep daily sketches and answer any date-range
    distinct count without ever re-scanning raw data.

    Output per event_type: day count, the merged estimate, the direct
    estimate, and the equality bit (always true — asserted by the oracle,
    not just claimed by a docstring). Registers are the same md5-portable
    family as hll_distinct_estimate, so every step is hash-checked.
    """
    ev = load_table(spark, sf_dir, "events")
    reg, rho = _hll_register_rho()
    base = ev.select("event_type", F.to_date("ts").alias("day"), reg, rho)
    daily = base.groupBy("event_type", "day", "register").agg(
        F.max("rho").alias("day_rho")
    )
    merged = daily.groupBy("event_type", "register").agg(
        F.max("day_rho").alias("max_rho")
    )
    direct = base.groupBy("event_type", "register").agg(F.max("rho").alias("max_rho"))

    def estimate(regs: DataFrame, out: str) -> DataFrame:
        per, est = _hll_estimate(regs)
        return per.select("event_type", (F.floor(est * 1e4) / 1e4).alias(out))

    days = base.groupBy("event_type").agg(F.countDistinct("day").alias("n_days"))
    return (
        days.join(estimate(merged, "merged_est"), "event_type")
        .join(estimate(direct, "direct_est"), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            "merged_est",
            "direct_est",
            (F.col("merged_est") == F.col("direct_est")).alias("merge_exact"),
        )
        .orderBy("event_type")
    )


def hll_daily_merge_oracle() -> str:
    est = """
          SELECT event_type,
                 FLOOR(CASE WHEN (CAST({alpha} AS DOUBLE) * {m} * {m})
                              / (SUM(POWER(2.0, -max_rho))
                                 + ({m} - COUNT(*)) * 1.0) <= 2.5 * {m}
                             AND {m} - COUNT(*) > 0
                       THEN {m} * LN({m} * 1.0 / ({m} - COUNT(*)))
                       ELSE (CAST({alpha} AS DOUBLE) * {m} * {m})
                            / (SUM(POWER(2.0, -max_rho))
                               + ({m} - COUNT(*)) * 1.0)
                       END * 1e4) / 1e4 AS {out}
          FROM {src} GROUP BY event_type
    """
    h = "md5('hll:' || CAST(user_id AS VARCHAR))"
    base = f"""
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(('0x' || substr({h}, 1, 2)) AS BIGINT) AS register,
               CASE WHEN CAST(('0x' || substr({h}, 3, 13)) AS BIGINT) = 0
                    THEN {_HLL_VBITS + 1}
                    ELSE {_HLL_VBITS + 1}
                         - length(bin(CAST(('0x' || substr({h}, 3, 13)) AS BIGINT)))
               END AS rho
        FROM events
    """
    kw = dict(alpha=_HLL_ALPHA, m=HLL_M)
    return f"""
        WITH base AS ({base}),
        daily AS (
          SELECT event_type, day, register, MAX(rho) AS day_rho
          FROM base GROUP BY event_type, day, register
        ),
        merged AS (
          SELECT event_type, register, MAX(day_rho) AS max_rho
          FROM daily GROUP BY event_type, register
        ),
        direct AS (
          SELECT event_type, register, MAX(rho) AS max_rho
          FROM base GROUP BY event_type, register
        ),
        m_est AS ({est.format(src="merged", out="merged_est", **kw)}),
        d_est AS ({est.format(src="direct", out="direct_est", **kw)}),
        days AS (
          SELECT event_type, COUNT(DISTINCT day) AS n_days
          FROM base GROUP BY event_type
        )
        SELECT days.event_type,
               CAST(n_days AS BIGINT) AS n_days,
               merged_est, direct_est,
               merged_est = direct_est AS merge_exact
        FROM days
        JOIN m_est ON m_est.event_type = days.event_type
        JOIN d_est ON d_est.event_type = days.event_type
        ORDER BY days.event_type
    """
