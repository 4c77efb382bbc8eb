"""Property-based tests (hypothesis) for the engine's exactness claims.

The jaccard prefix filter (AllPairs/PPJoin) claims LOSSLESS recall at the
threshold for ANY corpus — including adversarial ones with tiny shared
vocabularies where every doc shares shingles with every other. Hypothesis
drives exactly those corpora at the naive-oracle scale where brute force is
feasible.
"""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import types as T

from etl_schema_spark.operators.dedup import JACCARD_TAU, dedup_ngram_jaccard
from etl_schema_spark.operators.distributed import MANTISSA_BITS
from etl_schema_spark.schemas.evolution import (
    diff_schemas,
    evolve_schema,
    reconcile_to_schema,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=10),
    min_size=2,
    max_size=10,
)


def _naive_jaccard_pairs(token_docs: list[list[str]], tau: float) -> dict:
    def shingles(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    sh = [shingles(t) for t in token_docs]
    out = {}
    for a in range(len(sh)):
        for b in range(a + 1, len(sh)):
            if not sh[a] or not sh[b]:
                continue
            common = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and common / union >= tau:
                out[(a, b)] = common
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(token_docs=docs_strategy)
def test_prefix_filter_jaccard_is_exact(spark, tmp_path_factory, token_docs):
    """Prefix-filtered set-similarity join == brute-force all-pairs Jaccard
    on adversarial small-vocabulary corpora."""
    rows = [
        (i, " ".join(toks), "en", "hyp", len(" ".join(toks)))
        for i, toks in enumerate(token_docs)
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    d = tmp_path_factory.mktemp("hyp_docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )

    got = {
        (r.doc_a, r.doc_b): r.common
        for r in dedup_ngram_jaccard(spark, str(d)).collect()
    }
    want = _naive_jaccard_pairs(token_docs, JACCARD_TAU)
    assert got == want


# --- schema evolution algebra --------------------------------------------

_atomic = st.sampled_from(
    [T.IntegerType(), T.LongType(), T.StringType(), T.DoubleType(), T.BooleanType()]
)
_names = st.sampled_from(list("abcdefgh"))


@st.composite
def struct_types(draw, depth=1):
    n = draw(st.integers(min_value=1, max_value=4))
    names = draw(
        st.lists(_names, min_size=n, max_size=n, unique=True)
    )
    fields = []
    for name in names:
        if depth > 0 and draw(st.booleans()):
            dt = draw(struct_types(depth=depth - 1))
        else:
            dt = draw(_atomic)
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)


@settings(max_examples=60, deadline=None)
@given(s=struct_types())
def test_evolve_idempotent(s):
    assert evolve_schema(s, s) == s
    d = diff_schemas(s, s)
    assert d == {"added": [], "removed": [], "retyped": []}


@settings(max_examples=60, deadline=None)
@given(base=struct_types(), inc=struct_types())
def test_evolve_is_additive_superset(base, inc):
    """Every base field survives with its type; every incoming field name
    exists in the merged schema."""
    merged = evolve_schema(base, inc)
    merged_map = {f.name: f for f in merged.fields}
    for f in base.fields:
        assert f.name in merged_map
        if not isinstance(f.dataType, T.StructType):
            assert merged_map[f.name].dataType == f.dataType  # never retyped
    for f in inc.fields:
        assert f.name in merged_map
    # evolution is monotone: evolving again with the same incoming is stable
    assert evolve_schema(merged, inc) == merged


@pytest.mark.parametrize("seed", range(1))
def test_reconcile_projects_onto_target(spark, seed):
    df = spark.createDataFrame([(1, "x", 2.5)], "a int, b string, extra double")
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),  # widened
            T.StructField("b", T.StringType()),
            T.StructField("missing", T.StringType()),  # new
        ]
    )
    out = reconcile_to_schema(df, target)
    assert out.schema == target
    row = out.collect()[0]
    assert (row.a, row.b, row.missing) == (1, "x", None)


# --- z-order key algebra ---------------------------------------------------

_coords = st.integers(min_value=0, max_value=(1 << 8) - 1)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=st.lists(st.tuples(_coords, _coords), min_size=2, max_size=30, unique=True))
def test_zorder_key_is_injective(spark, points):
    """Distinct (a, b) grid points must map to distinct Morton keys — the
    curve is a bijection on the grid, which is what makes range
    partitioning on it a valid clustering."""
    from pyspark.sql import functions as F

    from etl_schema_spark.sinks import zorder_key

    df = spark.createDataFrame(points, "a int, b int")
    keys = [
        r.z
        for r in df.select(zorder_key([F.col("a"), F.col("b")], bits=8).alias("z")).collect()
    ]
    assert len(set(keys)) == len(points)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.dictionaries(
        st.tuples(st.sampled_from(["2024-01-01", "2024-01-02"]), st.sampled_from("abcd")),
        st.integers(min_value=0, max_value=99),
        min_size=1,
        max_size=8,
    ),
    upd=st.dictionaries(
        st.tuples(st.sampled_from(["2024-01-01", "2024-01-02"]), st.sampled_from("abcd")),
        st.integers(min_value=100, max_value=199),
        min_size=1,
        max_size=8,
    ),
)
def test_merge_upsert_is_lww_map_union(spark, tmp_path_factory, base, upd):
    """merge_upsert_batch == dict-update semantics: target state is exactly
    base | upd (last write wins per key), for ANY base/update key sets —
    and replaying the update batch changes nothing."""
    from pyspark.sql import functions as F

    from etl_schema_spark.streaming import merge_upsert_batch

    target = str(tmp_path_factory.mktemp("lww") / "t")

    def df_of(m):
        return spark.createDataFrame(
            [(d, k, v) for (d, k), v in m.items()], "date string, k string, n int"
        ).withColumn("date", F.to_date("date"))

    merge_upsert_batch(df_of(base), target, ["date", "k"])
    merge_upsert_batch(df_of(upd), target, ["date", "k"])
    merge_upsert_batch(df_of(upd), target, ["date", "k"])  # replay
    got = {
        (str(r.date), r.k): r.n for r in spark.read.parquet(target).collect()
    }
    assert got == {**base, **upd}


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=20_000), # lo (seconds)
        st.integers(min_value=0, max_value=3_600),  # width <= bucket
    ),
    min_size=1,
    max_size=12,
)
points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=25_000),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(intervals=intervals_strategy, points=points_strategy)
def test_interval_point_join_matches_bruteforce(spark, intervals, points):
    """The bucketed range join equals the naive all-pairs filter for ANY
    interval/point placement, as long as width <= bucket size — including
    boundary-straddling intervals and points exactly on lo/hi."""
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.rangejoin import interval_point_join

    iv_rows = [
        (i, k, lo, lo + w) for i, (k, lo, w) in enumerate(intervals)
    ]
    pt_rows = [(j, k, ts) for j, (k, ts) in enumerate(points)]
    expect = {
        (i, j)
        for i, k, lo, hi in iv_rows
        for j, pk, ts in pt_rows
        if pk == k and lo < ts <= hi
    }
    iv = spark.createDataFrame(
        iv_rows, "iv_id int, k int, lo_s long, hi_s long"
    ).select(
        "iv_id", "k",
        F.col("lo_s").cast("timestamp").alias("lo"),
        F.col("hi_s").cast("timestamp").alias("hi"),
    )
    pt = spark.createDataFrame(pt_rows, "pt_id int, k int, ts_s long").select(
        "pt_id", "k", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (r["iv_id"], r["pt_id"])
        for r in interval_point_join(iv, pt, on="k", bucket_seconds=3600).collect()
    }
    assert got == expect


# --- distributed two-phase rank/running-sum vs the window oracle ---------

runsum_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "hot"]),       # group (one deliberately hot)
        st.integers(min_value=0, max_value=5000), # order key (dups allowed)
        st.integers(min_value=-5, max_value=5),   # value
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=runsum_strategy)
def test_grouped_running_sum_equals_window(spark, rows):
    """The chunked + broadcast-offset running sum must equal the
    single-task window formulation for ANY group skew — including all
    rows in one hot group.
    (Order keys are de-duplicated per group: the helper's contract.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.distributed import grouped_running_sum

    seen = set()
    uniq = []
    for g, o, v in rows:
        if (g, o) not in seen:
            seen.add((g, o))
            uniq.append((g, o, v))
    df = spark.createDataFrame(uniq, "g string, o int, v int")
    got = {
        (r.g, r.o): r.cum
        for r in grouped_running_sum(df, "g", "o", "v", "cum").collect()
    }
    w = Window.partitionBy("g").orderBy("o").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.g, r.o): r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


# --- chunk id: monotone in the order key's Spark sort order -----------------

_F64_EDGES = [
    0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1.0, 2.0, 3.0,
    1.7976931348623157e308, -1.7976931348623157e308,
    float("inf"), float("-inf"), float("nan"),
]
_EXACT = 2 << MANTISSA_BITS  # integer leads below this bin exactly
_I64_EDGES = [-(2**63), 2**63 - 1, -1, 0, 1, _EXACT - 1, _EXACT, _EXACT + 1, -_EXACT]
chunk_rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(_F64_EDGES), st.floats()),
        # heavy integer ties next to the full Long range
        st.one_of(
            st.none(),
            st.sampled_from([1, 2, 3]),
            st.sampled_from(_I64_EDGES),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    ),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=chunk_rows_strategy)
def test_chunk_id_monotone(spark, rows):
    """distributed.chunk_id must be nondecreasing along Spark's own sort
    order of the key — across +-0, subnormals, +-inf, NaN, Long min/max,
    NULL (first ascending) and heavy integer ties split by the next
    field — or the two-phase offsets would be added to the wrong rows."""
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.distributed import chunk_id

    df = spark.createDataFrame(rows, "d double, l long, i long")
    for key in (F.col("d"), F.col("l"), F.struct("l", "i"), F.struct("d", "i")):
        keyed = df.withColumn("k", key)
        bins = [
            r.b
            for r in keyed.select("k", chunk_id(keyed, "k").alias("b"))
            .orderBy("k")
            .collect()
        ]
        assert bins == sorted(bins), (key, rows)


# --- interval-coverage island sweep vs brute-force union -----------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),     # user
        st.integers(min_value=0, max_value=2000),  # offset seconds (dups ok)
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=events_strategy)
def test_interval_sweep_equals_bruteforce_union(spark, rows):
    """The running-max island sweep must produce exactly the brute-force
    interval union for ANY overlap pattern — nested intervals, exact
    duplicates, chains, and disjoint islands."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_schema_spark.operators.sessions import INTERVAL_WIDTH_US

    width_s = INTERVAL_WIDTH_US // 1_000_000
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, base + datetime.timedelta(seconds=o)) for u, o in rows],
        "user_id long, ts timestamp",
    )
    # replicate the operator's core on this frame (operator itself is
    # bound to the events table; the sweep logic is identical)
    ev = df.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + INTERVAL_WIDTH_US).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    opens = F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    got = {
        r.user_id: (r.n_islands, r.covered)
        for r in ev.withColumn("open", opens)
        .withColumn("island", F.sum("open").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "island")
        .agg(F.min("s").alias("a"), F.max("e").alias("b"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("b") - F.col("a")).alias("covered"),
        )
        .collect()
    }

    by_user: dict = {}
    for u, o in rows:
        by_user.setdefault(u, []).append(o)
    for u, offs in by_user.items():
        covered = set()
        for o in offs:
            covered.update(range(o, o + width_s))
        # islands = maximal runs of consecutive covered seconds
        n_islands = sum(1 for s in covered if s - 1 not in covered)
        assert got[u] == (n_islands, len(covered) * 1_000_000), u


# --- winnowing fingerprint vs brute force --------------------------------

texts_strategy = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=40),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=texts_strategy)
def test_winnowing_matches_bruteforce(spark, tmp_path_factory, texts):
    """The slice-shifted window-min selection must equal brute-force MOSS
    winnowing (same md5 family) for ANY text, including texts shorter
    than one k-gram or one window."""
    import hashlib

    from etl_schema_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprint,
    )

    d = tmp_path_factory.mktemp("win")
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {
        r.doc_id: (r.n_windows, r.n_fingerprints, r.min_fp)
        for r in winnowing_fingerprint(spark, str(d)).collect()
    }
    for i, t in enumerate(texts):
        hashes = [
            hashlib.md5(t[p : p + WINNOW_K].encode()).hexdigest()
            for p in range(len(t) - WINNOW_K + 1)
        ]
        n_windows = max(len(hashes) - WINNOW_W + 1, 0)
        fps = sorted({min(hashes[p : p + WINNOW_W]) for p in range(n_windows)})
        want = (n_windows, len(fps), fps[0] if fps else None)
        assert got[i] == want, (i, t, got[i], want)


# --- concurrency peak sweep vs brute force -------------------------------

conc_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),
        st.integers(min_value=0, max_value=900),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=conc_strategy)
def test_concurrency_peak_matches_bruteforce(spark, tmp_path_factory, rows):
    """The ±1 sweep's (peak, first instant) must equal the brute-force
    count-of-covering-intervals maximum for ANY overlap pattern,
    including exact-duplicate timestamps and touch-adjacent intervals."""
    import datetime

    from etl_schema_spark.operators.sessions import (
        INTERVAL_WIDTH_US,
        concurrency_peak,
    )

    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("conc")
    spark.createDataFrame(
        [
            (i, base + datetime.timedelta(seconds=o), u, "click", 1.0, "{}")
            for i, (u, o) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    got = {
        r.user_id: (r.peak_overlap, r.t_first_peak_micros)
        for r in concurrency_peak(spark, str(d)).collect()
    }
    width_s = INTERVAL_WIDTH_US // 1_000_000
    by_user: dict = {}
    for u, o in rows:
        by_user.setdefault(u, []).append(o)
    base_us = int(base.timestamp()) * 1_000_000
    for u, offs in by_user.items():
        # peak is attained at some interval start; half-open [s, s+w)
        def depth(t):
            return sum(1 for o in offs if o <= t < o + width_s)

        peak = max(depth(o) for o in offs)
        first = min(o for o in offs if depth(o) == peak)
        assert got[u] == (peak, base_us + first * 1_000_000), (u, offs, got[u])


# --- integer pagerank vs pure-python recurrence --------------------------


def test_dup_pagerank_matches_python_recurrence(spark, sf_dir):
    """The DataFrame power iteration must equal the same integer
    recurrence executed in pure Python over the collected edge set —
    iteration order and partitioning must not leak into the result."""
    from etl_schema_spark.operators.dedup import dedup_ngram_jaccard
    from etl_schema_spark.operators.graph import PR_ROUNDS, PR_SCALE, dup_pagerank

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    edges: dict = {}
    for a, b in pairs:
        edges.setdefault(a, []).append(b)
        edges.setdefault(b, []).append(a)
    rank = {v: PR_SCALE for v in edges}
    base = PR_SCALE * 15 // 100
    for _ in range(PR_ROUNDS):
        nxt = {}
        for v, nbrs in edges.items():
            s = sum(rank[u] // len(edges[u]) for u in nbrs)
            nxt[v] = base + (85 * s) // 100
        rank = nxt
    got = {r.doc_id: (r.degree, r.rank_scaled) for r in dup_pagerank(spark, sf_dir).collect()}
    want = {v: (len(nbrs), rank[v]) for v, nbrs in edges.items()}
    assert got == want


# --- nearest as-of vs brute force ----------------------------------------

asof_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # 0 = click, 1 = purchase
        st.integers(min_value=0, max_value=500),
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=asof_strategy)
def test_asof_nearest_matches_bruteforce(spark, tmp_path_factory, rows):
    """nearest = argmin |gap| over ALL clicks with backward tie-break —
    the window formulation must agree with the quadratic definition for
    ANY interleaving, including same-timestamp clicks and purchases."""
    import datetime

    from etl_schema_spark.operators.asof import asof_nearest

    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("asof")
    spark.createDataFrame(
        [
            (
                i,
                base + datetime.timedelta(seconds=o),
                1,
                "purchase" if k else "click",
                1.0,
                "{}",
            )
            for i, (k, o) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    clicks = sorted(o for k, o in rows if not k)
    got = {
        r.event_id: (r.gap_micros, r.direction)
        for r in asof_nearest(spark, str(d)).collect()
    }
    for i, (k, o) in enumerate(rows):
        if not k:
            continue
        if not clicks:
            assert got[i] == (None, None)
            continue
        # backward = greatest click <= o; forward = least click > o
        back = max((c for c in clicks if c <= o), default=None)
        fwd = min((c for c in clicks if c > o), default=None)
        if back is not None and (fwd is None or o - back <= fwd - o):
            want = ((o - back) * 1_000_000, "backward")
        else:
            want = ((o - fwd) * 1_000_000, "forward")
        assert got[i] == want, (i, o, clicks, got[i], want)


# --- containment pairs vs brute force ------------------------------------

cont_docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(token_docs=cont_docs_strategy)
def test_containment_matches_bruteforce(spark, tmp_path_factory, token_docs):
    """The df-capped candidate path must report exactly the brute-force
    containment pairs whenever the shared shingles are rare (df under the
    cap — true for these tiny corpora), including the >= 2-shared-rare
    candidate precondition."""
    from etl_schema_spark.operators.dedup import (
        CONT_DF_CAP,
        CONT_MIN_RARE_SHARED,
        CONT_TAU_PPM,
        containment_dup,
    )

    d = tmp_path_factory.mktemp("cont")
    texts = [" ".join(t) for t in token_docs]
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def shingles(toks):
        return (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else set()
        )

    sh = [shingles(t) for t in token_docs]
    df_count: dict = {}
    for s in sh:
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    want = {}
    for a in range(len(sh)):
        for b in range(a + 1, len(sh)):
            if not sh[a] or not sh[b]:
                continue
            shared = sh[a] & sh[b]
            rare_shared = sum(1 for g in shared if df_count[g] <= CONT_DF_CAP)
            if rare_shared < CONT_MIN_RARE_SHARED:
                continue
            ppm = len(shared) * 1_000_000 // min(len(sh[a]), len(sh[b]))
            if ppm >= CONT_TAU_PPM:
                want[(a, b)] = (len(sh[a]), len(sh[b]), len(shared), ppm)
    got = {
        (r.doc_a, r.doc_b): (r.size_a, r.size_b, r.n_shared, r.containment_ppm)
        for r in containment_dup(spark, str(d)).collect()
    }
    assert got == want, (texts, got, want)


# --- SCD2 runs vs brute force --------------------------------------------

scd2_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # type index
        st.integers(min_value=0, max_value=100),  # unique offset enforced below
    ),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[1],
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=scd2_strategy)
def test_scd2_matches_bruteforce_runs(spark, tmp_path_factory, rows):
    """Version rows must equal the brute-force run-length encoding of the
    time-ordered type sequence for ANY change pattern."""
    import datetime

    from etl_schema_spark.operators.analytics import scd2_history

    types = ["click", "purchase", "view"]
    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("scd2")
    spark.createDataFrame(
        [
            (i, base + datetime.timedelta(seconds=o), 7, types[k], 1.0, "{}")
            for i, (k, o) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    seq = [types[k] for k, o in sorted(rows, key=lambda t: t[1])]
    runs = []
    for t in seq:
        if runs and runs[-1][0] == t:
            runs[-1][1] += 1
        else:
            runs.append([t, 1])
    got = [
        (r.version, r.event_type, r.n_events, r.is_current)
        for r in scd2_history(spark, str(d)).collect()
    ]
    want = [
        (v + 1, t, n, v == len(runs) - 1) for v, (t, n) in enumerate(runs)
    ]
    assert got == want, (seq, got, want)


# --- wave-5 value-domain guards vs brute force ---------------------------
#
# tail_latency_percentiles and gapfill_locf bound their measurable domain
# to finite |value| < 1e12 (the DECIMAL(18,6) exact-sum range): NULL, NaN,
# +/-Inf, and decimal-range-exceeding finite values must leave the rank /
# mean domain identically on both engines. Hypothesis drives corpora where
# those corrupt rows land on every boundary (ties, single-row types,
# all-corrupt hours).

_VAL = st.one_of(
    st.none(),
    st.sampled_from(
        [float("nan"), float("inf"), float("-inf"), 9.9e12, -9.9e12, 1e300]
    ),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
)

tail_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=2), _VAL),
    min_size=1,
    max_size=30,
)


def _in_domain(v) -> bool:
    import math

    return v is not None and math.isfinite(v) and abs(v) < 1e12


def _trunc6_py(v: float) -> float:
    import math

    return math.floor(v * 1e6) / 1e6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=tail_strategy)
def test_tail_percentiles_match_bruteforce_with_corrupt_values(
    spark, tmp_path_factory, rows
):
    import datetime
    import math

    from etl_schema_spark.operators.analytics import (
        TAIL_PCTS,
        tail_latency_percentiles,
    )

    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("tailp")
    spark.createDataFrame(
        [
            (i, base + datetime.timedelta(minutes=i), 1, f"t{t}", v, None)
            for i, (t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    got = {
        (r.event_type, r.pct): (r.n, r.value_at_pct)
        for r in tail_latency_percentiles(spark, str(d)).collect()
    }

    want = {}
    for t in {t for t, _ in rows}:
        dom = sorted(
            (v, i) for i, (tt, v) in enumerate(rows) if tt == t and _in_domain(v)
        )
        n = len(dom)
        if n == 0:
            continue
        for p in TAIL_PCTS:
            target = math.ceil(p / 100.0 * n)
            want[(f"t{t}", p)] = (n, _trunc6_py(dom[target - 1][0]))
    assert got == want, (rows, got, want)


gapfill_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),
        st.integers(min_value=0, max_value=5),
        _VAL,
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=gapfill_strategy)
def test_gapfill_locf_matches_bruteforce_with_corrupt_values(
    spark, tmp_path_factory, rows
):
    import datetime
    import math
    from fractions import Fraction

    from etl_schema_spark.operators.analytics import gapfill_locf

    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("gapf")
    spark.createDataFrame(
        [
            (i, base + datetime.timedelta(hours=h, minutes=i % 60), 1, f"t{t}", v, None)
            for i, (t, h, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    got = {
        (r.event_type, r.hour): (r.n_events, r.value_locf, r.is_gap)
        for r in gapfill_locf(spark, str(d)).collect()
    }

    # brute force: degrade out-of-domain values to None, exact decimal
    # mean per (type, hour) via Fraction, spine over the full observed
    # hour range per type, LOCF of the last non-None mean
    lo, hi = min(h for _, h, _ in rows), max(h for _, h, _ in rows)
    want = {}
    for t in {t for t, _, _ in rows}:
        last = None
        for h in range(lo, hi + 1):
            grp = [v for tt, hh, v in rows if tt == t and hh == h]
            hour = base + datetime.timedelta(hours=h)
            if not grp:
                want[(f"t{t}", hour)] = (0, _trunc6_py(last) if last is not None else None, True)
                continue
            dom = [v for v in grp if _in_domain(v)]
            if dom:
                sfrac = sum(Fraction(math.floor(v * 1e6), 10**6) for v in dom)
                last = float(sfrac) / len(grp)
            want[(f"t{t}", hour)] = (
                len(grp),
                _trunc6_py(last) if last is not None else None,
                False,
            )
    assert got == want, (rows, got, want)


# ---------------------------------------------------------------------------
# wave-7 oracle math: byte-true hex extraction and char-true word stats
# ---------------------------------------------------------------------------

# non-ASCII-heavy alphabet, pre-lowered and caseless so the property
# isolates the bytes-vs-characters semantics (case folding is wave-8's
# separately-documented divergence, excluded here by construction)
_W7_ALPHABET = "abcz0189 éüñß你好引擎🚀🔥\t\n"


@settings(max_examples=120, deadline=None)
@given(
    text=st.text(alphabet=_W7_ALPHABET, min_size=1, max_size=40),
    idx=st.integers(min_value=0, max_value=39),
)
def test_hexbyte_oracle_math_matches_python_bytes(text, idx):
    """_hexbyte_sql (the DuckDB byte-extraction used by the
    multimodal_meta / frame_sample oracles) must return exactly
    text.encode('utf-8')[i] for ANY unicode text — the property that
    makes those oracles byte-true on multibyte payloads."""
    import duckdb

    from etl_schema_spark.operators.multimodal import _hexbyte_sql

    raw = text.encode("utf-8")
    i = idx % len(raw)
    expr = _hexbyte_sql("h", str(2 * i + 1))
    got = (
        duckdb.connect()
        .execute(f"SELECT {expr} FROM (SELECT hex(encode(?)) AS h)", [text])
        .fetchone()[0]
    )
    assert got == raw[i], (text, i, raw[i], got)


@settings(max_examples=80, deadline=None)
@given(text=st.text(alphabet=_W7_ALPHABET, min_size=0, max_size=60))
def test_gopher_oracle_counts_characters_not_bytes(text):
    """The gopher oracle's mean word length and symbol ratio must count
    CHARACTERS (matching Spark F.length), never UTF-8 bytes — pinned
    against a python-exact twin over a multibyte alphabet."""
    import math
    import re

    import duckdb

    words = [w for w in re.split(r"\s+", text) if w != ""]
    mean_wl = (sum(len(w) for w in words) / len(words)) if words else 0.0
    n_sym = len(re.sub(r"[a-z0-9\s]", "", text))
    sym_ratio = (n_sym / len(text)) if len(text) > 0 else 0.0

    words_sql = "list_filter(string_split_regex(t, '\\s+'), w -> w <> '')"
    got_wl, got_sr = (
        duckdb.connect()
        .execute(
            f"""
            SELECT CASE WHEN len({words_sql}) > 0 THEN
                     list_sum([CAST(length(w) AS DOUBLE) for w in {words_sql}])
                       / len({words_sql})
                   ELSE 0.0 END,
                   CASE WHEN length(t) > 0 THEN
                     length(regexp_replace(t, '[a-z0-9\\s]', '', 'g')) * 1.0
                       / length(t)
                   ELSE 0.0 END
            FROM (SELECT ? AS t)
            """,
            [text],
        )
        .fetchone()
    )
    assert math.isclose(got_wl, mean_wl, rel_tol=0, abs_tol=1e-12), (text, got_wl, mean_wl)
    assert math.isclose(got_sr, sym_ratio, rel_tol=0, abs_tol=1e-12), (text, got_sr, sym_ratio)
