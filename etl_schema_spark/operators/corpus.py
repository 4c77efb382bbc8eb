"""Corpus-level pipeline operators (SURVEY §2C extension): JSON property
extraction, deterministic stratified sampling, Zipf term statistics,
per-label embedding centroids, and canonical-representative selection.

These round out the LLM-training-data pipeline surface: the reference's
schema layer is deeply nested JSON (schema/ndt.json), so `json_extract_props`
models its parse path with Spark's JVM-side JSON path extraction; sampling /
Zipf / centroid / canonical-pick are the standard corpus-curation stages
between dedup and training.

Determinism contracts (oracle hash-matches at any SF):
  - sampling uses md5-derived integers (engine-portable), never rand()
  - float reductions go through floor-truncated 6-dp decimals so the sum is
    exact and order-independent (a double sum over a 32-way shuffle is not)
Scale notes: every operator is one narrow groupBy (partial-aggregated) or a
pure projection; the centroid shuffle carries (label, dim) keys — 64·|labels|
groups — so the reduce side is trivially small at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import cpu_parallel, load_table
from .contracts import _trunc6
from .distributed import grouped_running_sum
from .similarity import finite_scan, load_vectors


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON payload and aggregate the extracted field.

    Parity: schema/ndt.json — the reference's tables are deep JSON records;
    BigQuery parses them at load. Spark's get_json_object is JVM-side
    (Jackson under codegen), no Python boundary; at 100 TB the parse cost is
    scan-parallel and the aggregate is partial before its single shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    # Value-domain contract (ADVICE r6): a VALID-JSON row whose k is not
    # an INTEGRAL number ({"k":"x"}, {"k":12.5}) degrades to NULL like
    # malformed JSON does — a bare ANSI cast aborts the whole job on one
    # such row. The integral regex is load-bearing for parity: Spark's
    # try_cast('12.5' as bigint) is NULL where DuckDB's TRY_CAST *rounds*
    # to 13, so both engines gate on ^-?\d+$ before the cast; try_cast
    # still guards bigint overflow past the regex.
    k_str = F.get_json_object(F.col("props"), "$.k")
    k = F.when(k_str.rlike(r"^-?\d+$"), k_str).try_cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("n_high"),
        )
        .orderBy("event_type")
    )


def json_extract_props_oracle() -> str:
    # try_cast(... AS JSON): malformed props must degrade to NULL exactly
    # like Spark's get_json_object — bare json_extract_string ERRORS on
    # invalid JSON and would crash the oracle on one bad row
    # (tools/fuzz_edge_docs.py wave 3). Non-integral k degrades to NULL
    # behind the same ^-?\d+$ gate as the Spark side — DuckDB's TRY_CAST
    # ROUNDS '12.5' to 13 where Spark's try_cast yields NULL (ADVICE r6).
    k_raw = "json_extract_string(try_cast(props AS JSON), '$.k')"
    k = (
        f"TRY_CAST(CASE WHEN regexp_matches({k_raw}, '^-?\\d+$')"
        f" THEN {k_raw} END AS BIGINT)"
    )
    return f"""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM({k}) AS BIGINT) AS sum_k,
               MIN({k}) AS min_k,
               MAX({k}) AS max_k,
               CAST(SUM(CASE WHEN {k} >= 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """


def stratified_sample(spark: SparkSession, sf_dir: str, pct: int = 30) -> DataFrame:
    """Deterministic ~pct% per-source stratified sample of documents.

    The keep-decision is md5(doc_id)-derived — reproducible across engines,
    runs, and cluster sizes (rand()-based sampling is none of those). This is
    the standard held-out / decontamination split for a training corpus;
    at 100 TB it is a pure scan-side filter with zero shuffle before the
    per-stratum audit counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substring(md5(concat('smp', cast(doc_id as string))), 1, 2), 16, 10)"
        " as int)"
    )
    kept = docs.withColumn("_b", bucket).filter(F.col("_b") * 100 < pct * 256)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def stratified_sample_oracle(pct: int = 30) -> str:
    nib1 = "(instr('0123456789abcdef', substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)"
    nib2 = "(instr('0123456789abcdef', substr(md5('smp' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
    return f"""
        SELECT source,
               COUNT(*) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS chars_sampled,
               MIN(doc_id) AS first_doc
        FROM documents
        WHERE ({nib1} * 16 + {nib2}) * 100 < {pct} * 256
        GROUP BY source
        ORDER BY source
    """


def zipf_term_stats(spark: SparkSession, sf_dir: str, top_k: int = 30) -> DataFrame:
    """Corpus Zipf profile: top-k terms by frequency with rank and cumulative
    share — the standard vocabulary-health check before tokenizer training.

    One explode → one partial-aggregated groupBy(term) → a k-row window.
    The cumulative share is computed over exact integer counts; only the
    final ratio becomes (truncated) double.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("text"))
    terms = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("term")).filter(
        F.col("term") != ""
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    # TakeOrdered top-k first (distributed per-partition top-k + merge),
    # then rank the k survivors — a global row_number window before the
    # cut would single-reducer-sort the whole vocabulary table
    w = Window.orderBy(F.desc("cnt"), F.col("term"))
    ranked = (
        counts.orderBy(F.desc("cnt"), F.col("term"))
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
    )
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        "term",
        "cnt",
        "rank",
        _trunc6(F.sum("cnt").over(cum) / F.col("_total")).alias("cum_share"),
    ).orderBy("rank")


def zipf_term_stats_oracle(top_k: int = 30) -> str:
    return rf"""
        WITH terms AS (
          SELECT unnest(string_split_regex(text, '\s+')) AS term FROM documents
        ),
        counts AS (
          SELECT term, COUNT(*) AS cnt FROM terms WHERE term <> '' GROUP BY term
        ),
        ranked AS (
          SELECT term, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
          FROM counts
        )
        SELECT term, cnt, rank,
               FLOOR(SUM(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) * 1.0
                     / (SELECT SUM(cnt) FROM counts) * 1e6) / 1e6 AS cum_share
        FROM ranked
        WHERE rank <= {top_k}
        ORDER BY rank
    """


def centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (mean pooling), dimension-exploded.

    Each float is truncated to 6 dp and summed as DECIMAL, so the per-group
    sum is exact and order-independent — the result is bit-identical no
    matter how the shuffle distributes rows (and matches the oracle). The
    shuffle key is (label, dim): 64·|labels| groups, trivially small at any
    corpus size; the map side partial-aggregates the full fact.
    """
    # finite-vector domain (fuzz wave 4): one Inf component would overflow
    # the DECIMAL(18,6) exact pooling and kill the job under ANSI mode
    emb = load_vectors(spark, sf_dir)
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        _trunc6(F.col("val").cast("double")).cast("decimal(18,6)").alias("v"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.sum("v").alias("_sum"), F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "label",
            "dim",
            "n_vecs",
            _trunc6(F.col("_sum").cast("double") / F.col("n_vecs")).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


def centroid_per_label_oracle() -> str:
    return finite_scan("""
        WITH exploded AS (
          SELECT label,
                 generate_subscripts(embedding, 1) AS dim,
                 unnest(embedding) AS val
          FROM embeddings
        )
        SELECT label,
               dim,
               COUNT(*) AS n_vecs,
               FLOOR(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e6) / 1e6
                                   AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*) * 1e6) / 1e6 AS centroid
        FROM exploded
        GROUP BY label, dim
        ORDER BY label, dim
    """)


def canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: group documents by exact content
    hash and keep the best representative (longest, then lowest doc_id).

    This is the keep-side complement of dedup_exact — the stage that decides
    *which* duplicate survives into the training set. One window over the
    content-hash partition; the md5 key distributes uniformly so the shuffle
    cannot skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_key").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return (
        docs.withColumn("content_key", F.md5(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("content_key")))
        .filter(F.col("rn") == 1)
        .select("content_key", F.col("doc_id").alias("kept_doc"), "n_members", "n_chars")
        .orderBy("content_key")
    )


def canonical_pick_oracle() -> str:
    return """
        WITH keyed AS (
          SELECT md5(text) AS content_key, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY md5(text)
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY md5(text)) AS n_members
          FROM documents
        )
        SELECT content_key, doc_id AS kept_doc, n_members, n_chars
        FROM keyed WHERE rn = 1
        ORDER BY content_key
    """


# (the r12/r13 EPOCH_SHUFFLE_PARTITIONS range-split constant is gone —
# r14 chunks epoch_shuffle by deterministic hex-prefix buckets sized from
# the session's shuffle partitions; see the function body)


def epoch_shuffle(spark: SparkSession, sf_dir: str, seed: str = "epoch0") -> DataFrame:
    """Deterministic epoch shuffle: a reproducible global permutation of the
    corpus (position 1..n) keyed by md5(seed || doc_id) — the
    training-order randomization step every data loader needs, seedable per
    epoch and identical on any engine.

    The scale point is the *rank*, not the sort: a global ROW_NUMBER is a
    single-partition window — the one shape that cannot scale. Here the
    permutation rank is computed distributed: chunk by the shuffle key's
    hex prefix (an order-preserving bucket), count rows per chunk (a
    metadata-sized aggregate), turn counts into cumulative offsets, and
    add the within-chunk rank — position = offset + local rank, exactly
    the global rank because chunks are ordered and md5 keys are unique.
    No stage ever holds more than one chunk's rows; the offset table is
    |chunks| rows, broadcast.

    At 100 TB, writing the result back partitioned by `position div
    block_size` yields the shuffled shards a data loader streams
    sequentially — randomness paid once at prep time, not at read time.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = docs.withColumn(
        "shuffle_key", F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    )
    # The chunk id is a PURE FUNCTION of the md5 key (distributed.chunk_id
    # — monotone in shuffle_key, uniform by construction), so the offset
    # aggregate and the rank join compute the identical chunk assignment
    # under any re-execution or partition recompute. The rank join's hash
    # exchange is the only full-data shuffle and AQE sizes it adaptively.
    from .distributed import chunk_id

    sorted_df = keyed.withColumn("_pid", chunk_id(keyed, "shuffle_key"))
    counts = sorted_df.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset")
    )
    w_local = Window.partitionBy("_pid").orderBy("shuffle_key")
    return (
        sorted_df.join(F.broadcast(offsets), "_pid")
        .select(
            (F.col("_offset") + F.row_number().over(w_local)).alias("position"),
            "doc_id",
            "source",
            "shuffle_key",
        )
    )


def epoch_shuffle_oracle(seed: str = "epoch0") -> str:
    return f"""
        SELECT ROW_NUMBER() OVER (ORDER BY md5('{seed}:' || CAST(doc_id AS VARCHAR)))
                 AS position,
               doc_id,
               source,
               md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents
        ORDER BY position
    """


SOURCE_BUDGET_CHARS = 5_000


def source_token_budget(
    spark: SparkSession, sf_dir: str, budget_chars: int = SOURCE_BUDGET_CHARS
) -> DataFrame:
    """Per-source corpus trimming under a size budget: within each source,
    walk the docs in a deterministic md5 order and keep them until the
    cumulative character count would exceed the budget — the quota-sampling
    step that turns `domain_mix_weights` ratios into an actual capped
    subset (the "take N tokens per domain" stage of a data-mixture build).

    The per-source cumulative sum comes from the distributed two-phase
    pattern (``distributed.grouped_running_sum``: chunk by (source, md5
    prefix) + broadcast prefix offsets + chunk-local window) — never
    ``Window.partitionBy(source)``, which would sort an entire source in
    one task at 100 TB. The md5 ordering makes the kept
    set a uniform random — but reproducible — sample of each source.
    """
    # NULL-key contract (edge fuzz wave 6): a NULL source is outside the
    # per-source quota domain — there is no budget bucket for "no
    # source"; exclusion is mirrored in the oracle and pushes to the scan.
    # Ingest boundary = exactly-once front door (wave 9, rolled out r9):
    # the budget cumsum tie-breaks on md5(doc_id), which a CONFLICTING
    # replay makes non-unique — the restore guarantees one deterministic
    # row per key before any quota math (the incremental_dedup pattern,
    # dedup.py:726). Cost: one PK shuffle of the scan.
    from ..sources.catalog import load_table_unique

    docs = (
        load_table_unique(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    cum = grouped_running_sum(
        docs, "source", F.md5(F.col("doc_id").cast("string")), "n_chars",
        "cum_chars",
    )
    return (
        cum.filter(F.col("cum_chars") <= budget_chars)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("cum_chars").cast("bigint").alias("cum_chars"),
        )
    )


def source_token_budget_oracle(budget_chars: int = SOURCE_BUDGET_CHARS) -> str:
    from ..sources.catalog import unique_scan_sql

    return f"""
        WITH c AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (PARTITION BY source
                                    ORDER BY md5(CAST(doc_id AS VARCHAR))
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_chars
          FROM {unique_scan_sql("documents")} documents
          WHERE source IS NOT NULL
        )
        SELECT source, doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(cum_chars AS BIGINT) AS cum_chars
        FROM c
        WHERE cum_chars <= {budget_chars}
        ORDER BY source, cum_chars
    """


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × source contamination matrix: for every pair of sources,
    how many exact content hashes they share — the cross-corpus leakage
    report run before mixing corpora (is Common-Crawl-derived set A
    already inside set B?), the pairwise form of
    `decontaminate_ngram_overlap`'s train-vs-eval check.

    Plan: one distinct over (source, md5(text)) — the only full-corpus
    shuffle, keyed on uniform hashes — then a hash-keyed self-join whose
    per-key fan-out is bounded by |sources| (a content key appears at most
    once per source after the distinct), and a groupBy over |sources|²
    pairs. Per-source totals are a metadata-sized broadcast. Nothing here
    is all-pairs over rows — only over the handful of sources.
    """
    # keys feeds the per-source totals AND both self-join sides — pinned
    # via swap_pin (VERDICT r12 item 4 bare-persist sweep)
    from .cachereg import swap_pin

    keys = swap_pin(
        "corpus.cross_overlap.keys",
        load_table(spark, sf_dir, "documents")
        .select("source", F.md5("text").alias("content_key"))
        .distinct(),
    )
    per_source = keys.groupBy("source").agg(F.count(F.lit(1)).alias("n_keys"))
    a = keys.select(F.col("source").alias("source_a"), "content_key")
    b = keys.select(F.col("source").alias("source_b"), "content_key")
    shared = (
        a.join(b, "content_key")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # Pair universe over |sources| metadata rows, including zero-overlap
    # pairs, built join-free: fold the per-source totals into ONE array row,
    # then double-explode it. A theta join (or a constant-key equi join,
    # which Catalyst constant-folds back into a cross) would compile to
    # BroadcastNestedLoopJoin and trip the fleet-wide no-nested-loop plan
    # audit; two Generate nodes over a single aggregated row cannot.
    srcs = per_source.agg(
        F.collect_list(F.struct("source", "n_keys")).alias("_all")
    )
    pairs_universe = (
        srcs.select(F.explode("_all").alias("_a"), "_all")
        .select("_a", F.explode("_all").alias("_b"))
        .filter(F.col("_a.source") < F.col("_b.source"))
        .select(
            F.col("_a.source").alias("source_a"),
            F.col("_b.source").alias("source_b"),
            F.col("_a.n_keys").alias("n_a"),
            F.col("_b.n_keys").alias("n_b"),
        )
    )
    pairs = pairs_universe.join(
        F.broadcast(shared), ["source_a", "source_b"], "left"
    ).na.fill(0, ["n_shared"])
    return pairs.select(
        "source_a",
        "source_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        _trunc6(
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        ).alias("jaccard"),
        _trunc6(F.col("n_shared") / F.least("n_a", "n_b")).alias("containment"),
    )


def cross_source_overlap_oracle() -> str:
    return """
        WITH keys AS (
          SELECT DISTINCT source, md5(text) AS content_key FROM documents
        ), per_source AS (
          SELECT source, COUNT(*) AS n_keys FROM keys GROUP BY source
        ), shared AS (
          SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
          FROM keys a JOIN keys b USING (content_key)
          WHERE a.source < b.source
          GROUP BY 1, 2
        )
        SELECT na.source AS source_a,
               nb.source AS source_b,
               CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
               CAST(na.n_keys AS BIGINT) AS n_a,
               CAST(nb.n_keys AS BIGINT) AS n_b,
               FLOOR(COALESCE(s.n_shared, 0) * 1.0
                     / (na.n_keys + nb.n_keys - COALESCE(s.n_shared, 0)) * 1e6) / 1e6
                 AS jaccard,
               FLOOR(COALESCE(s.n_shared, 0) * 1.0
                     / least(na.n_keys, nb.n_keys) * 1e6) / 1e6 AS containment
        FROM per_source na
        JOIN per_source nb ON na.source < nb.source
        LEFT JOIN shared s ON s.source_a = na.source AND s.source_b = nb.source
        ORDER BY source_a, source_b
    """


RESERVOIR_K = 20
RESERVOIR_SALTS = 32


def reservoir_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-key sample ("reservoir" semantics done
    the distributed way): per event_type keep the K events with the
    smallest md5(event_type:event_id) — a fixed uniform hash order, so the
    sample is reproducible on any engine, any partitioning, any run, and
    refreshes stably as data arrives (an event's rank never changes).

    Scale shape: event_type is a HOT key (~5 values over the whole
    corpus), so a single `row_number() OVER (PARTITION BY event_type)`
    would sort a fifth of the corpus in one task. Instead the classic
    two-phase top-K: phase 1 keeps K candidates per (key, salt) — bounded
    state per reducer, `RESERVOIR_SALTS` reducers per hot key — and
    phase 2 merges |salts| K-arrays per key (metadata-sized). Same
    bounded-fan-in idea as skew.salted_collect, specialized to top-K so
    the merge input is K*salts rows, not the group.
    """
    from ..sources.catalog import load_table

    # NULL-key contract (edge fuzz wave 6): a NULL event_type is outside
    # the keyed sample domain — and the hash would diverge anyway (Spark
    # concat_ws skips NULL args; SQL || propagates NULL)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", "event_id")
    )
    h = F.md5(F.concat_ws(":", "event_type", "event_id"))
    salted = ev.select(
        "event_type",
        "event_id",
        h.alias("h"),
        F.pmod(F.col("event_id"), F.lit(RESERVOIR_SALTS)).alias("_salt"),
    )
    phase1 = salted.groupBy("event_type", "_salt").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("h", "event_id"))),
            1,
            RESERVOIR_K,
        ).alias("cand")
    )
    merged = phase1.groupBy("event_type").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("cand"))), 1, RESERVOIR_K
        ).alias("top")
    )
    return merged.select(
        "event_type", F.posexplode("top").alias("pos", "c")
    ).select(
        "event_type",
        (F.col("pos") + 1).cast("bigint").alias("sample_rank"),
        F.col("c.event_id").alias("event_id"),
        F.col("c.h").alias("h"),
    ).orderBy("event_type", "sample_rank")


def reservoir_sample_per_key_oracle() -> str:
    return f"""
        WITH ranked AS (
          SELECT event_type, event_id,
                 md5(event_type || ':' || event_id) AS h,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(event_type || ':' || event_id), event_id
                 ) AS sample_rank
          FROM events WHERE event_type IS NOT NULL
        )
        SELECT event_type, CAST(sample_rank AS BIGINT) AS sample_rank,
               event_id, h
        FROM ranked WHERE sample_rank <= {RESERVOIR_K}
        ORDER BY event_type, sample_rank
    """


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source "data card": the one-row-per-source summary a mixing
    decision reads before any expensive pass — volume (docs/chars),
    language spread (distinct langs, dominant lang + its ppm share),
    exact-duplicate rate, and mean doc length. The composition-over-
    operators sibling of `source_quality_profile` (rule pass rates) and
    `domain_mix_weights` (the decision itself).

    One scan: per-(source, lang) counts roll up twice — once to the modal
    lang (row_number over the tiny source×lang frame), once to the source
    totals; the dup rate is an exact distinct count of content md5 per
    source (map-side partial aggregation; never a pair join). All ratios
    are integer ppm (floor), so the card is bit-portable.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", F.md5("text").alias("content_md5")
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("content_md5").cast("bigint").alias("n_unique"),
    )
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    top_lang = (
        sl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return (
        per_source.join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            "n_langs",
            "top_lang",
            F.expr("(top_n * 1000000) div n_docs").cast("bigint").alias("top_lang_ppm"),
            F.expr("((n_docs - n_unique) * 1000000) div n_docs")
            .cast("bigint")
            .alias("exact_dup_ppm"),
            F.expr("total_chars div n_docs").cast("bigint").alias("mean_chars"),
        )
        .orderBy("source")
    )


def dataset_card_oracle() -> str:
    return """
        WITH docs AS (
          SELECT source, lang, n_chars, md5(text) AS content_md5
          FROM documents
        ),
        per_source AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(COUNT(DISTINCT content_md5) AS BIGINT) AS n_unique
          FROM docs GROUP BY source
        ),
        sl AS (
          SELECT source, lang, COUNT(*) AS n FROM docs GROUP BY source, lang
        ),
        top_lang AS (
          SELECT source, lang AS top_lang, n AS top_n
          FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY n DESC, lang ASC) AS rn
            FROM sl
          ) WHERE rn = 1
        )
        SELECT p.source, p.n_docs, p.total_chars, p.n_langs, t.top_lang,
               CAST((t.top_n * 1000000) // p.n_docs AS BIGINT) AS top_lang_ppm,
               CAST(((p.n_docs - p.n_unique) * 1000000) // p.n_docs AS BIGINT) AS exact_dup_ppm,
               CAST(p.total_chars // p.n_docs AS BIGINT) AS mean_chars
        FROM per_source p JOIN top_lang t USING (source)
        ORDER BY p.source
    """


VOCAB_CURVE_BUCKETS = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: the corpus in doc_id order is
    cut into VOCAB_CURVE_BUCKETS equal-document checkpoints; each row
    reports cumulative docs, cumulative token occurrences, cumulative
    DISTINCT vocabulary, and the incremental new-vocab count — the table
    that sizes a tokenizer vocabulary and predicts how much new text
    moves the OOV rate (V = K·n^β estimation reads directly off it).

    Cumulative distinct without re-scanning prefixes: each token's FIRST
    document (one groupBy(token) min) assigns it to the single checkpoint
    where it enters the vocabulary — cumulative vocab is then a running
    sum over B bucket rows. Document ranks come from the constant-group
    distributed running sum (never a global ROW_NUMBER window); the only
    ordered windows run over the B-row bucket frame.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    # LEFT JOIN from documents (coalesce 0), mirroring the oracle's
    # per_doc CTE: a document with empty/whitespace-only text still owns
    # a rank and a bucket slot — building per_doc from exploded tokens
    # alone drops such docs from the rank domain while n_docs counts them,
    # skewing every bucket boundary (ADVICE r5; latent on current data).
    per_doc = (
        docs.select("doc_id")
        .join(
            toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens")),
            "doc_id",
            "left",
        )
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
    )
    ranked = grouped_running_sum(
        per_doc.withColumn("_g", F.lit("all")), "_g", "doc_id", F.lit(1), "rank"
    ).withColumn(
        "bucket",
        F.expr(f"(rank * {VOCAB_CURVE_BUCKETS} + {n_docs} - 1) div {n_docs}")
        .cast("int"),
    )
    bucket_of_doc = ranked.select("doc_id", "bucket", "n_tokens")
    first_doc = toks.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    new_vocab = (
        first_doc.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .join(bucket_of_doc.select("doc_id", "bucket"), "doc_id")
        .groupBy("bucket")
        .agg(F.sum("n_new").alias("new_vocab"))
    )
    per_bucket = (
        bucket_of_doc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .join(new_vocab, "bucket", "left")
        .withColumn("new_vocab", F.coalesce("new_vocab", F.lit(0)))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("new_vocab").over(w).cast("bigint").alias("cum_vocab"),
        F.col("new_vocab").cast("bigint").alias("new_vocab"),
    ).orderBy("bucket")


def vocab_growth_curve_oracle() -> str:
    b = VOCAB_CURVE_BUCKETS
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        ),
        toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
        per_doc AS (
          SELECT d.doc_id, COALESCE(t.n, 0) AS n_tokens
          FROM documents d
          LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM toks_ne GROUP BY doc_id) t
            USING (doc_id)
        ),
        ranked AS (
          SELECT doc_id, n_tokens,
                 ROW_NUMBER() OVER (ORDER BY doc_id) AS rank,
                 (SELECT COUNT(*) FROM documents) AS n_all
          FROM per_doc
        ),
        bucketed AS (
          SELECT doc_id, n_tokens,
                 CAST((rank * {b} + n_all - 1) // n_all AS INT) AS bucket
          FROM ranked
        ),
        first_doc AS (
          SELECT tok, MIN(doc_id) AS doc_id FROM toks_ne GROUP BY tok
        ),
        new_vocab AS (
          SELECT b.bucket, COUNT(*) AS new_vocab
          FROM first_doc f JOIN bucketed b USING (doc_id)
          GROUP BY b.bucket
        ),
        per_bucket AS (
          SELECT b.bucket, COUNT(*) AS n_docs, SUM(b.n_tokens) AS n_tokens,
                 COALESCE(ANY_VALUE(nv.new_vocab), 0) AS new_vocab
          FROM bucketed b LEFT JOIN new_vocab nv ON nv.bucket = b.bucket
          GROUP BY b.bucket
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
               CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(SUM(new_vocab) OVER w AS BIGINT) AS cum_vocab,
               CAST(new_vocab AS BIGINT) AS new_vocab
        FROM per_bucket
        WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY bucket
    """


def restore_unique_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wave-9 exactly-once restore as a scoreable contract: the
    documents table through :func:`~etl_schema_spark.sources.catalog.
    load_table_unique` — one row per primary key even when at-least-once
    ingestion replayed a key (exact or CONFLICTING payload), the winner
    picked deterministically (remaining columns asc NULLS LAST, an
    engine-portable UTF-8 byte order).

    This is the documented front door for restoring the PK-uniqueness
    precondition every operator assumes; incremental_dedup consumes it
    in-line as the ingest-boundary example. Cost, stated honestly: ONE
    key-shuffle over the table (a row_number window per PK) — why the
    restore stays opt-in rather than inside load_table. At 100 TB the
    production form is the same window over bucketed-by-PK storage,
    where the shuffle collapses to a local sort per bucket.

    Output keeps text as md5 so the driver hashes a narrow frame; every
    other column rides through for schema fidelity.
    """
    from ..sources.catalog import load_table_unique

    d = load_table_unique(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "lang",
        "source",
        "n_chars",
    ).orderBy("doc_id")


def restore_unique_docs_oracle() -> str:
    from ..sources.catalog import unique_scan_sql

    return f"""
        SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        FROM {unique_scan_sql("documents")} documents
        ORDER BY doc_id
    """


# --- cross-source duplicate leakage (mirror / syndication detection) -------


def cross_source_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate accounting, split into INTERNAL dups
    (another copy within the same source) and EXTERNAL leakage (the same
    normalized content also appears under a DIFFERENT source) — the
    mirror/syndication detector a web-scale curation run uses to decide
    which sources are re-hosting each other before setting mix weights
    (complements cross_source_overlap, which measures shingle-level
    affinity between source PAIRS; this is the per-source rollup of
    verbatim copies).

    Plan: one md5 per doc (scan-local), ONE groupBy(content hash)
    producing per-hash (n_copies, n_sources) — partial-aggregated, the
    only wide shuffle — then a broadcast-size join back is avoided
    entirely by re-aggregating the per-(hash, source) frame: the second
    groupBy(source) is over |sources| groups. No doc text ever shuffles
    (hashes and counts only). NULL source (wave-6 contract): kept as its
    own "unattributed" group via a sentinel so the rollup is total.
    """
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("source", "text")
    ).select(
        F.coalesce(F.col("source"), F.lit("__null__")).alias("source"),
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("h"),
    )
    per_hs = docs.groupBy("h", "source").agg(F.count(F.lit(1)).alias("n"))
    w_h = Window.partitionBy("h")
    enriched = per_hs.select(
        "source",
        "n",
        F.count(F.lit(1)).over(w_h).alias("n_sources"),
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.sum(F.col("n") - 1).cast("bigint").alias("n_dup_internal"),
            F.sum(F.when(F.col("n_sources") >= 2, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
            F.floor(
                F.sum(F.when(F.col("n_sources") >= 2, F.col("n")).otherwise(0))
                / F.sum("n")
                * 1e6
            ).alias("leak_ppm"),
        )
        .orderBy("source")
    )


def cross_source_dup_leakage_oracle() -> str:
    return r"""
        WITH docs AS (
          SELECT COALESCE(source, '__null__') AS source,
                 md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
          FROM documents
        ),
        per_hs AS (
          SELECT h, source, COUNT(*) AS n FROM docs GROUP BY h, source
        ),
        enriched AS (
          SELECT source, n,
                 COUNT(*) OVER (PARTITION BY h) AS n_sources
          FROM per_hs
        )
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(SUM(n - 1) AS BIGINT) AS n_dup_internal,
               CAST(SUM(CASE WHEN n_sources >= 2 THEN n ELSE 0 END) AS BIGINT)
                 AS n_leaked,
               CAST(FLOOR(SUM(CASE WHEN n_sources >= 2 THEN n ELSE 0 END) * 1.0
                          / SUM(n) * 1e6) AS BIGINT) AS leak_ppm
        FROM enriched
        GROUP BY source
        ORDER BY source
    """


# --- weighted sampling without replacement (A-Res) --------------------------

ARES_K = 5
ARES_SALT = 16


def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, per source: the
    Efraimidis–Spirakis A-Res scheme — each doc draws u from its md5
    (deterministic, engine-portable; never rand()) and ranks by
    ln(u)/weight with weight = n_chars, so inclusion probability is
    proportional to document length without replacement. The
    length-weighted twin of ``reservoir_sample_per_key`` (uniform): the
    sampler a token-budgeted inspection/eval draw actually wants.

    Sampling domain: weight > 0 (a zero/NULL-length doc has no mass and
    1/w is undefined) — excluded on both sides, the same
    "leaves-the-measurable-domain" shape as the value contract.

    Scale shape: the per-source top-K never sorts a whole source in one
    task — stage 1 takes the top K within each of ARES_SALT deterministic
    salt lanes (window over (source, salt): ≤ K·SALT survivors per
    source), stage 2 ranks those ≤ 80 rows per source. The oracle states
    the single-window definition; the two-stage plan is provably the
    same set (the global top-K is contained in the union of per-lane
    top-Ks).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ares:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    # u in (0, 1]: +1 keeps ln defined; key = ln(u)/w is the A-Res order
    key = F.floor(F.log((h + 1) / F.lit(4294967296.0)) / F.col("n_chars") * 1e9) / 1e9
    base = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            key.alias("ares_key"),
            (F.col("doc_id") % ARES_SALT).alias("_salt"),
        )
    )
    w1 = Window.partitionBy("source", "_salt").orderBy(
        F.desc("ares_key"), F.asc("doc_id")
    )
    stage1 = (
        base.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= ARES_K)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("source").orderBy(F.desc("ares_key"), F.asc("doc_id"))
    return (
        stage1.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= ARES_K)
        .select("source", "rank", "doc_id", "n_chars", "ares_key")
        .orderBy("source", "rank")
    )


def weighted_sample_ares_oracle() -> str:
    return f"""
        WITH keyed AS (
          SELECT doc_id, source, n_chars,
                 FLOOR(ln((CAST(('0x' || substr(md5('ares:' || CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) + 1) / 4294967296.0)
                       / n_chars * 1e9) / 1e9 AS ares_key
          FROM documents WHERE n_chars > 0
        )
        SELECT source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY ares_key DESC, doc_id ASC)
                 AS BIGINT) AS rank,
               doc_id, n_chars, ares_key
        FROM keyed
        QUALIFY rank <= {ARES_K}
        ORDER BY source, rank
    """
