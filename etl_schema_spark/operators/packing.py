"""Training-data assembly operators (SURVEY §2C extension): sequence
packing, sliding-window chunking, and domain mixture weights.

These are the stages that sit *after* filtering/dedup in a pretraining
pipeline — turning a cleaned corpus into model-ready batches (the
T5/GPT-3 "packing" step, the RAG/retrieval chunker, and the
temperature-scaled domain sampler of the Pile / DoReMi family):

  pack_sequences       offset-based greedy packing of docs into
                       fixed-token-budget training sequences, per source
                       shard (parity target: the reference's per-dataset
                       date-sharded table assembly, e.g.
                       schema/repo.go table partitioning + the batch
                       assembly of cmd/generate_schema_docs pipelines)
  doc_chunks           fixed-size token windows with overlap stride per
                       document (retrieval/context chunking)
  domain_mix_weights   per-source token shares -> temperature-scaled
                       sampling weights (tau = 0.5 via sqrt)

Scale notes:
- pack_sequences needs a per-source running token offset. ``source`` is a
  low-cardinality key, so ``Window.partitionBy(source)`` would be a
  single-reducer sort over a whole source — instead the offset comes from
  ``distributed.grouped_running_sum`` (chunk by (source, doc_id bin) +
  broadcast per-(source, chunk) prefix offsets + a (chunk, source)-local
  window): no task ever holds more than one chunk's worth of one source.
- doc_chunks is a narrow projection + per-row explode (~n_tok/stride
  rows out per doc): zero shuffle, whole-stage-codegen end to end.
- domain_mix_weights aggregates to |domains| rows, then two 1-row scalar
  broadcast joins for the normalizing constants — the groupBy is the
  only shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .contracts import _trunc6
from .distributed import grouped_running_sum

PACK_BUDGET = 2048  # tokens per packed training sequence
CHUNK_TOKENS = 32  # tokens per retrieval chunk
CHUNK_STRIDE = 24  # chunk stride (8-token overlap)


def _packed_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tok, cum_tok): each doc's whitespace-token
    count and its source's running token total in doc_id order, from the
    distributed two-phase running sum.

    NULL-text and NULL-source docs are excluded from the packing domain
    (edge fuzz wave 6, same contract as doc_chunks / source_token_budget):
    split(NULL) yields a NULL token count that poisons the running
    offset, and a NULL source has no per-source shard to pack into.
    isNotNull pushes to the parquet scan."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("doc_id", "source", F.size(F.split("text", r"\s+")).alias("n_tok"))
    )
    return grouped_running_sum(docs, "source", "doc_id", "n_tok", "cum_tok")


def _pack_offsets_sql(off: str) -> str:
    """DuckDB twin of _packed_offsets: CTE c(doc_id, source, n_tok,
    {off}) with each doc's start offset in its source's token stream."""
    return rf"""t AS (
          SELECT doc_id, source,
                 len(string_split_regex(text, '\s+')) AS n_tok
          FROM documents
          WHERE text IS NOT NULL AND source IS NOT NULL
        ), c AS (
          SELECT doc_id, source, n_tok,
                 SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) - n_tok AS {off}
          FROM t
        )"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    Offset-based packing: docs are laid out in doc_id order within each
    source shard; a doc belongs to the bin its *start offset* falls in
    (floor(start/budget)), so a straddling doc counts fully toward its
    start bin and `fill_frac` may exceed 1 — the standard "document
    boundaries don't split" packing contract.

    Output: one row per (source, bin) with doc count, token total, the
    doc_id span, and the fill fraction against the budget.

    The running start offset is computed via the distributed two-phase
    pattern (grouped_running_sum) — never ``Window.partitionBy(source)``,
    which would sort an entire source in one task at 100 TB.
    """
    cum = _packed_offsets(spark, sf_dir)
    start_off = F.col("cum_tok") - F.col("n_tok")
    return (
        cum.withColumn("bin_id", F.floor(start_off / PACK_BUDGET))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "source",
            F.col("bin_id").cast("bigint").alias("bin_id"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "first_doc",
            "last_doc",
            _trunc6(F.col("n_tokens") / PACK_BUDGET).alias("fill_frac"),
        )
    )


def pack_sequences_oracle() -> str:
    return rf"""
        WITH {_pack_offsets_sql("start_off")}
        SELECT source,
               CAST(FLOOR(start_off * 1.0 / {PACK_BUDGET}) AS BIGINT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc,
               FLOOR(SUM(n_tok) * 1.0 / {PACK_BUDGET} * 1e6) / 1e6 AS fill_frac
        FROM c
        GROUP BY source, CAST(FLOOR(start_off * 1.0 / {PACK_BUDGET}) AS BIGINT)
        ORDER BY source, bin_id
    """


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (CHUNK_TOKENS wide, CHUNK_STRIDE apart) — the retrieval/context
    chunker. Emits the chunk's md5 rather than its text so downstream
    chunk-level dedup is join-ready on an 8-byte-comparable key.

    Narrow per-row explode, no shuffle; chunk construction is
    slice/concat_ws inside whole-stage codegen.
    """
    # NULL-text docs are excluded from the chunk domain (edge fuzz wave
    # 6): Spark's split(NULL) -> NULL tokens still emits one all-NULL
    # chunk row (greatest(NULL-1, 0) = 0) where DuckDB's
    # generate_series(0, NULL) emits none — and a NULL payload has no
    # chunks to index anyway. isNotNull pushes to the parquet scan.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", r"\s+").alias("toks"))
    )
    n = F.size("toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE))
    chunk = F.slice("toks", F.col("start_tok") + 1, F.lit(CHUNK_TOKENS))
    return (
        docs.select(
            "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start_tok")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            F.size(chunk).cast("bigint").alias("n_tok"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


def doc_chunks_oracle() -> str:
    return rf"""
        WITH d AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS toks
          FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               CAST(s AS BIGINT) AS start_tok,
               CAST(len(list_slice(toks, s + 1, s + {CHUNK_TOKENS})) AS BIGINT)
                 AS n_tok,
               md5(array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' '))
                 AS chunk_hash
        FROM d, LATERAL (
          SELECT unnest(generate_series(0, greatest(len(toks) - 1, 0),
                                        {CHUNK_STRIDE})) AS s
        ) g
        ORDER BY doc_id, chunk_idx
    """


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (sub-document) dedup report — the CCNet/RefinedWeb
    paragraph-dedup contract applied to the token-window chunks of
    doc_chunks: a chunk is duplicated if its md5 key occurs more than once
    corpus-wide; each doc reports how much of it is duplicated material.

    Plan: chunk table → one groupBy(chunk_hash) for global occurrence
    counts → rejoin on the hash key → one groupBy(doc). Both shuffles key
    on high-cardinality uniform md5 values, so there is no skew axis; at
    100 TB this is the standard two-pass "count, then annotate" shape.
    """
    chunks = doc_chunks(spark, sf_dir).select("doc_id", "chunk_hash")
    occ = chunks.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        chunks.join(occ, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") > 1).cast("int")).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_dup_chunks").cast("bigint").alias("n_dup_chunks"),
            _trunc6(F.col("n_dup_chunks") / F.col("n_chunks")).alias("dup_chunk_frac"),
        )
    )


def chunk_dedup_oracle() -> str:
    return rf"""
        WITH d AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS toks
          FROM documents WHERE text IS NOT NULL
        ), chunks AS (
          SELECT doc_id,
                 md5(array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' '))
                   AS chunk_hash
          FROM d, LATERAL (
            SELECT unnest(generate_series(0, greatest(len(toks) - 1, 0),
                                          {CHUNK_STRIDE})) AS s
          ) g
        ), occ AS (
          SELECT chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY chunk_hash
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_chunks,
               FLOOR(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*) * 1e6) / 1e6 AS dup_chunk_frac
        FROM chunks JOIN occ USING (chunk_hash)
        GROUP BY doc_id
        ORDER BY doc_id
    """


def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights (tau = 0.5): each
    source's token share is re-weighted as sqrt(share) and renormalized —
    the Pile-style flattening that upsamples small domains.

    Output per source: doc/token counts, raw token share, the mixture
    weight, and the implied upsampling factor (weight / share).
    """
    # per is |domains| rows but its subtree is the full corpus scan+agg;
    # it feeds three consumers (tot, z, output) — pinned via swap_pin so
    # the corpus is scanned once, not per scalar constant, and the frame
    # is releasable (VERDICT r12 item 4 bare-persist sweep)
    from .cachereg import swap_pin

    per = swap_pin(
        "packing.domain_mix.per",
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", r"\s+"))).alias("n_tokens"),
        ),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("tot"))
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n_tokens") / F.col("tot")
    )
    z = shared.agg(F.sum(F.sqrt("share")).alias("z"))
    return shared.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        _trunc6(F.col("share")).alias("token_share"),
        _trunc6(F.sqrt("share") / F.col("z")).alias("mix_weight"),
        _trunc6(F.sqrt("share") / F.col("z") / F.col("share")).alias("upsample"),
    )


def domain_mix_weights_oracle() -> str:
    return r"""
        WITH per AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ), t AS (
          SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot FROM per
        ), s AS (
          SELECT per.*, n_tokens / tot AS share FROM per, t
        ), z AS (
          SELECT SUM(sqrt(share)) AS z FROM s
        )
        SELECT source, n_docs, n_tokens,
               FLOOR(share * 1e6) / 1e6 AS token_share,
               FLOOR(sqrt(share) / z * 1e6) / 1e6 AS mix_weight,
               FLOOR(sqrt(share) / z / share * 1e6) / 1e6 AS upsample
        FROM s, z
        ORDER BY source
    """


# --- epoch allocation plan -------------------------------------------------

EPOCH_DOC_BUDGET = 200  # documents drawn per training epoch


def mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the temperature-scaled mix weights into an integer per-source
    document allocation for one epoch, via largest-remainder apportionment:
    every source gets floor(budget * weight); the leftover seats go to the
    largest fractional remainders (ties broken by source name). The output
    is the sampling plan a dataloader executes — weights are aspirational,
    an epoch draws whole documents.

    Scale: one corpus scan + aggregation; every window below runs over the
    |sources| aggregate table (metadata-sized at any corpus scale — an
    unpartitioned window over ~tens of rows, not a data-sized reducer).
    Allocations are NOT capped at a source's document count: small sources
    oversample by repetition (epochs > 1 over the domain), exactly how
    temperature flattening is used in practice.
    """
    from pyspark.sql import Window

    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", r"\s+"))).alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(F.desc("frac"), F.asc("source"))
    quota = F.lit(float(EPOCH_DOC_BUDGET)) * F.col("w")
    return (
        per.withColumn("share", F.col("n_tokens") / F.sum("n_tokens").over(w_all))
        .withColumn("w", F.sqrt("share") / F.sum(F.sqrt("share")).over(w_all))
        .withColumn("quota", quota)
        .withColumn("base", F.floor(quota))
        .withColumn("frac", quota - F.floor(quota))
        .withColumn(
            "leftover", F.lit(EPOCH_DOC_BUDGET) - F.sum("base").over(w_all)
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.floor(F.col("w") * 1e6).cast("bigint").alias("weight_ppm"),
            F.col("base").cast("bigint").alias("base_alloc"),
            (F.col("base") + (F.col("rnk") <= F.col("leftover")).cast("bigint"))
            .cast("bigint")
            .alias("alloc"),
        )
    )


def mix_epoch_plan_oracle() -> str:
    b = EPOCH_DOC_BUDGET
    return rf"""
        WITH per AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ), sh AS (
          SELECT *, n_tokens / (SUM(n_tokens) OVER ()) AS share FROM per
        ), wt AS (
          SELECT *, sqrt(share) / (SUM(sqrt(share)) OVER ()) AS w FROM sh
        ), q AS (
          SELECT *, {b}.0 * w AS quota, FLOOR({b}.0 * w) AS base,
                 {b}.0 * w - FLOOR({b}.0 * w) AS frac
          FROM wt
        ), r AS (
          SELECT *, {b} - (SUM(base) OVER ()) AS leftover,
                 ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC) AS rnk
          FROM q
        )
        SELECT source, n_docs,
               CAST(FLOOR(w * 1e6) AS BIGINT) AS weight_ppm,
               CAST(base AS BIGINT) AS base_alloc,
               CAST(base + CAST(rnk <= leftover AS BIGINT) AS BIGINT) AS alloc
        FROM r ORDER BY source
    """


SWEEP_BUDGETS = (512, 1024, 2048, 4096)


def pack_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-budget sweep: for each candidate sequence length, the bin
    count, fill statistics, and padding waste the offset-based packing of
    `pack_sequences` would produce — the table that PICKS the training
    sequence length before the expensive packing run (longer sequences
    amortize attention overhead but waste more padding on short tails).

    One two-phase running sum serves every budget: the per-source token
    offsets are computed once (the expensive chunked pass), and
    each budget's bin id is pure arithmetic over the same cum column —
    |budgets| cheap aggregations, not |budgets| repacking runs.
    """
    cum = _packed_offsets(spark, sf_dir)
    start_off = F.col("cum_tok") - F.col("n_tok")
    swept = cum.select(
        "source",
        "n_tok",
        start_off.alias("off"),
        F.explode(F.array(*[F.lit(b) for b in SWEEP_BUDGETS])).alias("budget"),
    ).withColumn("bin_id", F.floor(F.col("off") / F.col("budget")))
    bins = swept.groupBy("budget", "source", "bin_id").agg(
        F.sum("n_tok").alias("bin_tokens")
    )
    return (
        bins.groupBy("budget")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
            _trunc6(F.avg(F.col("bin_tokens") / F.col("budget"))).alias("mean_fill"),
            _trunc6(
                F.sum(F.greatest(F.col("budget") - F.col("bin_tokens"), F.lit(0)))
                / F.sum(F.col("budget"))
            ).alias("pad_waste_frac"),
        )
        .orderBy("budget")
    )


def pack_efficiency_sweep_oracle() -> str:
    budgets = ", ".join(str(b) for b in SWEEP_BUDGETS)
    return rf"""
        WITH {_pack_offsets_sql("off")},
        swept AS (
          SELECT source, n_tok, off, unnest([{budgets}]) AS budget FROM c
        ),
        bins AS (
          SELECT budget, source, CAST(FLOOR(off * 1.0 / budget) AS BIGINT) AS bin_id,
                 SUM(n_tok) AS bin_tokens
          FROM swept GROUP BY budget, source, bin_id
        )
        SELECT budget,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
               FLOOR(AVG(bin_tokens * 1.0 / budget) * 1e6) / 1e6 AS mean_fill,
               FLOOR(SUM(GREATEST(budget - bin_tokens, 0)) * 1.0
                     / SUM(budget) * 1e6) / 1e6 AS pad_waste_frac
        FROM bins GROUP BY budget
        ORDER BY budget
    """


def pack_fill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the ACTUAL ``pack_sequences`` output
    (VERDICT r10 item 7): per source — bin/doc/token totals, how many
    bins met or overshot the budget, and the padding waste a trainer
    would actually pay on the packed layout. ``pack_efficiency_sweep``
    answers "which budget should we pick" over hypothetical budgets;
    this entry audits the layout the pipeline actually shipped, which is
    what a training-readiness report reads.

    Waste counts only CLOSED bins (bin_id < the source's max): the open
    tail bin is legitimately partial — charging it as waste would flag
    every small source. A bin's fill may exceed 1 (a straddling doc
    counts fully toward its start bin — the pack_sequences contract), so
    full_bins (>= budget) and straddled_bins (> budget) are reported
    separately; closed bins BELOW budget are the real fragmentation.

    Scale: composes pack_sequences (whose running offset already rides
    the distributed two-phase pattern); the tail-bin id is a
    |sources|-row aggregate broadcast back (bins stream map-side past
    it — never a per-source window over the bin frame, which would
    single-task-sort a source's bins at 100 TB), and the audit itself is
    ONE partial-aggregated groupBy(source). All counters are exact
    integers; the two fill fractions are final single divisions,
    floor-truncated to micro-units on both engines.
    """
    bins = pack_sequences(spark, sf_dir)
    tail = bins.groupBy("source").agg(F.max("bin_id").alias("_tail"))
    closed = F.col("bin_id") < F.col("_tail")
    waste = F.when(
        closed, F.greatest(F.lit(PACK_BUDGET) - F.col("n_tokens"), F.lit(0))
    ).otherwise(F.lit(0))
    agg = (
        bins.join(F.broadcast(tail), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum((F.col("n_tokens") >= PACK_BUDGET).cast("long"))
            .cast("bigint")
            .alias("full_bins"),
            F.sum((F.col("n_tokens") > PACK_BUDGET).cast("long"))
            .cast("bigint")
            .alias("straddled_bins"),
            F.sum(closed.cast("long")).cast("bigint").alias("closed_bins"),
            F.sum(waste).cast("bigint").alias("waste_tokens"),
        )
    )
    return agg.select(
        "source",
        "n_bins",
        "n_docs",
        "n_tokens",
        "full_bins",
        "straddled_bins",
        "closed_bins",
        "waste_tokens",
        _trunc6(
            F.col("n_tokens") * 1.0 / (F.col("n_bins") * F.lit(PACK_BUDGET))
        ).alias("avg_fill"),
        F.when(
            F.col("closed_bins") > 0,
            _trunc6(
                F.col("waste_tokens")
                * 1.0
                / (F.col("closed_bins") * F.lit(PACK_BUDGET))
            ),
        ).alias("waste_frac"),
    ).orderBy("source")


def pack_fill_audit_oracle() -> str:
    b = PACK_BUDGET
    return f"""
        WITH pack AS ({pack_sequences_oracle()}),
        tails AS (
          SELECT source, MAX(bin_id) AS tail FROM pack GROUP BY source
        ),
        agg AS (
          SELECT p.source,
                 CAST(COUNT(*) AS BIGINT) AS n_bins,
                 CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN n_tokens >= {b} THEN 1 ELSE 0 END)
                      AS BIGINT) AS full_bins,
                 CAST(SUM(CASE WHEN n_tokens > {b} THEN 1 ELSE 0 END)
                      AS BIGINT) AS straddled_bins,
                 CAST(SUM(CASE WHEN bin_id < tail THEN 1 ELSE 0 END)
                      AS BIGINT) AS closed_bins,
                 CAST(SUM(CASE WHEN bin_id < tail
                               THEN GREATEST({b} - n_tokens, 0)
                               ELSE 0 END) AS BIGINT) AS waste_tokens
          FROM pack p JOIN tails t USING (source)
          GROUP BY p.source
        )
        SELECT source, n_bins, n_docs, n_tokens, full_bins, straddled_bins,
               closed_bins, waste_tokens,
               FLOOR(n_tokens * 1.0 / (n_bins * {b}) * 1e6) / 1e6 AS avg_fill,
               CASE WHEN closed_bins > 0 THEN
                 FLOOR(waste_tokens * 1.0 / (closed_bins * {b}) * 1e6) / 1e6
                 END AS waste_frac
        FROM agg
        ORDER BY source
    """
