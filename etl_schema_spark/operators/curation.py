"""Corpus-curation rule operators (SURVEY §2C extension): benchmark
decontamination, repetition statistics, and composite quality rules.

These are the filter stages a production pretraining pipeline runs between
dedup and tokenization (the Gopher / RefinedWeb / GPT-3 appendix rule
families), expressed as the same oracle-checked operator shape as the rest
of §2C:

  decontaminate_ngram_overlap  train-vs-eval 3-gram overlap (the GPT-3
                               13-gram decontamination check, at the
                               testdata's shingle width)
  repetition_stats             duplicate-n-gram fractions + top-term
                               dominance (Gopher repetition rules)
  gopher_quality_flags         word-count / word-length / symbol-ratio /
                               stopword rule flags + composed keep bit

Scale: repetition/quality are pure narrow projections (zero shuffle —
array-native n-gram construction, no Python boundary). Decontamination
broadcasts the *eval-side* distinct shingle set (benchmarks are tiny
relative to the corpus — the asymmetry the real check exploits) and scans
the train side once with a single partial-aggregated groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import cpu_parallel, load_table
from .dedup import SHINGLE_CTES_SQL, _shingled_docs

EVAL_MOD = 20  # doc_id % 20 == 0 -> held-out "benchmark" split (~5%)


def _trunc6(c: Column) -> Column:
    return F.floor(c * 1e6) / 1e6


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs that share any word-3-gram with the held-out eval
    split — the contamination report a benchmark-hygiene pass produces.

    Output: one row per contaminated train doc with the overlapping-shingle
    count and its fraction of the doc's distinct shingles.

    Scale: the eval shingle set is distinct-reduced then broadcast (eval
    benchmarks are MBs against a 100 TB train side — the asymmetry that
    makes exact decontamination tractable); the train side is one scan +
    one partial-aggregated groupBy(doc), no self-join anywhere.
    """
    sh = _shingled_docs(spark, sf_dir).filter(F.size("shingles") > 0)
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("shingle")
    )
    return (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            _trunc6(F.col("n_overlap") / F.col("n_shingles")).alias("overlap_frac"),
        )
    )


def decontaminate_ngram_overlap_oracle() -> str:
    return f"""
        WITH {SHINGLE_CTES_SQL},
        eval_sh AS (
          SELECT DISTINCT unnest(shingles) AS shingle
          FROM sh WHERE doc_id % {EVAL_MOD} = 0 AND len(shingles) > 0
        ),
        train AS (
          SELECT doc_id, len(shingles) AS n_shingles,
                 unnest(shingles) AS shingle
          FROM sh WHERE doc_id % {EVAL_MOD} <> 0 AND len(shingles) > 0
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_overlap,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               FLOOR(COUNT(*) * 1.0 / n_shingles * 1e6) / 1e6 AS overlap_frac
        FROM train JOIN eval_sh USING (shingle)
        GROUP BY doc_id, n_shingles
        ORDER BY doc_id
    """


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics (the Gopher repetition rule family):
    duplicate-2-gram and duplicate-3-gram fractions (1 − distinct/total)
    and top-term dominance (most frequent term's share of all tokens).

    Zero shuffle: n-grams are built array-natively per row (slice+zip_with,
    the bigram_surprisal trick) and every metric reduces within the row.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.lower("text"), r"\s+")
    n = F.size(toks)

    def ngrams(width: int) -> Column:
        parts = [F.slice(toks, i + 1, n - width + 1) for i in range(width)]
        out = parts[0]
        for p in parts[1:]:
            out = F.zip_with(out, p, lambda a, b: F.concat_ws(" ", a, b))
        return F.when(n >= width, out).otherwise(F.array())

    def dup_frac(width: int) -> Column:
        grams = ngrams(width)
        total = F.size(grams)
        return F.when(
            total > 0,
            _trunc6((total - F.size(F.array_distinct(grams))) / total),
        ).otherwise(F.lit(0.0))

    # top-term share, explode-free: O(distinct·n) comparisons per row. For
    # web-page-sized docs (10^2-10^3 tokens) this stays cheaper than the
    # explode → groupBy(doc, term) → max alternative, which would add the
    # operator's only shuffle; for book-length docs flip to the explode plan.
    term_counts = F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t)),
    )
    top_share = F.when(
        n > 0, _trunc6(F.array_max(term_counts) / n)
    ).otherwise(F.lit(0.0))

    return docs.select(
        "doc_id",
        F.col("text"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
        top_share.alias("top_term_frac"),
    ).select("doc_id", "dup_2gram_frac", "dup_3gram_frac", "top_term_frac")


def repetition_stats_oracle() -> str:
    def gram_sql(width: int) -> str:
        joined = " || ' ' || ".join(f"toks[i + {j}]" for j in range(width))
        return (
            f"CASE WHEN len(toks) >= {width} THEN "
            f"[{joined} for i in range(1, len(toks) - {width - 1} + 1)] "
            f"ELSE [] END"
        )

    def dup_sql(width: int) -> str:
        g = gram_sql(width)
        return (
            f"CASE WHEN len({g}) > 0 THEN "
            f"FLOOR((len({g}) - len(list_distinct({g}))) * 1.0 / len({g}) * 1e6) / 1e6 "
            f"ELSE 0.0 END"
        )

    top_sql = (
        "CASE WHEN len(toks) > 0 THEN "
        "FLOOR(list_max([len(list_filter(toks, x -> x = t)) "
        "for t in list_distinct(toks)]) * 1.0 / len(toks) * 1e6) / 1e6 "
        "ELSE 0.0 END"
    )
    return rf"""
        WITH d AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents
        )
        SELECT doc_id,
               {dup_sql(2)} AS dup_2gram_frac,
               {dup_sql(3)} AS dup_3gram_frac,
               {top_sql} AS top_term_frac
        FROM d
        ORDER BY doc_id
    """


# Gopher-style rule thresholds (word count window, mean word length window,
# symbol ratio cap, minimum stopword hits)
QW_MIN, QW_MAX = 5, 10_000
WL_MIN, WL_MAX = 2.0, 12.0
SYMBOL_MAX = 0.3
STOP_MIN = 1
_STOPS = ("the", "a", "of", "and", "to")


def _gopher_flag_cols() -> dict[str, Column]:
    """The Gopher-rule expressions over a `text` column, shared by the
    per-document flags entry and the per-source profile rollup."""
    toks = F.split(F.lower("text"), r"\s+")
    words = F.filter(toks, lambda t: t != F.lit(""))
    n_words = F.size(words)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_words,
    ).otherwise(F.lit(0.0))
    n_chars = F.length("text")
    n_symbol = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    symbol_ratio = F.when(n_chars > 0, n_symbol / n_chars).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*_STOPS)))
    f_words = (n_words >= QW_MIN) & (n_words <= QW_MAX)
    f_wl = (mean_wl >= WL_MIN) & (mean_wl <= WL_MAX)
    f_sym = symbol_ratio <= SYMBOL_MAX
    f_stop = stop_hits >= STOP_MIN
    return {
        "n_words": n_words,
        "mean_wl": mean_wl,
        "symbol_ratio": symbol_ratio,
        "stop_hits": stop_hits,
        "ok_word_count": f_words,
        "ok_word_len": f_wl,
        "ok_symbols": f_sym,
        "ok_stopwords": f_stop,
        "keep": f_words & f_wl & f_sym & f_stop,
    }


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality-rule flags per document (Gopher §A1-style): word
    count in range, mean word length in range, symbol-to-char ratio under
    cap, minimum stopword hits — plus the conjunction as `keep`.

    Pure narrow projection, no shuffle, no Python boundary; at 100 TB this
    is a scan-speed filter (the rules exist to be cheap).
    """
    docs = load_table(spark, sf_dir, "documents")
    c = _gopher_flag_cols()
    return docs.select(
        "doc_id",
        c["n_words"].cast("bigint").alias("n_words"),
        _trunc6(c["mean_wl"]).alias("mean_word_len"),
        _trunc6(c["symbol_ratio"]).alias("symbol_ratio"),
        c["stop_hits"].cast("bigint").alias("stop_hits"),
        c["ok_word_count"].alias("ok_word_count"),
        c["ok_word_len"].alias("ok_word_len"),
        c["ok_symbols"].alias("ok_symbols"),
        c["ok_stopwords"].alias("ok_stopwords"),
        c["keep"].alias("keep"),
    )


def _gopher_sql_parts() -> dict[str, str]:
    """The Gopher-rule expressions as DuckDB SQL strings — the oracle twin
    of ``_gopher_flag_cols``. Shared by gopher_quality_flags_oracle and
    quality_score_calibration_oracle so the two cannot drift apart (the
    shared-tail-generator pattern the PSI oracles use).

    length() (characters), NOT strlen() (bytes): the Spark side counts
    characters (F.length), and the two only agree on ASCII — a 'café'
    word is 4 chars but 5 bytes (edge fuzz wave 7, multibyte corpus).
    """
    words = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
    mean_wl = (
        f"CASE WHEN len({words}) > 0 THEN "
        f"list_sum([CAST(length(w) AS DOUBLE) for w in {words}]) / len({words}) "
        f"ELSE 0.0 END"
    )
    n_symbol = "length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"
    symbol_ratio = (
        f"CASE WHEN length(text) > 0 THEN {n_symbol} * 1.0 / length(text) ELSE 0.0 END"
    )
    stops = ", ".join(f"'{s}'" for s in _STOPS)
    stop_hits = f"len(list_filter({words}, w -> w IN ({stops})))"
    keep = (
        f"(len({words}) BETWEEN {QW_MIN} AND {QW_MAX})"
        f" AND (({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX})"
        f" AND (({symbol_ratio}) <= {SYMBOL_MAX})"
        f" AND ({stop_hits} >= {STOP_MIN})"
    )
    return {
        "words": words,
        "mean_wl": mean_wl,
        "symbol_ratio": symbol_ratio,
        "stop_hits": stop_hits,
        "keep": keep,
    }


def gopher_quality_flags_oracle() -> str:
    p = _gopher_sql_parts()
    words, mean_wl = p["words"], p["mean_wl"]
    symbol_ratio, stop_hits = p["symbol_ratio"], p["stop_hits"]
    return f"""
        SELECT doc_id,
               CAST(len({words}) AS BIGINT) AS n_words,
               FLOOR(({mean_wl}) * 1e6) / 1e6 AS mean_word_len,
               FLOOR(({symbol_ratio}) * 1e6) / 1e6 AS symbol_ratio,
               CAST({stop_hits} AS BIGINT) AS stop_hits,
               len({words}) BETWEEN {QW_MIN} AND {QW_MAX} AS ok_word_count,
               ({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX} AS ok_word_len,
               ({symbol_ratio}) <= {SYMBOL_MAX} AS ok_symbols,
               {stop_hits} >= {STOP_MIN} AS ok_stopwords,
               (len({words}) BETWEEN {QW_MIN} AND {QW_MAX})
                 AND (({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX})
                 AND (({symbol_ratio}) <= {SYMBOL_MAX})
                 AND ({stop_hits} >= {STOP_MIN}) AS keep
        FROM documents
        ORDER BY doc_id
    """


CURATION_BUDGET_CHARS = 5_000


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation capstone: declarative quality gate → PII scrub
    → exact dedup on the *scrubbed* text → per-source token budget,
    composed from the library operators in one declarative plan (no
    intermediate materialization — Catalyst sees the whole chain and
    prunes columns through every stage).

    The stage order is the production one: cheap scan-speed filters first
    (quality, masking), the dedup shuffle only over survivors, the budget
    window only over dedup winners. Output is the final kept set with its
    lineage columns (pii count, content hash, running budget).

    The pre-filter stage is the quality suite consumed declaratively
    (r9): the four Gopher rules are registered on a ``quality.Check`` and
    applied via its ``keep_predicate()`` row-filter form — the SAME suite
    object a scheduled publish gates on (quality.expectation_report), so
    the pipeline's admission rules and the reported expectations cannot
    drift apart. One conjunction, pushed to the scan; no join, no second
    documents pass (the pre-r9 shape joined a separately-scanned flags
    frame).

    Ingest boundary = exactly-once front door (wave 9, rolled out r9):
    the documents scan goes through catalog.load_table_unique, so a
    replayed key — exact or CONFLICTING payload — contributes ONE
    deterministic row before the dedup tie-break (ORDER BY doc_id) and
    the budget cumsum (ORDER BY md5(doc_id)), both of which assume key
    uniqueness. Cost: one PK shuffle (the restore's documented price;
    see restore_unique_docs / incremental_dedup, dedup.py:726).
    """
    from pyspark.sql import Window

    from .text import scrub_pii
    from ..quality import Check
    from ..sources.catalog import load_table_unique

    c = _gopher_flag_cols()
    gate = (
        Check("curation_prefilter")
        .satisfies("ok_word_count", c["ok_word_count"])
        .satisfies("ok_word_len", c["ok_word_len"])
        .satisfies("ok_symbols", c["ok_symbols"])
        .satisfies("ok_stopwords", c["ok_stopwords"])
    )
    docs = load_table_unique(spark, sf_dir, "documents").filter(
        gate.keep_predicate()
    )
    cols = scrub_pii(F.col("text"))
    scrubbed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (cols["n_email"] + cols["n_ipv4"] + cols["n_phone"]).alias("n_pii_total"),
        F.md5(cols["masked"]).alias("content_md5"),
    )
    w_dup = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = (
        scrubbed.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deduped.withColumn("cum_chars", F.sum("n_chars").over(w_budget))
        .filter(F.col("cum_chars") <= CURATION_BUDGET_CHARS)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("n_pii_total").cast("bigint").alias("n_pii_total"),
            "content_md5",
            F.col("cum_chars").cast("bigint").alias("cum_chars"),
        )
    )


def curation_pipeline_oracle() -> str:
    from .text import PII_PATTERNS

    words = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
    mean_wl = (
        f"CASE WHEN len({words}) > 0 THEN "
        f"list_sum([CAST(strlen(w) AS DOUBLE) for w in {words}]) / len({words}) "
        f"ELSE 0.0 END"
    )
    n_symbol = "strlen(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"
    symbol_ratio = (
        f"CASE WHEN strlen(text) > 0 THEN {n_symbol} * 1.0 / strlen(text) ELSE 0.0 END"
    )
    stops = ", ".join(f"'{s}'" for s in _STOPS)
    stop_hits = f"len(list_filter({words}, w -> w IN ({stops})))"
    keep = (
        f"len({words}) BETWEEN {QW_MIN} AND {QW_MAX}"
        f" AND ({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX}"
        f" AND ({symbol_ratio}) <= {SYMBOL_MAX}"
        f" AND ({stop_hits}) >= {STOP_MIN}"
    )
    email_pat, ipv4_pat, phone_pat = (p for _, p, _ in PII_PATTERNS)
    from ..sources.catalog import unique_scan_sql

    return f"""
        WITH kept AS (
          SELECT doc_id, source, n_chars, text
          FROM {unique_scan_sql("documents")} documents
          WHERE {keep}
        ),
        m AS (
          SELECT doc_id, source, n_chars,
                 len(regexp_extract_all(text, '{email_pat}', 0)) AS ne,
                 regexp_replace(text, '{email_pat}', '[EMAIL]', 'g') AS t1
          FROM kept
        ),
        m2 AS (
          SELECT doc_id, source, n_chars, ne,
                 len(regexp_extract_all(t1, '{ipv4_pat}', 0)) AS ni,
                 regexp_replace(t1, '{ipv4_pat}', '[IP]', 'g') AS t2
          FROM m
        ),
        m3 AS (
          SELECT doc_id, source, n_chars,
                 ne + ni + len(regexp_extract_all(t2, '{phone_pat}', 0)) AS n_pii_total,
                 md5(regexp_replace(t2, '{phone_pat}', '[PHONE]', 'g')) AS content_md5
          FROM m2
        ),
        dedup AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
          FROM m3
        ),
        budget AS (
          SELECT doc_id, source, n_chars, n_pii_total, content_md5,
                 SUM(n_chars) OVER (PARTITION BY source
                                    ORDER BY md5(CAST(doc_id AS VARCHAR))
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_chars
          FROM dedup WHERE rn = 1
        )
        SELECT doc_id, source,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_pii_total AS BIGINT) AS n_pii_total,
               content_md5,
               CAST(cum_chars AS BIGINT) AS cum_chars
        FROM budget
        WHERE cum_chars <= {CURATION_BUDGET_CHARS}
        ORDER BY doc_id
    """


# --- hashed-feature linear quality scorer ---------------------------------

QLR_BUCKETS = 64  # hashed feature space (hashing-trick dimensionality)
QLR_WEIGHT_RANGE = 1000  # integer weights in [-1000, 1000], i.e. +-1.0 at 3dp


def _qlr_token_weight(tok: Column) -> Column:
    """Integer weight of one token: md5-hash the token into one of
    QLR_BUCKETS feature buckets, then md5-derive that bucket's fixed
    integer weight. No RNG state — any engine derives the same model."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("q:"), tok)), 1, 8), 16, 10)
        .cast("bigint") % QLR_BUCKETS
    )
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % (2 * QLR_WEIGHT_RANGE + 1)
    ) - QLR_WEIGHT_RANGE


def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a fixed-weight linear classifier over
    hashing-trick bag-of-words features — the fasttext-style quality
    scorer (GPT-3 Appendix A / CCNet) reduced to its Spark-native shape.
    The weight table here is md5-derived (a stand-in for trained weights:
    swap `_qlr_token_weight` for a broadcast weight-array lookup when a
    real model ships — same plan, same cost).

    Per doc: integer weight sum over tokens (EXACT — order-independent
    across engines and partitionings, unlike a float dot product), the
    mean-weight score, sigmoid probability, and the keep decision.

    Scale: zero shuffle — one projection over the corpus scan, all
    arithmetic in whole-stage codegen via higher-order array functions
    (transform + aggregate); no Python boundary, nothing collected.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower("text"), r"\s+")
    wsum = F.aggregate(
        F.transform(toks, _qlr_token_weight),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    score = F.col("w_sum") / (F.lit(float(QLR_WEIGHT_RANGE)) * F.col("n_tokens"))
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tokens"),
            wsum.alias("w_sum"),
        )
        .withColumn("score", _trunc6(score))
        .withColumn("prob", _trunc6(F.lit(1.0) / (F.lit(1.0) + F.exp(-score))))
        .withColumn("keep", (F.col("w_sum") > 0).cast("int"))
    )


def _qlr_token_weight_sql() -> str:
    """DuckDB twin of ``_qlr_token_weight`` (token `t` in scope) — shared
    by quality_logreg_score_oracle and quality_score_calibration_oracle."""
    r = QLR_WEIGHT_RANGE
    return (
        "((CAST(('0x' || substr(md5('w:' || CAST("
        f"CAST(('0x' || substr(md5('q:' || t), 1, 8)) AS BIGINT) % {QLR_BUCKETS}"
        f" AS VARCHAR)), 1, 8)) AS BIGINT) % {2 * r + 1}) - {r})"
    )


def quality_logreg_score_oracle() -> str:
    r = QLR_WEIGHT_RANGE
    tok_w = _qlr_token_weight_sql()
    return rf"""
        WITH feat AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(list_sum(list_transform(
                     string_split_regex(lower(text), '\s+'),
                     t -> {tok_w})) AS BIGINT) AS w_sum
          FROM documents
        )
        SELECT doc_id, source, n_tokens, w_sum,
               FLOOR(w_sum / ({r}.0 * n_tokens) * 1e6) / 1e6 AS score,
               FLOOR(1.0 / (1.0 + exp(-(w_sum / ({r}.0 * n_tokens)))) * 1e6) / 1e6
                 AS prob,
               CAST(w_sum > 0 AS INT) AS keep
        FROM feat ORDER BY doc_id
    """


def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: document counts, Gopher-rule pass
    rates, and corpus-share of the kept slice — the rollup a data-mixing
    decision reads before setting source weights (parity with the
    reference's per-fleet summary views, e.g. views/statistics/*).

    One scan → per-source algebraic aggregates (sums of 0/1 flags):
    map-side partial aggregation collapses everything to |sources| rows
    before the only shuffle. Scan-bound at 100 TB by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = _gopher_flag_cols()
    flags = docs.select(
        "source",
        c["n_words"].alias("n_words"),
        *[
            c[k].cast("int").alias(k)
            for k in ("ok_word_count", "ok_word_len", "ok_symbols", "ok_stopwords", "keep")
        ],
    )
    prof = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        *[
            _trunc6(F.avg(k)).alias(f"{k}_rate")
            for k in ("ok_word_count", "ok_word_len", "ok_symbols", "ok_stopwords", "keep")
        ],
        F.sum(F.col("keep") * F.col("n_words")).cast("bigint").alias("kept_words"),
    )
    total_kept = prof.agg(F.sum("kept_words").alias("_tk"))
    return (
        prof.join(F.broadcast(total_kept))
        .select(
            "source",
            "n_docs",
            "total_words",
            "ok_word_count_rate",
            "ok_word_len_rate",
            "ok_symbols_rate",
            "ok_stopwords_rate",
            "keep_rate",
            "kept_words",
            _trunc6(F.col("kept_words") / F.col("_tk")).alias("kept_share"),
        )
        .orderBy("source")
    )


def source_quality_profile_oracle() -> str:
    # length() (characters), NOT strlen() (bytes) — the same char-true
    # expressions as gopher_quality_flags_oracle, whose flag columns this
    # rollup aggregates (edge fuzz wave 7, multibyte corpus)
    words = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
    mean_wl = (
        f"CASE WHEN len({words}) > 0 THEN "
        f"list_sum([CAST(length(w) AS DOUBLE) for w in {words}]) / len({words}) "
        f"ELSE 0.0 END"
    )
    n_symbol = "length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"
    symbol_ratio = (
        f"CASE WHEN length(text) > 0 THEN {n_symbol} * 1.0 / length(text) ELSE 0.0 END"
    )
    stops = ", ".join(f"'{s}'" for s in _STOPS)
    stop_hits = f"len(list_filter({words}, w -> w IN ({stops})))"
    return f"""
        WITH flags AS (
          SELECT source,
                 len({words}) AS n_words,
                 CAST(len({words}) BETWEEN {QW_MIN} AND {QW_MAX} AS INT) AS ok_word_count,
                 CAST(({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX} AS INT) AS ok_word_len,
                 CAST(({symbol_ratio}) <= {SYMBOL_MAX} AS INT) AS ok_symbols,
                 CAST({stop_hits} >= {STOP_MIN} AS INT) AS ok_stopwords,
                 CAST((len({words}) BETWEEN {QW_MIN} AND {QW_MAX})
                      AND (({mean_wl}) BETWEEN {WL_MIN} AND {WL_MAX})
                      AND (({symbol_ratio}) <= {SYMBOL_MAX})
                      AND ({stop_hits} >= {STOP_MIN}) AS INT) AS keep
          FROM documents
        ),
        prof AS (
          SELECT source,
                 COUNT(*) AS n_docs,
                 CAST(SUM(n_words) AS BIGINT) AS total_words,
                 FLOOR(AVG(ok_word_count) * 1e6) / 1e6 AS ok_word_count_rate,
                 FLOOR(AVG(ok_word_len) * 1e6) / 1e6 AS ok_word_len_rate,
                 FLOOR(AVG(ok_symbols) * 1e6) / 1e6 AS ok_symbols_rate,
                 FLOOR(AVG(ok_stopwords) * 1e6) / 1e6 AS ok_stopwords_rate,
                 FLOOR(AVG(keep) * 1e6) / 1e6 AS keep_rate,
                 CAST(SUM(keep * n_words) AS BIGINT) AS kept_words
          FROM flags GROUP BY source
        )
        SELECT source, n_docs, total_words,
               ok_word_count_rate, ok_word_len_rate, ok_symbols_rate,
               ok_stopwords_rate, keep_rate, kept_words,
               FLOOR(kept_words * 1.0 / (SELECT SUM(kept_words) FROM prof) * 1e6) / 1e6
                 AS kept_share
        FROM prof
        ORDER BY source
    """


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (by doc_id order) is
    this document — the dedup-adjacent curation signal that separates
    original content from recombinations of already-seen text (exact
    duplicates score 0 unless they are the first copy).

    Scale: one groupBy(shingle) -> min(doc_id) (the first-occurrence
    index, same shape as a dedup fingerprint table), joined back onto the
    exploded postings and re-aggregated per doc — two shuffles, both on
    uniform keys, no self-join anywhere.
    """
    sh = _shingled_docs(spark, sf_dir).filter(F.size("shingles") > 0)
    posting = sh.select(
        "doc_id", F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("shingle")
    )
    first = posting.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        posting.join(first, "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel")
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            _trunc6(F.col("n_novel") / F.col("n_shingles")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def ngram_novelty_score_oracle() -> str:
    return f"""
        WITH {SHINGLE_CTES_SQL},
        posting AS (
          SELECT doc_id, len(shingles) AS n_shingles,
                 unnest(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0
        ),
        first AS (
          SELECT shingle, MIN(doc_id) AS first_doc FROM posting GROUP BY shingle
        )
        SELECT doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               FLOOR(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
                     / n_shingles * 1e6) / 1e6 AS novelty
        FROM posting JOIN first USING (shingle)
        GROUP BY doc_id, n_shingles
        ORDER BY doc_id
    """


XLANG_DF_CAP = 50  # ignore shingles seen in more than this many docs
XLANG_MIN_SHARED = 3  # doc pairs must share at least this many rare shingles


def cross_lang_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language verbatim-overlap pairs: documents tagged with
    DIFFERENT `lang` values that share >= XLANG_MIN_SHARED rare word-3-gram
    shingles — the mislabeled-language / copy-across-splits signal a
    multilingual curation pass quarantines (verbatim n-gram reuse across
    language labels means either a langid error or leaked text).

    Scale: postings are capped at document frequency <= XLANG_DF_CAP
    before the self-join — boilerplate shingles shared by 10^6 docs are
    exactly the ones that say nothing about contamination AND would
    explode a join, so the cap is both the semantic filter and the
    hot-key bound (same rarity principle as dedup_ngram_jaccard's prefix
    filter). The join shuffles (shingle, doc_id, lang) postings only.
    """
    # lang rides the shingling scan directly (r13): the previous
    # _shingled_docs ⋈ documents re-scan joined a table to ITSELF on
    # doc_id just to attach one column — one scan + one shuffle join
    # (SMJ at scale) for data the shingle projection already had in hand
    # (guide §2.4, remove shuffles outright).
    from .dedup import _shingles_of

    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    sh = docs.select(
        "doc_id", "lang", _shingles_of(F.split(F.col("text"), r"\s+")).alias("shingles")
    ).filter(F.size("shingles") > 0)
    posting = sh.select("doc_id", "lang", F.explode("shingles").alias("shingle"))
    rare = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= XLANG_DF_CAP
    )
    p = posting.join(rare.select("shingle"), "shingle")
    a = p.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "shingle"
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("lang_a") != F.col("lang_b")))
        .groupBy("doc_a", "doc_b", "lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= XLANG_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


def cross_lang_contamination_oracle() -> str:
    return f"""
        WITH {SHINGLE_CTES_SQL},
        posting AS (
          SELECT sh.doc_id, d2.lang, unnest(sh.shingles) AS shingle
          FROM sh JOIN documents d2 ON d2.doc_id = sh.doc_id
          WHERE len(sh.shingles) > 0
        ),
        rare AS (
          SELECT shingle FROM posting GROUP BY shingle
          HAVING COUNT(*) <= {XLANG_DF_CAP}
        ),
        p AS (SELECT posting.* FROM posting JOIN rare USING (shingle))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM p a JOIN p b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id AND a.lang <> b.lang
        GROUP BY a.doc_id, b.doc_id, a.lang, b.lang
        HAVING COUNT(*) >= {XLANG_MIN_SHARED}
        ORDER BY doc_a, doc_b
    """


# --- DSIR importance weights (data selection via importance resampling) ----

DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCES = ("src1", "src2", "src3")


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much more likely its hashed-bigram features are under a TARGET
    distribution (here: the DSIR_TARGET_SOURCES slice — the
    "high-quality domain" stand-in) than under the raw-pool distribution
    (every other source). weight(doc) = Σ_f ln(p_target(b(f)) /
    p_raw(b(f))) over the doc's word-bigram features hashed into
    DSIR_BUCKETS md5 buckets, Laplace add-1 smoothed — the standard
    pretraining-mix reweighting signal (resample ∝ exp(weight)).

    Determinism: each feature's log-ratio is floor-truncated to 6 dp and
    summed as DECIMAL(18,6) — order-independent exact arithmetic (the
    fleet _vdec discipline), so a 32-way shuffle and DuckDB's single
    thread agree bit-for-bit; the ln argument is a ratio of exact
    integer products. Docs with no bigram (0/1 tokens) stay in the
    output with NULL weight — the wave-3 "empty aggregate leaves the
    measurable domain" contract, not a silent drop.

    Scale shape: one explode to (doc_id, bucket) feature rows (narrow:
    two longs), ONE corpus aggregate over ≤ DSIR_BUCKETS groups, and the
    1024-row ratio table BROADCASTS back onto the feature stream — the
    per-doc sum is the only real shuffle, keyed on doc_id
    (high-cardinality, naturally parallel). No vocabulary-sized state
    anywhere: the hashing trick bounds model size at any corpus scale.
    """
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
    n = F.size(toks)
    # guard n < 2: slice() throws on negative length (an empty/1-token
    # doc must yield zero features, not kill the scan — edge fuzz)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    is_target = F.coalesce(
        F.col("source").isin(*DSIR_TARGET_SOURCES), F.lit(False)
    ).alias("is_target")
    base = docs.select("doc_id", is_target, bigrams.alias("bg"))
    feats = base.select(
        "doc_id",
        "is_target",
        F.explode("bg").alias("f"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    bcounts = feats.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cs"),
    )
    totals = feats.groupBy().agg(
        F.sum(F.col("is_target").cast("long")).alias("tt"),
        F.sum((~F.col("is_target")).cast("long")).alias("ts"),
    )
    b = F.lit(DSIR_BUCKETS).cast("long")
    ratio = (
        bcounts.crossJoin(F.broadcast(totals))  # 1-row totals
        .select(
            "bucket",
            F.floor(
                F.log(
                    ((F.col("ct") + 1) * (F.col("ts") + b)).cast("double")
                    / ((F.col("cs") + 1) * (F.col("tt") + b)).cast("double")
                )
                * 1e6
            ).alias("r6"),
        )
    )
    per_doc = (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum((F.col("r6") / 1e6).cast("decimal(18,6)")).alias("wdec"),
        )
    )
    return (
        base.select("doc_id", "is_target")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("is_target").cast("boolean").alias("is_target"),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            F.col("wdec").cast("double").alias("weight"),
        )
        .orderBy("doc_id")
    )


def dsir_importance_weights_oracle() -> str:
    targets = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    nb = DSIR_BUCKETS
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 COALESCE(source IN ({targets}), FALSE) AS is_target,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS tk
          FROM documents
        ),
        feats AS (
          SELECT doc_id, is_target,
                 CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {nb} AS bucket
          FROM (
            SELECT doc_id, is_target,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i + 1])) AS f
            FROM base
          )
        ),
        bcounts AS (
          SELECT bucket,
                 SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
                 SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cs
          FROM feats GROUP BY bucket
        ),
        totals AS (
          SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS tt,
                 SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS ts
          FROM feats
        ),
        ratio AS (
          SELECT bucket,
                 FLOOR(ln(CAST((ct + 1) * (ts + {nb}) AS DOUBLE)
                          / CAST((cs + 1) * (tt + {nb}) AS DOUBLE)) * 1e6) AS r6
          FROM bcounts, totals
        ),
        per_doc AS (
          SELECT f.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_feats,
                 SUM(CAST(r.r6 / 1e6 AS DECIMAL(18,6))) AS wdec
          FROM feats f JOIN ratio r USING (bucket)
          GROUP BY f.doc_id
        )
        SELECT b.doc_id,
               b.is_target,
               CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
               CAST(p.wdec AS DOUBLE) AS weight
        FROM base b LEFT JOIN per_doc p USING (doc_id)
        ORDER BY b.doc_id
    """


# --- length-filter retention sweep ------------------------------------------

LENGTH_SWEEP_STEP = 64
LENGTH_SWEEP_RUNGS = 9  # thresholds 0, 64, ..., 512


def length_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve for a minimum-length filter: for every threshold
    in the 0..512-char ladder, how many documents and characters survive
    `n_chars >= threshold`, absolutely and as a corpus fraction — the
    sweep a curation run consults before committing to a length cutoff
    (the data-diet twin of dedup_impact_curve's tau sweep).

    Plan: NO per-threshold scan and no doc×threshold cross join — each
    doc maps to its ladder bucket in-row, ONE partial-aggregated groupBy
    over ≤ LENGTH_SWEEP_RUNGS buckets, and the ladder spine (a 9-row
    range) non-equi-joins the bucket table broadcast-side to form the
    descending cumulative — metadata-sized work after a single scan.
    NULL n_chars degrades to bucket 0 (kept only by the no-op
    threshold), mirrored by COALESCE in the oracle.
    """
    step, rungs = LENGTH_SWEEP_STEP, LENGTH_SWEEP_RUNGS
    docs = load_table(spark, sf_dir, "documents").select(
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("nc")
    )
    cap = step * (rungs - 1)
    bucket = F.least(F.lit(cap), F.floor(F.col("nc") / step) * step).cast("long")
    per_bucket = docs.groupBy(bucket.alias("b")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("nc").alias("chars")
    )
    spine = spark.range(0, rungs).select((F.col("id") * step).alias("min_chars"))
    totals = docs.groupBy().agg(
        F.count(F.lit(1)).alias("td"), F.sum("nc").alias("tc")
    )
    joined = spine.join(
        F.broadcast(per_bucket), F.col("b") >= F.col("min_chars"), "left"
    )
    return (
        joined.groupBy("min_chars")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_docs_kept"),
            F.coalesce(F.sum("chars"), F.lit(0)).cast("bigint").alias("n_chars_kept"),
        )
        .crossJoin(F.broadcast(totals))  # 1-row totals
        .select(
            "min_chars",
            "n_docs_kept",
            "n_chars_kept",
            _trunc6(F.try_divide(F.col("n_docs_kept"), F.col("td"))).alias("frac_docs"),
            _trunc6(F.try_divide(F.col("n_chars_kept"), F.col("tc"))).alias(
                "frac_chars"
            ),
        )
        .orderBy("min_chars")
    )


def length_filter_sweep_oracle() -> str:
    step, rungs = LENGTH_SWEEP_STEP, LENGTH_SWEEP_RUNGS
    cap = step * (rungs - 1)
    return f"""
        WITH docs AS (
          SELECT COALESCE(n_chars, 0) AS nc FROM documents
        ),
        per_bucket AS (
          SELECT LEAST({cap}, CAST(FLOOR(nc / {step}) * {step} AS BIGINT)) AS b,
                 COUNT(*) AS cnt, SUM(nc) AS chars
          FROM docs GROUP BY 1
        ),
        spine AS (
          SELECT CAST(r * {step} AS BIGINT) AS min_chars
          FROM (SELECT unnest(range(0, {rungs})) AS r)
        ),
        totals AS (
          SELECT COUNT(*) AS td, SUM(nc) AS tc FROM docs
        ),
        kept AS (
          SELECT s.min_chars,
                 CAST(COALESCE(SUM(p.cnt), 0) AS BIGINT) AS n_docs_kept,
                 CAST(COALESCE(SUM(p.chars), 0) AS BIGINT) AS n_chars_kept
          FROM spine s LEFT JOIN per_bucket p ON p.b >= s.min_chars
          GROUP BY s.min_chars
        )
        SELECT min_chars, n_docs_kept, n_chars_kept,
               FLOOR(n_docs_kept * 1.0 / td * 1e6) / 1e6 AS frac_docs,
               FLOOR(n_chars_kept * 1.0 / tc * 1e6) / 1e6 AS frac_chars
        FROM kept, totals
        ORDER BY min_chars
    """


# --- hashed-bigram LM cross-entropy vs a target domain ----------------------


def lm_domain_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under TWO hashed-bigram language models
    — one trained on the TARGET domain (DSIR_TARGET_SOURCES), one on the
    raw pool — plus their gap: the "does this doc read like the domain I
    want more of" scorer (the CCNet/DSIR perplexity-filter shape, scored
    against an in-engine LM instead of an external KenLM binary). A
    negative domain_gap means the doc is cheaper to encode under the
    target LM than the raw LM — the resample-me signal; the gap times
    -n_feats is exactly dsir_importance_weights' log-ratio weight, so the
    two entries cross-check each other.

    Model = add-1-smoothed MLE over DSIR_BUCKETS hashed bigram buckets
    (the hashing trick bounds model size at any corpus scale; no
    vocabulary state). Determinism: each bucket's ln p is floor-truncated
    to 6 dp once, per-doc sums ride DECIMAL(18,6) exact arithmetic, and
    the final mean divides as a double (exactly-representable 6 dp sum /
    int) then truncates — order-independent bit-identical both engines.

    Scale shape: one explode to narrow (doc_id, bucket) rows, ONE
    aggregate over <= DSIR_BUCKETS groups, the 1024-row model BROADCASTS
    back onto the feature stream, and the per-doc sum is the only real
    shuffle (keyed on doc_id). Docs with no bigram keep NULL scores (the
    empty-aggregate contract), never a silent drop.
    """
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    # Explicit whitespace class on BOTH sides (ADVICE r9): Java's ASCII \s
    # IS [ \t\n\x0b\f\r] so the Spark side is unchanged behaviorally, but
    # RE2's \s lacks \x0b — the oracle needs the class spelled out or a
    # vertical-tab document tokenizes differently across engines (the
    # repeat_profile_automaton precedent, dedup.py).
    toks = F.filter(
        F.split(F.lower("text"), r"[ \t\n\x0b\f\r]+"), lambda t: t != F.lit("")
    )
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    is_target = F.coalesce(
        F.col("source").isin(*DSIR_TARGET_SOURCES), F.lit(False)
    ).alias("is_target")
    base = docs.select("doc_id", is_target, bigrams.alias("bg"))
    feats = base.select(
        "doc_id",
        "is_target",
        F.explode("bg").alias("f"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    bcounts = feats.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cs"),
    )
    totals = feats.groupBy().agg(
        F.sum(F.col("is_target").cast("long")).alias("tt"),
        F.sum((~F.col("is_target")).cast("long")).alias("ts"),
    )
    b = F.lit(DSIR_BUCKETS).cast("long")
    model = bcounts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + b).cast("double"))
            * 1e6
        ).alias("lpt6"),
        F.floor(
            F.log((F.col("cs") + 1).cast("double") / (F.col("ts") + b).cast("double"))
            * 1e6
        ).alias("lpr6"),
    )
    per_doc = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum((F.col("lpt6") / 1e6).cast("decimal(18,6)")).alias("st"),
            F.sum((F.col("lpr6") / 1e6).cast("decimal(18,6)")).alias("sr"),
        )
    )
    xent_t = F.floor(-F.col("st").cast("double") / F.col("n_feats") * 1e6) / 1e6
    xent_r = F.floor(-F.col("sr").cast("double") / F.col("n_feats") * 1e6) / 1e6
    return (
        base.select("doc_id", "is_target")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("is_target").cast("boolean").alias("is_target"),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            xent_t.alias("xent_target"),
            xent_r.alias("xent_raw"),
            (xent_t - xent_r).alias("domain_gap"),
        )
        .orderBy("doc_id")
    )


def lm_domain_perplexity_oracle() -> str:
    targets = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    nb = DSIR_BUCKETS
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 COALESCE(source IN ({targets}), FALSE) AS is_target,
                 -- explicit whitespace class incl. \x0b (ADVICE r9):
                 -- RE2's \s has no vertical tab, Java's ASCII \s does
                 list_filter(string_split_regex(lower(text),
                                                '[ \t\n\x0b\f\r]+'),
                             t -> t <> '') AS tk
          FROM documents
        ),
        feats AS (
          SELECT doc_id, is_target,
                 CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {nb} AS bucket
          FROM (
            SELECT doc_id, is_target,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i + 1])) AS f
            FROM base
          )
        ),
        bcounts AS (
          SELECT bucket,
                 SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
                 SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cs
          FROM feats GROUP BY bucket
        ),
        totals AS (
          SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS tt,
                 SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS ts
          FROM feats
        ),
        model AS (
          SELECT bucket,
                 FLOOR(LN((ct + 1) * 1.0 / (tt + {nb})) * 1e6) AS lpt6,
                 FLOOR(LN((cs + 1) * 1.0 / (ts + {nb})) * 1e6) AS lpr6
          FROM bcounts CROSS JOIN totals
        ),
        per_doc AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_feats,
                 SUM(CAST(lpt6 / 1e6 AS DECIMAL(18,6))) AS st,
                 SUM(CAST(lpr6 / 1e6 AS DECIMAL(18,6))) AS sr
          FROM feats JOIN model USING (bucket)
          GROUP BY doc_id
        )
        SELECT b.doc_id, b.is_target,
               CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
               FLOOR(-CAST(p.st AS DOUBLE) / p.n_feats * 1e6) / 1e6
                 AS xent_target,
               FLOOR(-CAST(p.sr AS DOUBLE) / p.n_feats * 1e6) / 1e6
                 AS xent_raw,
               FLOOR(-CAST(p.st AS DOUBLE) / p.n_feats * 1e6) / 1e6
                 - FLOOR(-CAST(p.sr AS DOUBLE) / p.n_feats * 1e6) / 1e6
                 AS domain_gap
        FROM base b LEFT JOIN per_doc p USING (doc_id)
        ORDER BY b.doc_id
    """


# --- CCNet-style per-source perplexity split ---------------------------------


def ccnet_source_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's defining move, per SOURCE: rank every document by its
    unigram-LM score and split each source into head / middle / tail
    TERTILES (lowest surprisal = head). perplexity_buckets buckets the
    corpus GLOBALLY; the per-domain normalization here is CCNet's actual
    design point — a clean domain's middle and a noisy domain's middle
    are different absolute scores, and mixing decisions are made per
    domain (keep heads+middles, drop tails, whatever the recipe says).

    The LM is the corpus unigram MLE over sourced documents (scoring
    corpus == counting corpus, every token has count >= 1 — the
    bigram_surprisal contract). NULL-source docs have no domain to split
    within and are excluded (wave-6 NULL-key contract, both sides).

    Scale shape: the per-source rank comes from the distributed
    two-phase pattern (grouped_running_sum: chunk by (source, score),
    broadcast prefix offsets) — never Window.partitionBy(source),
    which would sort a whole domain in one task; source sizes are a
    broadcast dim. Tertile boundaries are exact rank arithmetic (3*rk vs
    n), so ties resolve deterministically by (logprob, doc_id).
    """
    from .distributed import grouped_running_sum

    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .select("doc_id", "source", "text")
    )
    # explicit whitespace class incl. \x0b on both sides (ADVICE r9) —
    # behaviorally identical to Java's ASCII \s; pins the oracle's RE2
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[ \t\n\x0b\f\r]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("_T"))
    scored = (
        toks.join(counts, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            _trunc6(F.avg(-F.log(F.col("c") / F.col("_T")))).alias("logprob"),
        )
    )
    ranked = grouped_running_sum(
        scored, "source", F.struct("logprob", "doc_id"), F.lit(1), "rk"
    )
    sizes = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    split = (
        F.when(3 * F.col("rk") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("rk") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.join(F.broadcast(sizes), "source")
        .select("doc_id", "source", "n_toks", "logprob", split.alias("split"))
        .orderBy("doc_id")
    )


def ccnet_source_split_oracle() -> str:
    return r"""
        WITH toks AS (
          -- explicit whitespace class incl. \x0b (ADVICE r9): RE2's \s
          -- has no vertical tab, Java's ASCII \s does
          SELECT doc_id, source, unnest(
            list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                        t -> t <> '')
          ) AS tok
          FROM documents WHERE source IS NOT NULL
        ),
        counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        total AS (SELECT SUM(c) AS t FROM counts),
        scored AS (
          SELECT doc_id, source,
                 CAST(COUNT(*) AS BIGINT) AS n_toks,
                 FLOOR(AVG(-LN(c * 1.0 / (SELECT t FROM total))) * 1e6) / 1e6
                   AS logprob
          FROM toks JOIN counts USING (tok)
          GROUP BY doc_id, source
        ),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (
                     PARTITION BY source ORDER BY logprob, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM scored
        )
        SELECT doc_id, source, n_toks, logprob,
               CASE WHEN 3 * rk <= n THEN 'head'
                    WHEN 3 * rk <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS split
        FROM ranked
        ORDER BY doc_id
    """


# --- quality_score_calibration -------------------------------------------

CAL_BINS = 10  # reliability-diagram deciles over the predicted probability


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE terms for the model-based quality filter:
    the logreg scorer's predicted keep-probability (quality_logreg_score)
    binned into CAL_BINS deciles, each bin compared against the EMPIRICAL
    pass rate of an independent weak label (the Gopher rule conjunction,
    gopher_quality_flags). The report a filtering pipeline reads before
    trusting a classifier threshold: a well-calibrated bin has
    avg_prob ~= keep_rate_weak; sum(ece_term) is the expected calibration
    error against the rule-based label.

    ONE corpus scan computes both feature families (the shared
    ``_qlr_token_weight`` / ``_gopher_flag_cols`` expression builders —
    no second scan, no doc_id re-join), then one partial-aggregated
    groupBy over <= CAL_BINS integer bins; the normalization window runs
    over the CAL_BINS-row frame. Scan-bound at 100 TB by construction.

    Determinism: the per-doc probability is floor-truncated to micro
    units ONCE (bigint), bins derive from that integer, and bin
    aggregates are exact integer sums — the only doubles are final
    single-divisions, identical expression order on both engines.
    """
    from pyspark.sql import Window

    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    toks = F.split(F.lower("text"), r"\s+")
    wsum = F.aggregate(
        F.transform(toks, _qlr_token_weight),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    keep_weak = _gopher_flag_cols()["keep"].cast("int")
    feat = docs.select(
        F.size(toks).cast("bigint").alias("n_tokens"),
        wsum.alias("w_sum"),
        keep_weak.alias("keep_weak"),
    )
    score = F.col("w_sum") / (F.lit(float(QLR_WEIGHT_RANGE)) * F.col("n_tokens"))
    p_micro = F.floor(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-score)) * 1e6
    ).cast("bigint")
    per_doc = feat.select(
        F.least(F.floor(p_micro / 100000), F.lit(CAL_BINS - 1))
        .cast("bigint")
        .alias("bin"),
        p_micro.alias("p_micro"),
        "keep_weak",
    )
    binned = per_doc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p_micro").cast("bigint").alias("_sum_p"),
        F.sum("keep_weak").cast("bigint").alias("n_keep_weak"),
    )
    w = Window.partitionBy()
    avg_prob = F.col("_sum_p") / F.lit(1e6) / F.col("n_docs")
    keep_rate = F.col("n_keep_weak").cast("double") / F.col("n_docs")
    gap = F.abs(avg_prob - keep_rate)
    return (
        binned.withColumn("_n_total", F.sum("n_docs").over(w))
        .select(
            "bin",
            "n_docs",
            "n_keep_weak",
            _trunc6(avg_prob).alias("avg_prob"),
            _trunc6(keep_rate).alias("keep_rate_weak"),
            _trunc6(gap).alias("abs_gap"),
            _trunc6(
                (F.col("n_docs").cast("double") / F.col("_n_total")) * gap
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


def quality_score_calibration_oracle() -> str:
    r = QLR_WEIGHT_RANGE
    tok_w = _qlr_token_weight_sql()
    keep = _gopher_sql_parts()["keep"]
    return rf"""
        WITH feat AS (
          SELECT CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(list_sum(list_transform(
                     string_split_regex(lower(text), '\s+'),
                     t -> {tok_w})) AS BIGINT) AS w_sum,
                 CAST(({keep}) AS INT) AS keep_weak
          FROM documents WHERE text IS NOT NULL
        ), scored AS (
          SELECT CAST(FLOOR(
                   1.0 / (1.0 + exp(-(w_sum / ({r}.0 * n_tokens)))) * 1e6
                 ) AS BIGINT) AS p_micro,
                 keep_weak
          FROM feat
        ), binned AS (
          SELECT LEAST(p_micro // 100000, {CAL_BINS - 1}) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(p_micro) AS BIGINT) AS sum_p,
                 CAST(SUM(keep_weak) AS BIGINT) AS n_keep_weak
          FROM scored GROUP BY 1
        ), tot AS (SELECT SUM(n_docs) AS n_total FROM binned)
        SELECT bin, n_docs, n_keep_weak,
               FLOOR(sum_p / 1e6 / n_docs * 1e6) / 1e6 AS avg_prob,
               FLOOR(CAST(n_keep_weak AS DOUBLE) / n_docs * 1e6) / 1e6
                 AS keep_rate_weak,
               FLOOR(ABS(sum_p / 1e6 / n_docs
                         - CAST(n_keep_weak AS DOUBLE) / n_docs) * 1e6) / 1e6
                 AS abs_gap,
               FLOOR((CAST(n_docs AS DOUBLE) / n_total)
                     * ABS(sum_p / 1e6 / n_docs
                           - CAST(n_keep_weak AS DOUBLE) / n_docs) * 1e6) / 1e6
                 AS ece_term
        FROM binned, tot
        ORDER BY bin
    """


# --- doremi_excess_reweight ----------------------------------------------

# eta = 1.0 nat^-1, expressed against micro-nat excess units: the weight
# multiplier is (DOREMI_SCALE + excess_micro) / DOREMI_SCALE = 1 + excess.
DOREMI_SCALE = 1_000_000


def doremi_excess_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style mixture-reweighting step (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining", arXiv:2305.10429): domains whose documents carry HIGH
    excess loss under the target-domain LM relative to the raw-pool LM
    get upweighted — train more where the reference gap is largest. The
    per-doc losses come from lm_domain_perplexity (domain_gap =
    xent_target - xent_raw); the baseline mixture mass is each source's
    bigram-feature share.

    Exact-arithmetic EG step (engine-portable by construction): the
    per-source excess is clamped at 0 and floor-quantized to micro-nats,
    the unnormalized weight is the DECIMAL(38,0) product
    n_feats x (DOREMI_SCALE + excess_micro) — integer math end to end —
    and the only doubles are the final normalizing divisions, identical
    expression order both engines.

    Scale: lm_domain_perplexity's plan (one explode, 1024-bucket
    broadcast model, one doc-keyed aggregate) + a narrow doc_id equi-join
    for the source column + ONE partial-aggregated groupBy(source); the
    normalization window runs over the |sources|-row frame.
    """
    from pyspark.sql import Window

    lm = lm_domain_perplexity(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    gap6 = F.round(F.col("domain_gap") * 1e6).cast("bigint")
    per = (
        lm.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_feats").cast("bigint").alias("n_feats"),
            F.sum(F.when(F.col("n_feats") > 0, gap6)).cast("bigint").alias("_g6"),
            F.sum((F.col("n_feats") > 0).cast("long")).cast("bigint").alias("n_scored"),
        )
    )
    excess6 = F.when(
        F.col("n_scored") > 0,
        F.floor(
            F.greatest(F.col("_g6"), F.lit(0)).cast("double") / F.col("n_scored")
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    gap_mean = F.when(
        F.col("n_scored") > 0,
        F.floor(F.col("_g6").cast("double") / F.col("n_scored")) / F.lit(1e6),
    )
    numer = F.col("n_feats").cast("decimal(19,0)") * (
        F.lit(DOREMI_SCALE).cast("decimal(19,0)") + F.col("_e6").cast("decimal(19,0)")
    )
    w = Window.partitionBy()
    mix = F.col("_numer").cast("double") / F.col("_den").cast("double")
    share = F.col("n_feats").cast("double") / F.col("_ftot").cast("double")
    return (
        per.withColumn("_e6", excess6)
        .withColumn("_numer", numer)
        .withColumn("_den", F.sum("_numer").over(w))
        .withColumn("_ftot", F.sum("n_feats").over(w))
        .select(
            "source",
            "n_docs",
            "n_feats",
            "n_scored",
            gap_mean.alias("gap_mean"),
            (F.col("_e6") / F.lit(1e6)).alias("excess_nats"),
            # zero-denominator guards (ADVICE r10): on an all-empty corpus
            # every n_feats is 0, and Spark's 0/0 double is NaN where
            # DuckDB's is NULL — NULL on both engines instead
            F.when(F.col("_ftot") > 0, _trunc6(share)).alias("token_share"),
            F.when(F.col("_den") > 0, _trunc6(mix)).alias("mix_weight"),
            F.when(F.col("n_feats") > 0, _trunc6(mix / share)).alias("boost"),
        )
        .orderBy("source")
    )


def doremi_excess_reweight_oracle() -> str:
    return rf"""
        WITH lm AS (
          SELECT * FROM ({lm_domain_perplexity_oracle()}) lm_sub
        ), j AS (
          SELECT d.source, lm.n_feats,
                 CAST(ROUND(lm.domain_gap * 1e6) AS BIGINT) AS gap6
          FROM lm JOIN documents d USING (doc_id)
        ), per AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_feats) AS BIGINT) AS n_feats,
                 CAST(SUM(CASE WHEN n_feats > 0 THEN gap6 END) AS BIGINT)
                   AS g6,
                 CAST(SUM(CASE WHEN n_feats > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_scored
          FROM j GROUP BY source
        ), calc AS (
          SELECT *,
                 CASE WHEN n_scored > 0
                      THEN CAST(FLOOR(
                          CAST(GREATEST(g6, 0) AS DOUBLE) / n_scored
                        ) AS BIGINT)
                      ELSE 0 END AS e6
          FROM per
        ), numer AS (
          SELECT *,
                 CAST(n_feats AS DECIMAL(19,0))
                   * (CAST({DOREMI_SCALE} AS DECIMAL(19,0))
                      + CAST(e6 AS DECIMAL(19,0))) AS nm
          FROM calc
        ), tot AS (
          SELECT SUM(nm) AS den, SUM(n_feats) AS ftot FROM numer
        )
        SELECT source, n_docs, n_feats, n_scored,
               CASE WHEN n_scored > 0
                    THEN FLOOR(CAST(g6 AS DOUBLE) / n_scored) / 1e6 END
                 AS gap_mean,
               e6 / 1e6 AS excess_nats,
               CASE WHEN ftot > 0 THEN
                 FLOOR(CAST(n_feats AS DOUBLE) / CAST(ftot AS DOUBLE) * 1e6)
                   / 1e6 END AS token_share,
               CASE WHEN den > 0 THEN
                 FLOOR(CAST(nm AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
                 END AS mix_weight,
               CASE WHEN n_feats > 0 THEN
                 FLOOR((CAST(nm AS DOUBLE) / CAST(den AS DOUBLE))
                       / (CAST(n_feats AS DOUBLE) / CAST(ftot AS DOUBLE))
                       * 1e6) / 1e6 END AS boost
        FROM numer, tot
        ORDER BY source
    """
