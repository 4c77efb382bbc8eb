"""Text-analysis operators over the `documents` table (SURVEY §2C).

These extend the reference's surface with the text half of an LLM
training-data pipeline: token stats, quality scoring, language ID,
fingerprinting. Everything is built-in-function SQL (JVM-side, codegen) —
no Python UDFs in the hot path.

Scale notes: all per-document operators are narrow projections (no shuffle);
corpus-level stats do one partial-aggregated groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import cpu_parallel, load_table
from .contracts import _trunc6

STOPWORDS = ("the", "a", "of", "and", "to")

# marker vocabularies for the language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "et", "les"),
    "de": ("der", "und", "das"),
}


def _tokens() -> Column:
    return F.split(F.col("text"), r"\s+")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        _trunc6(F.size(F.array_distinct(toks)) / F.size(toks)).alias("unique_ratio"),
        _trunc6(
            (F.length("text") - (F.size(toks) - 1)) / F.size(toks)
        ).alias("avg_token_len"),
    )


def token_count_oracle() -> str:
    return r"""
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split_regex(text, '\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(text, '\s+'))) AS n_unique,
               FLOOR(len(list_distinct(string_split_regex(text, '\s+'))) * 1.0
                     / len(string_split_regex(text, '\s+')) * 1e6) / 1e6 AS unique_ratio,
               FLOOR((length(text) - (len(string_split_regex(text, '\s+')) - 1)) * 1.0
                     / len(string_split_regex(text, '\s+')) * 1e6) / 1e6 AS avg_token_len
        FROM documents ORDER BY doc_id
    """


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword / character-class ratios.

    Mirrors standard pretraining-corpus filters (length bounds, stopword
    fraction, symbol fraction) as one declarative projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    stoplist = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stoplist, t)))
    digit_chars = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    space_chars = F.length(F.regexp_replace(F.col("text"), r"[^ ]", ""))
    # try_divide == DuckDB's x/0 -> NULL: a zero-length document must
    # yield NULL ratios (and a NULL score), not crash the whole scan
    # under ANSI mode (found by tools/fuzz_edge_docs.py, round 6)
    stop_ratio = F.try_divide(stop_hits, n_tokens)
    digit_ratio = F.try_divide(digit_chars, F.length("text"))
    length_ok = (n_tokens >= 10) & (n_tokens <= 1000)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        _trunc6(stop_ratio).alias("stop_ratio"),
        _trunc6(digit_ratio).alias("digit_ratio"),
        _trunc6(F.try_divide(space_chars, F.length("text"))).alias("space_ratio"),
        length_ok.alias("length_ok"),
        _trunc6(
            F.when(length_ok, 0.5).otherwise(0.0) + stop_ratio * 0.3
            + (1.0 - digit_ratio) * 0.2
        ).alias("quality_score"),
    )


def text_quality_oracle() -> str:
    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS)
    return rf"""
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(text, '\s+') AS toks,
                 len(string_split_regex(text, '\s+')) AS n_tokens,
                 len(list_filter(string_split_regex(text, '\s+'),
                     x -> x IN ({stoplist}))) AS stop_hits,
                 length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
                 length(regexp_replace(text, '[^ ]', '', 'g')) AS space_chars
          FROM documents
        )
        SELECT doc_id, n_tokens, stop_hits,
               FLOOR(stop_hits * 1.0 / n_tokens * 1e6) / 1e6 AS stop_ratio,
               FLOOR(digit_chars * 1.0 / length(text) * 1e6) / 1e6 AS digit_ratio,
               FLOOR(space_chars * 1.0 / length(text) * 1e6) / 1e6 AS space_ratio,
               n_tokens BETWEEN 10 AND 1000 AS length_ok,
               FLOOR((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END
                      + (stop_hits * 1.0 / n_tokens) * 0.3
                      + (1.0 - digit_chars * 1.0 / length(text)) * 0.2) * 1e6) / 1e6
                 AS quality_score
        FROM t ORDER BY doc_id
    """


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram heuristic class).

    CJK codepoints short-circuit to 'zh'; otherwise argmax of marker-word
    hits with a deterministic tie order (en > es > fr > de > unknown).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        lst = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(lst, t)))
    best = F.greatest(*scores.values())
    pred = (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(best == 0, "unknown")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .when(scores["fr"] == best, "fr")
        .otherwise("de")
    )
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("predicted"),
        (pred == F.col("lang")).alias("is_match"),
    )


def langid_heuristic_oracle() -> str:
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            rf"len(list_filter(string_split_regex(text, '\s+'), x -> x IN ({lst}))) AS score_{lang}"
        )
    scores_sql = ",\n                 ".join(score_exprs)
    return rf"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 {scores_sql}
          FROM documents
        ),
        best AS (
          SELECT *, GREATEST(score_en, score_es, score_fr, score_de) AS best_score,
                 CASE
                   WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                   WHEN GREATEST(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                   WHEN score_en = GREATEST(score_en, score_es, score_fr, score_de) THEN 'en'
                   WHEN score_es = GREATEST(score_en, score_es, score_fr, score_de) THEN 'es'
                   WHEN score_fr = GREATEST(score_en, score_es, score_fr, score_de) THEN 'fr'
                   ELSE 'de'
                 END AS predicted
          FROM scored
        )
        SELECT doc_id, lang, score_en, score_es, score_fr, score_de,
               predicted, predicted = lang AS is_match
        FROM best ORDER BY doc_id
    """


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text + 64-bit prefix, plus a
    coarse locality bucket (first 2 hex chars) usable as a shard key."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    h = F.md5(normalized)
    return docs.select(
        "doc_id",
        h.alias("content_md5"),
        F.substring(h, 1, 16).alias("fingerprint64"),
        F.substring(h, 1, 2).alias("shard_bucket"),
    )


def doc_fingerprint_oracle() -> str:
    return r"""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5,
               substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fingerprint64,
               substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 2) AS shard_bucket
        FROM documents ORDER BY doc_id
    """


def tfidf_top_terms(spark: SparkSession, sf_dir: str, top_k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF.

    Classic corpus-weighting operator for pretraining-data curation (rare-
    term extraction, topic keying). Fully declarative: one shuffle for the
    per-(doc, term) TF count, one (map-side-combined, ~vocab-sized) for the
    document-frequency aggregate, and a per-doc top-k window. The corpus
    size joins in as a broadcast 1-row aggregate, so nothing collects to
    the driver. idf = ln((N+1)/(df+1)) in float64 — identical arithmetic in
    the DuckDB oracle.

    Deliberate non-fusions, measured against the alternatives:
      - dfreq is NOT broadcast-hinted: AQE broadcasts it when the vocab is
        small and falls back to a skew-aware shuffle join when it is not —
        a forced broadcast caps the operator at driver-memory vocab sizes.
      - dfreq is NOT fused into a per-term collect_list postings pass (the
        dedup_ngram_jaccard trick): word df is Zipfian, so the hottest
        term's posting list is O(corpus docs) in one task's memory. The
        separate aggregate moves only partial (term, count) rows instead.
      - no trailing orderBy: the driver compare is order-insensitive and
        the result is per-doc top-k; a global range sort is cosmetics.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = cpu_parallel(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds both the df aggregate and the scoring join; pinned so the
    # corpus is tokenized+shuffled once, not once per consumer — via
    # swap_pin (VERDICT r12 item 4 sweep: a bare persist here accumulated
    # one CacheManager entry per invocation, invisible to release_pins)
    from .cachereg import swap_pin

    tf = swap_pin(
        "text.tfidf.tf",
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", _trunc6(F.col("tfidf")).alias("tfidf"), "rnk")
    )


def tfidf_top_terms_oracle(top_k: int = 3) -> str:
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks WHERE term != '' GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS tfidf_raw
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ),
        ranked AS (
          SELECT doc_id, term, tf, tfidf_raw,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf_raw DESC, term ASC) AS rnk
          FROM scored
        )
        SELECT doc_id, term, tf, FLOOR(tfidf_raw * 1e6) / 1e6 AS tfidf, rnk
        FROM ranked WHERE rnk <= {top_k}
        ORDER BY doc_id, rnk
    """


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus MLE bigram model.

    The classic cheap LM-based quality filter: score(doc) = mean over its
    bigrams of -ln p(w2 | w1), where p is the maximum-likelihood estimate
    over the whole corpus (count(w1 w2) / count(w1-as-first-token)). Docs
    with unusually high surprisal are boilerplate/garbled candidates; low
    surprisal flags templated/duplicated text. Scoring corpus == counting
    corpus, so every bigram has count >= 1 and the MLE needs no smoothing.

    Plan: bigrams are built array-natively (zip_with over shifted slices —
    same O(n) trick as dedup shingling), exploded once; the bigram and
    first-token count aggregates join back onto the postings (both shuffle
    on their own key, AQE picks broadcast when the vocab fits); one final
    groupBy(doc) averages. Rounded to 4 decimals like geomean since a
    double mean's accumulation order is partition-dependent at the 1e-15
    level.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.lower("text"), r"\s+")
    n = F.size(toks)
    w1s = F.slice(toks, 1, n - 1)
    w2s = F.slice(toks, 2, n - 1)
    bigrams = F.zip_with(w1s, w2s, lambda x, y: F.struct(x.alias("w1"), F.concat_ws(" ", x, y).alias("bg")))
    big = (
        docs.select("doc_id", F.explode(F.when(n >= 2, bigrams)).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.bg").alias("bg"))
    )
    cb = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    cu = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
    scored = (
        big.join(cb, "bg")
        .join(cu, "w1")
        .withColumn("surprisal", -F.log(F.col("c_bg") / F.col("c_w1")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("surprisal"), 4).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


def bigram_surprisal_oracle() -> str:
    return r"""
        WITH d AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents
        ),
        big AS (
          SELECT doc_id, w1, w1 || ' ' || w2 AS bg FROM (
            SELECT doc_id,
                   unnest(toks[1:len(toks) - 1]) AS w1,
                   unnest(toks[2:len(toks)]) AS w2
            FROM d WHERE len(toks) >= 2
          )
        ),
        cb AS (SELECT bg, COUNT(*) AS c_bg FROM big GROUP BY bg),
        cu AS (SELECT w1, COUNT(*) AS c_w1 FROM big GROUP BY w1)
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               ROUND(AVG(-LN(c_bg * 1.0 / c_w1)), 4) AS avg_surprisal
        FROM big JOIN cb USING (bg) JOIN cu USING (w1)
        GROUP BY doc_id
        ORDER BY doc_id
    """


# GPT-2-style pretokenizer, constrained to RE2-compatible syntax (no
# lookahead) so Spark (Java regex) and DuckDB (RE2) extract identical
# token streams: contraction suffixes, space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE-ish token statistics: the pretokenizer pass every
    byte-pair-encoding tokenizer (GPT-2/tiktoken family) runs before merges,
    as a deterministic engine-portable regex over lowered text.

    `tokens_per_word` is the fertility ratio against the whitespace
    tokenizer — the standard "how many BPE pieces per word" cost signal a
    training-data pipeline budgets context length with.

    Scale: pure per-row narrow projection — no shuffle except the
    presentation sort; regexp_extract_all runs inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    pieces = F.regexp_extract_all(low, F.lit(BPE_REGEX), F.lit(0))
    # drop pure-whitespace pieces: they are separators, not tokens
    toks = F.filter(pieces, lambda p: p.rlike(r"\S"))
    ws = F.split(low, r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens_bpe"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_bpe"),
        _trunc6(
            F.length("text") / F.nullif(F.size(toks), F.lit(0))
        ).alias("chars_per_token"),
        _trunc6(
            F.size(toks) / F.nullif(F.size(ws), F.lit(0))
        ).alias("tokens_per_word"),
    ).orderBy("doc_id")


def token_count_bpe_oracle() -> str:
    pat = BPE_REGEX.replace("'", "''")
    return rf"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(regexp_extract_all(lower(text), '{pat}', 0),
                             p -> regexp_matches(p, '\S')) AS toks,
                 string_split_regex(lower(text), '\s+') AS ws
          FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens_bpe,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_bpe,
               FLOOR(length(text) * 1.0 / NULLIF(len(toks), 0) * 1e6) / 1e6
                 AS chars_per_token,
               FLOOR(len(toks) * 1.0 / NULLIF(len(ws), 0) * 1e6) / 1e6
                 AS tokens_per_word
        FROM t ORDER BY doc_id
    """


# RE2-compatible (no lookaround/backrefs) so Spark's Java regex and any
# RE2-based SQL engine agree on every match. Replacement order is fixed:
# email -> ipv4 -> phone (an email can contain digits; never the reverse).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
)


def scrub_pii(text_col: Column) -> dict[str, Column]:
    """Core PII scrub: returns the masked text column plus a per-pattern
    match-count column. Pure regexp builtins — whole-stage codegen, no
    Python boundary, scan-speed at any corpus size."""
    out: dict[str, Column] = {}
    masked = text_col
    for name, pat, repl in PII_PATTERNS:
        out[f"n_{name}"] = F.size(F.regexp_extract_all(masked, F.lit(pat), F.lit(0))).cast(
            "bigint"
        )
        masked = F.regexp_replace(masked, pat, repl)
    out["masked"] = masked
    return out


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass over the corpus: per-doc counts of masked
    emails / IPv4 addresses / phone numbers, a total, and the md5 of the
    scrubbed text (the hash proves the masked output itself matches across
    engines, not just the counts).

    The standard pre-training redaction step (the C4/Dolma pipelines run
    exactly this shape). One narrow projection — no shuffle, no UDF; at
    100 TB this runs at parquet scan speed and the masked text would be
    written back through the partitioned sink unchanged in shape.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cols = scrub_pii(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_phone"].alias("n_phone"),
        (cols["n_email"] + cols["n_ipv4"] + cols["n_phone"]).alias("n_pii_total"),
        F.md5(cols["masked"]).alias("masked_md5"),
    )


def pii_scrub_oracle() -> str:
    email_pat, ipv4_pat, phone_pat = (p for _, p, _ in PII_PATTERNS)
    return rf"""
        WITH m AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(text, '{email_pat}', 0)) AS n_email,
                 regexp_replace(text, '{email_pat}', '[EMAIL]', 'g') AS t1
          FROM documents
        ),
        m2 AS (
          SELECT doc_id, n_email,
                 len(regexp_extract_all(t1, '{ipv4_pat}', 0)) AS n_ipv4,
                 regexp_replace(t1, '{ipv4_pat}', '[IP]', 'g') AS t2
          FROM m
        ),
        m3 AS (
          SELECT doc_id, n_email, n_ipv4,
                 len(regexp_extract_all(t2, '{phone_pat}', 0)) AS n_phone,
                 regexp_replace(t2, '{phone_pat}', '[PHONE]', 'g') AS t3
          FROM m2
        )
        SELECT doc_id,
               CAST(n_email AS BIGINT) AS n_email,
               CAST(n_ipv4 AS BIGINT) AS n_ipv4,
               CAST(n_phone AS BIGINT) AS n_phone,
               CAST(n_email + n_ipv4 + n_phone AS BIGINT) AS n_pii_total,
               md5(t3) AS masked_md5
        FROM m3 ORDER BY doc_id
    """


VOCAB_SIZE = 256


def vocab_coverage(
    spark: SparkSession, sf_dir: str, vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """Per-document vocabulary coverage / OOV rate against a corpus-derived
    top-N term vocabulary — the tokenizer-fit check run before committing a
    vocab (a domain whose OOV rate spikes needs vocab or normalization
    work), and the closed-vocab twin of `token_count_bpe`'s fertility.

    Vocab = top `vocab_size` terms by corpus frequency (ties broken by
    term, so the set is deterministic). Plan: one explode feeding a
    partial-aggregated term count, a sort-limit over the *aggregated* term
    table (never the token stream) for the vocab, then a broadcast join of
    that vocab back onto the token stream and a per-doc groupBy. The
    token-stream shuffle keys on doc_id — uniform — and the vocab is KB
    -sized at any corpus size.
    """
    toks = (
        cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", F.explode(_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            _trunc6(F.col("n_oov") / F.col("n_tok")).alias("oov_frac"),
        )
    )


def vocab_coverage_oracle(vocab_size: int = VOCAB_SIZE) -> str:
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
          FROM documents
        ), t AS (
          SELECT doc_id, term FROM toks WHERE term <> ''
        ), counts AS (
          SELECT term, COUNT(*) AS cnt FROM t GROUP BY term
        ), vocab AS (
          SELECT term FROM counts ORDER BY cnt DESC, term LIMIT {vocab_size}
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               FLOOR(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*) * 1e6) / 1e6 AS oov_frac
        FROM t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """


BPE_TOP_PAIRS = 50


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-wide adjacent
    character-pair frequencies within words, ranked — the statistic whose
    argmax becomes the next merge rule. One round is the honest SQL-shaped
    kernel (full BPE iterates: re-segment, re-count — the loop composes
    this operator the way dup_components composes label propagation).

    Plan: lower + whitespace-split (same tokenizer as token_count), one
    narrow explode to words, an in-row transform to the word's length-1
    substring pairs, a second explode, then a partial-aggregated count and
    a sort-limit top-K — no wide rows ever shuffle (pairs are 2 chars),
    and the top-K is a TakeOrdered, not a global sort.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents"))
    word = F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        )
    ).alias("pair")
    counts = (
        docs.select(word)
        .filter(F.length("word") >= 2)
        .select(pair)
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # TakeOrdered top-K first (distributed per-partition top-K + merge),
    # THEN rank the K survivors — a global row_number window before the
    # cut would single-reducer-sort the whole pair table
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).orderBy(
        "rank"
    )


def bpe_merge_candidates_oracle() -> str:
    return rf"""
        WITH words AS (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents
        ),
        pairs AS (
          SELECT unnest(list_transform(range(1, length(word)),
                                       i -> substr(word, i, 2))) AS pair
          FROM words WHERE length(word) >= 2
        ),
        counts AS (
          SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair
        )
        SELECT pair, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS BIGINT)
                 AS rank
        FROM counts
        QUALIFY rank <= {BPE_TOP_PAIRS}
        ORDER BY rank
    """


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-cost profile: BPE-piece fertility (pieces per
    whitespace word) and chars-per-piece, aggregated per `lang` — the table
    a multilingual pretraining budget reads to price context length by
    language (token_count_bpe gives the per-document view; this is the
    corpus rollup that drives mixing decisions).

    Exact integer sums (token/word/char totals) are aggregated per
    language and the ratios derive once per group — order-independent, so
    no float-accumulation nondeterminism. One scan, map-side partial
    aggregation to |langs| rows, then the only shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    pieces = F.regexp_extract_all(low, F.lit(BPE_REGEX), F.lit(0))
    toks = F.filter(pieces, lambda p: p.rlike(r"\S"))
    ws = F.split(low, r"\s+")
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_bpe"),
        F.size(ws).alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_bpe",
            "total_words",
            _trunc6(F.col("total_bpe") / F.col("total_words")).alias("fertility"),
            _trunc6(F.col("total_chars") / F.col("total_bpe")).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )


def tokenizer_fertility_oracle() -> str:
    pat = BPE_REGEX.replace("'", "''")
    return rf"""
        WITH t AS (
          SELECT lang,
                 len(list_filter(regexp_extract_all(lower(text), '{pat}', 0),
                                 p -> regexp_matches(p, '\S'))) AS n_bpe,
                 len(string_split_regex(lower(text), '\s+')) AS n_words,
                 length(text) AS n_chars
          FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               FLOOR(SUM(n_bpe) * 1.0 / SUM(n_words) * 1e6) / 1e6 AS fertility,
               FLOOR(SUM(n_chars) * 1.0 / SUM(n_bpe) * 1e6) / 1e6 AS chars_per_piece
        FROM t GROUP BY lang
        ORDER BY lang
    """


PMI_MIN_PAIR_DOCS = 5
PMI_TOP_K = 50
# Per-doc pair-domain cap (hot-doc probe, BENCH_NOTES): the doc-keyed
# self-join emits distinct-tokens²/2 pairs per document into one reducer
# key — the 1.8 MB probe doc alone is ~32M pairs and a 100k-distinct-token
# doc would be ~5e9. Each doc contributes only its CAP lexicographically
# smallest distinct tokens (deterministic and engine-portable: UTF-8
# binary order), bounding per-doc fan-out at CAP²/2 ≈ 131k while typical
# web docs (<512 distinct tokens) pass through uncapped.
PMI_DOC_TOKEN_CAP = 512


def pmi_cooccur_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K term pairs by pointwise mutual information over document-level
    co-occurrence — the classic collocation/phrase-mining signal (which
    term pairs appear in the same document far more often than chance).

    PMI(a,b) = ln(N * df_ab / (df_a * df_b)) over document frequencies,
    with a min-support cut (df_ab >= PMI_MIN_PAIR_DOCS) so rare-pair noise
    never reaches the ranking.

    Scale: tokens are distinct-reduced per doc BEFORE the pair build, and
    each doc contributes at most PMI_DOC_TOKEN_CAP distinct tokens (the
    lexicographically smallest — deterministic on both engines), so the
    (doc_id)-keyed self equi-join's per-doc fan-out is hard-bounded at
    CAP²/2 instead of distinct-tokens² (one giant doc was ~32M pairs in
    one reducer key on the hot-doc probe). Pair counting is one
    partial-aggregated groupBy; the final top-K is a TakeOrdered over the
    (already aggregated) pair table, never a global sort of raw pairs.
    Deterministic total order: (pmi desc, pair asc).
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # Per-doc capped sorted distinct token ARRAY, pinned once (r13): it
    # feeds both the df aggregate and the pair build, and the
    # lower+split+distinct+sort derivation is the dominant per-row cost —
    # previously re-run once per reference (three evaluations).
    from .cachereg import swap_pin

    base = swap_pin(
        "text.pmi.base",
        docs.select(
            "doc_id",
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.filter(
                            F.split(F.lower("text"), r"\s+"),
                            lambda t: t != F.lit(""),
                        )
                    )
                ),
                1,
                PMI_DOC_TOKEN_CAP,
            ).alias("ts"),
        ),
    )
    toks = base.select("doc_id", F.explode("ts").alias("tok"))
    n_docs = docs.count()
    df_t = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Pairs expand IN-ROW from the sorted array (r13, guide §2.3
    # "aggregate before you shuffle"): the former doc_id-keyed self
    # equi-join shuffled the token stream twice and concentrated each
    # doc's CAP²/2 fan-out in one reducer key; the higher-order-function
    # expansion generates the same a<b pairs map-side — the per-TASK
    # bound is unchanged (CAP²/2 per doc row) and the pair count
    # partial-aggregates before its only shuffle.
    pair_structs = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size(F.col("ts"))),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    pair_df = (
        base.select(F.explode(pair_structs).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .filter(F.col("df_ab") >= PMI_MIN_PAIR_DOCS)
    )
    dfa = df_t.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    dfb = df_t.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = F.log(F.lit(float(n_docs)) * F.col("df_ab") / (F.col("df_a") * F.col("df_b")))
    return (
        pair_df.join(dfa, "tok_a")
        .join(dfb, "tok_b")
        .select(
            "tok_a",
            "tok_b",
            F.col("df_ab").cast("bigint").alias("df_ab"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            _trunc6(pmi).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(PMI_TOP_K)
    )


def pmi_cooccur_terms_oracle() -> str:
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(list_slice(list_sort(list_distinct(
            list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
          )), 1, {PMI_DOC_TOKEN_CAP})) AS tok
          FROM documents
        ),
        df_t AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
        pairs AS (
          SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS df_ab
          FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY a.tok, b.tok
          HAVING COUNT(*) >= {PMI_MIN_PAIR_DOCS}
        )
        SELECT tok_a, tok_b,
               CAST(df_ab AS BIGINT) AS df_ab,
               CAST(fa.df AS BIGINT) AS df_a,
               CAST(fb.df AS BIGINT) AS df_b,
               FLOOR(LN((SELECT COUNT(*) FROM documents) * df_ab * 1.0
                        / (fa.df * fb.df)) * 1e6) / 1e6 AS pmi
        FROM pairs
        JOIN df_t fa ON fa.tok = pairs.tok_a
        JOIN df_t fb ON fb.tok = pairs.tok_b
        ORDER BY pmi DESC, tok_a, tok_b
        LIMIT {PMI_TOP_K}
    """


PPL_BUCKETS = 5


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by its mean
    unigram surprisal under the corpus MLE model (-ln count(t)/T averaged
    over the doc), split the corpus into PPL_BUCKETS quantile buckets on
    that score, and flag the middle buckets as `keep` (the CCNet recipe:
    head = boilerplate/templated, tail = garbled; the middle trains best).

    Scoring corpus == counting corpus, so every token has count >= 1 and
    the MLE needs no smoothing (same contract as bigram_surprisal).

    Scale shape: bucket boundaries are EXACT order statistics picked by
    global rank — and the global rank comes from the distributed
    two-phase pattern (``grouped_running_sum`` of 1s over a constant
    group: chunk by score, broadcast per-chunk prefix counts), never
    `row_number() OVER ()` (one task for the corpus).
    The 4 boundary rows then broadcast back over the scored table; a doc's
    bucket is how many boundaries its score exceeds, so boundary ties
    land deterministically in the lower bucket.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # The exploded token stream feeds BOTH the model counts and the
    # scoring join; unpinned, the lower+split+explode over every document
    # ran once per consumer (r13, guide §2.4/§5: the same explode
    # evaluated twice). Pinned via swap_pin like tfidf's tf table —
    # steady state one frame, released by the harness hooks. At cluster
    # scale this is the tokenize-once stage materialization every
    # CCNet-style scorer runs before counting and scoring.
    from .cachereg import swap_pin

    toks = swap_pin(
        "text.ppl.toks",
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
            ).alias("tok"),
        ),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # corpus token total as a broadcast 1-row aggregate OF the counts table
    # (not a separate toks.count() action — that would re-run the explode)
    total = counts.agg(F.sum("c").cast("double").alias("_T"))
    scored = (
        toks.join(counts, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            _trunc6(F.avg(-F.log(F.col("c") / F.col("_T")))).alias("logprob"),
        )
    )
    # r13 (guide §2.3): only the 4 quantile-boundary rows are selected, so
    # the full per-row rank is replaced by grouped_rank_pick — per-chunk
    # counts locate each boundary's chunk and only those chunks sort. The
    # quantile targets evaluate over the split's own chunk counts (the
    # SCORED population, docs with >= 1 token — exactly the oracle's
    # COUNT(*) OVER () domain; the chunk table replaces the separate
    # n_scored aggregate), and the final bucket join reads the pass's
    # input (p.rows). `scored` is pinned: the rank's count pass, its
    # selection pass and the bucket join each read it, and each read
    # would otherwise re-run the token aggregation.
    from .distributed import grouped_rank_pick

    scored = swap_pin("text.ppl.scored", scored)
    p = grouped_rank_pick(
        scored.withColumn("_g", F.lit(1)),
        "_g",
        F.struct("logprob", "doc_id"),
        F.expr(
            f"transform(sequence(1, {PPL_BUCKETS - 1}),"
            f" q -> (n * q) div {PPL_BUCKETS})"
        ),
    )
    bounds = p.picked.select(F.col("logprob").alias("bound"))
    bucket = F.sum(F.when(F.col("logprob") > F.col("bound"), 1).otherwise(0))
    return (
        p.rows.join(F.broadcast(bounds))
        .groupBy("doc_id", "n_toks", "logprob")
        .agg(bucket.cast("bigint").alias("bucket"))
        .withColumn(
            "keep", (F.col("bucket") > 0) & (F.col("bucket") < PPL_BUCKETS - 1)
        )
        .select("doc_id", "n_toks", "logprob", "bucket", "keep")
        .orderBy("doc_id")
    )


def perplexity_buckets_oracle() -> str:
    targets = f"[(n_docs * q) // {PPL_BUCKETS} for q in range(1, {PPL_BUCKETS})]"
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(
            list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
          ) AS tok
          FROM documents
        ),
        counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        total AS (SELECT COUNT(*) AS t FROM toks),
        scored AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_toks,
                 FLOOR(AVG(-LN(c * 1.0 / (SELECT t FROM total))) * 1e6) / 1e6
                   AS logprob
          FROM toks JOIN counts USING (tok)
          GROUP BY doc_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY logprob, doc_id) AS rk,
                 COUNT(*) OVER () AS n_docs
          FROM scored
        ),
        bounds AS (
          SELECT logprob AS bound FROM ranked
          WHERE list_contains({targets}, rk)
        )
        SELECT s.doc_id, s.n_toks, s.logprob,
               CAST(SUM(CASE WHEN s.logprob > b.bound THEN 1 ELSE 0 END)
                    AS BIGINT) AS bucket,
               SUM(CASE WHEN s.logprob > b.bound THEN 1 ELSE 0 END) > 0
                 AND SUM(CASE WHEN s.logprob > b.bound THEN 1 ELSE 0 END)
                     < {PPL_BUCKETS - 1} AS keep
        FROM scored s CROSS JOIN bounds b
        GROUP BY s.doc_id, s.n_toks, s.logprob
        ORDER BY s.doc_id
    """


def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) plus its normalized form
    (entropy / ln(distinct_terms)) — the cheap repetitiveness signal: near-0
    means one term dominates (templated/garbled), near-1 means uniform
    usage. Complements repetition_stats' n-gram duplicate fractions with a
    distribution-shaped view.

    Zero shuffle: the term histogram is computed in-row over the token
    array (same O(distinct*n) counting loop as repetition_stats, the
    explode-free shape that wins for web-doc-sized rows), and the entropy
    folds sequentially in double precision.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
    n = F.size(toks)
    counts = F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t)).cast("double"),
    )
    # DuckDB's list_sum([]) is NULL, not 0: a token-free document reports
    # NULL entropy in the oracle, so the fold must too (fuzz_edge_docs)
    ent = F.when(
        n > 0,
        F.aggregate(
            counts,
            F.lit(0.0),
            lambda acc, c: acc + (c / n) * F.log(n / c),
        ),
    )
    n_distinct = F.size(F.array_distinct(toks))
    norm = F.when(n_distinct > 1, ent / F.log(n_distinct.cast("double"))).otherwise(
        F.lit(0.0)
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_toks"),
        n_distinct.cast("bigint").alias("n_distinct"),
        _trunc6(ent).alias("entropy"),
        _trunc6(norm).alias("norm_entropy"),
    ).orderBy("doc_id")


def doc_entropy_oracle() -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
    return rf"""
        WITH d AS (
          SELECT doc_id, {toks} AS toks FROM documents
        ),
        h AS (
          SELECT doc_id,
                 len(toks) AS n_toks,
                 len(list_distinct(toks)) AS n_distinct,
                 list_sum([
                   (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / len(toks))
                   * LN(len(toks) * 1.0 / len(list_filter(toks, x -> x = t)))
                   for t in list_distinct(toks)
                 ]) AS ent
          FROM d
        )
        SELECT doc_id,
               CAST(n_toks AS BIGINT) AS n_toks,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               FLOOR(ent * 1e6) / 1e6 AS entropy,
               FLOOR(CASE WHEN n_distinct > 1 THEN ent / LN(n_distinct)
                          ELSE 0.0 END * 1e6) / 1e6 AS norm_entropy
        FROM h
        ORDER BY doc_id
    """


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES = {
    1: ("spark", "sort", "fast"),
    2: ("window", "stream"),
    3: ("filter", "group", "value"),
}


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-K documents per fixed keyword query —
    the lexical-retrieval primitive a training-data pipeline uses for
    targeted corpus search, decontamination against eval questions, and
    hard-negative mining for retrievers (the classic Okapi scoring:
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))).

    Scale: the query terms broadcast (a handful of rows against the
    corpus postings); postings build with one explode + groupBy(doc,
    term); df/avgdl are metadata-sized broadcast aggregates; per-query
    scoring touches only docs containing >= 1 query term, and the final
    top-K is a per-query window over that filtered set. No corpus-wide
    sort, no cross join.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    q_rows = [(qid, t) for qid, terms in BM25_QUERIES.items() for t in terms]
    queries = spark.createDataFrame(q_rows, "query_id int, tok string")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(queries), "tok")
        .join(F.broadcast(df_t.join(F.broadcast(queries), "tok").select("tok", "df")), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("part", idf * tf_part)
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            _trunc6(F.sum("part")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select(
            "query_id", F.col("rank").cast("bigint").alias("rank"), "doc_id",
            "n_terms_hit", "score",
        )
        .orderBy("query_id", "rank")
    )


def bm25_retrieval_oracle() -> str:
    q_rows = ", ".join(
        f"({qid}, '{t}')" for qid, terms in BM25_QUERIES.items() for t in terms
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(
            list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
          ) AS tok
          FROM documents
        ),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        ),
        df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        queries(query_id, tok) AS (VALUES {q_rows}),
        scored AS (
          SELECT q.query_id, tf.doc_id,
                 COUNT(*) AS n_terms_hit,
                 SUM(
                   LN((s.n_docs - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
                   * (tf.tf * ({BM25_K1} + 1)
                      / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                         + {BM25_B} * dl.dl / s.avgdl)))
                 ) AS score_raw
          FROM tf
          JOIN queries q ON q.tok = tf.tok
          JOIN df_t ON df_t.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s
          GROUP BY q.query_id, tf.doc_id
        ),
        ranked AS (
          SELECT query_id, doc_id, n_terms_hit,
                 FLOOR(score_raw * 1e6) / 1e6 AS score,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY FLOOR(score_raw * 1e6) / 1e6 DESC, doc_id ASC
                 ) AS rank
          FROM scored
        )
        SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
               CAST(n_terms_hit AS BIGINT) AS n_terms_hit, score
        FROM ranked WHERE rank <= {BM25_TOP_K}
        ORDER BY query_id, rank
    """


CODE_SYMBOLS = "{}();=<>[]#"
CODE_SCORE_TAU_PPM = 20_000  # >= 2% code symbols -> flagged as code


def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic per document: density of code punctuation
    ({ } ( ) ; = < > [ ] #) and semicolon count, with a ppm score and a
    flag at CODE_SCORE_TAU_PPM — the cheap first-pass router a pretraining
    pipeline uses to split code from natural language before
    language-specific quality rules run (fasttext-style classifiers
    replace it later; the plumbing is identical).

    Zero shuffle, whole-stage codegen only: each symbol count is
    length(text) - length(replace(text, sym)) — one pass per symbol over
    the row, no regex engine, no Python.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")

    def count_of(ch: str) -> Column:
        return n - F.length(F.replace(F.col("text"), F.lit(ch)))

    sym_total = None
    for ch in CODE_SYMBOLS:
        c = count_of(ch)
        sym_total = c if sym_total is None else sym_total + c
    return (
        docs.select(
            "doc_id",
            n.cast("bigint").alias("n_chars"),
            sym_total.cast("bigint").alias("sym_count"),
            count_of(";").cast("bigint").alias("semi_count"),
        )
        .withColumn(
            "code_score_ppm",
            F.when(
                F.col("n_chars") > 0,
                F.expr("(sym_count * 1000000) div n_chars"),
            )
            .otherwise(0)
            .cast("bigint"),
        )
        .withColumn("is_code", F.col("code_score_ppm") >= CODE_SCORE_TAU_PPM)
        .orderBy("doc_id")
    )


def code_detect_oracle() -> str:
    per_sym = " + ".join(
        f"(length(text) - length(replace(text, '{c}', '')))" for c in CODE_SYMBOLS
    )
    return f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST({per_sym} AS BIGINT) AS sym_count,
               CAST(length(text) - length(replace(text, ';', '')) AS BIGINT)
                 AS semi_count,
               CAST(CASE WHEN length(text) > 0
                    THEN (({per_sym}) * 1000000) // length(text)
                    ELSE 0 END AS BIGINT) AS code_score_ppm,
               (CASE WHEN length(text) > 0
                     THEN (({per_sym}) * 1000000) // length(text)
                     ELSE 0 END) >= {CODE_SCORE_TAU_PPM} AS is_code
        FROM documents
        ORDER BY doc_id
    """


HASH_FEATURE_BUCKETS = 256


def hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): lowercased whitespace tokens
    hashed into HASH_FEATURE_BUCKETS md5 buckets, one (doc_id, bucket,
    count) row per non-empty bucket — the fixed-width sparse
    bag-of-words vectorizer that feeds linear quality classifiers
    (quality_logreg_score consumes exactly this representation) without
    ever materializing a vocabulary.

    One explode + one partial-aggregated groupBy on (doc_id, bucket);
    no vocabulary broadcast, no global dictionary shuffle — the whole
    point of the trick at 100 TB. Bucket = first 8 md5 hex digits mod B,
    the same portable hash family as the sketches.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % HASH_FEATURE_BUCKETS
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("doc_id", "bucket")
    )


def hashing_trick_features_oracle() -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        )
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                 % {HASH_FEATURE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM toks WHERE tok <> ''
        GROUP BY doc_id, bucket
        ORDER BY doc_id, bucket
    """


# --- unigram-LM tokenizer piece scoring (the SentencePiece-unigram twin) ---

UNIGRAM_PIECE_MIN = 2
UNIGRAM_PIECE_MAX = 6
UNIGRAM_TOP_PIECES = 50


def unigram_lm_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer seeding round — the SentencePiece-unigram twin
    of ``bpe_merge_candidates`` (VERDICT r7 item 5): corpus-wide
    word-internal character substrings of length UNIGRAM_PIECE_MIN..MAX,
    scored by occurrence_count × piece_length (the likelihood-gain proxy
    the unigram seeder ranks its initial vocabulary by — frequent AND
    long pieces explain the most corpus characters), top-K with a
    deterministic tie-break. Full unigram training iterates
    EM-prune over exactly this candidate table the way full BPE iterates
    re-segment/re-count over bpe_merge_candidates' pair table.

    Plan: lower + whitespace split (the fleet tokenizer), explode to
    words, explode candidate lengths (sequence guarded ascending — the
    data-dependent descending-sequence trap), explode start offsets, one
    partial-aggregated count over (piece), then TakeOrdered top-K before
    the K-row rank window — the piece table shuffles once on a short
    string key and no wide rows move. All enumeration is JVM-side
    built-ins (substr is character-based in both engines).
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents"))
    word = F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    plen = F.explode(
        F.sequence(
            F.lit(UNIGRAM_PIECE_MIN),
            F.least(F.lit(UNIGRAM_PIECE_MAX), F.length("word")),
        )
    ).alias("plen")
    piece = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - F.col("plen") + 1),
            lambda i: F.col("word").substr(i, F.col("plen")),
        )
    ).alias("piece")
    counts = (
        docs.select(word)
        .filter(F.length("word") >= UNIGRAM_PIECE_MIN)
        .select("word", plen)
        .select(piece)
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "piece",
            F.length("piece").cast("bigint").alias("piece_len"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") * F.length("piece")).cast("bigint").alias("score"),
        )
    )
    top = counts.orderBy(F.desc("score"), F.asc("piece")).limit(UNIGRAM_TOP_PIECES)
    w = Window.orderBy(F.desc("score"), F.asc("piece"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).orderBy(
        "rank"
    )


def unigram_lm_pieces_oracle() -> str:
    lo, hi, k = UNIGRAM_PIECE_MIN, UNIGRAM_PIECE_MAX, UNIGRAM_TOP_PIECES
    return rf"""
        WITH words AS (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents
        ),
        lens AS (
          SELECT word, unnest(range({lo}, least({hi}, length(word)) + 1)) AS plen
          FROM words WHERE length(word) >= {lo}
        ),
        pieces AS (
          SELECT unnest(list_transform(range(1, length(word) - plen + 2),
                                       i -> substr(word, i, plen))) AS piece
          FROM lens
        ),
        counts AS (
          SELECT piece,
                 CAST(length(piece) AS BIGINT) AS piece_len,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(*) * length(piece) AS BIGINT) AS score
          FROM pieces GROUP BY piece
        )
        SELECT piece, piece_len, n, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, piece ASC) AS BIGINT)
                 AS rank
        FROM counts
        QUALIFY rank <= {k}
        ORDER BY rank
    """


def pii_risk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII risk report: document counts, how many documents
    carry any PII, per-pattern match totals, and PII density per 10k
    characters — the observability summary a redaction pipeline
    (pii_scrub is the row-level pass) publishes per ingest so a source
    whose scrape started leaking user data is caught at the REPORT, not
    by sampling masked rows. The density normalizes by corpus volume so
    a big clean source and a small leaky one rank correctly.

    One scan, the same RE2-portable PII_PATTERNS as pii_scrub (counts
    only — no masked-text materialization), one partial-aggregated
    groupBy over |sources| groups; metadata-sized output. A NULL source
    is reported as its own row (no silent drop); NULL text counts as a
    zero-char, zero-PII document on both engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cols = scrub_pii(F.col("text"))
    per_doc = docs.select(
        "source",
        F.coalesce(cols["n_email"], F.lit(0)).alias("e"),
        F.coalesce(cols["n_ipv4"], F.lit(0)).alias("i"),
        F.coalesce(cols["n_phone"], F.lit(0)).alias("p"),
        F.coalesce(F.length("text"), F.lit(0)).cast("bigint").alias("nch"),
    )
    total = F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(((F.col("e") + F.col("i") + F.col("p")) > 0).cast("long"))
            .cast("bigint")
            .alias("n_docs_with_pii"),
            F.sum("e").cast("bigint").alias("n_email"),
            F.sum("i").cast("bigint").alias("n_ipv4"),
            F.sum("p").cast("bigint").alias("n_phone"),
            F.sum("nch").cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_docs_with_pii",
            "n_email",
            "n_ipv4",
            "n_phone",
            # integer-exact density: matches * 10000 div chars (0 when empty)
            F.when(F.col("n_chars") > 0, F.expr(
                "(n_email + n_ipv4 + n_phone) * 10000 div n_chars"
            ))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("pii_per_10k_chars"),
        )
        .orderBy("source")
    )


def pii_risk_profile_oracle() -> str:
    email_pat, ipv4_pat, phone_pat = (p for _, p, _ in PII_PATTERNS)
    return rf"""
        WITH m AS (
          SELECT source,
                 COALESCE(len(regexp_extract_all(text, '{email_pat}', 0)), 0) AS e,
                 COALESCE(len(regexp_extract_all(
                     regexp_replace(text, '{email_pat}', '[EMAIL]', 'g'),
                     '{ipv4_pat}', 0)), 0) AS i,
                 COALESCE(len(regexp_extract_all(
                     regexp_replace(regexp_replace(text, '{email_pat}', '[EMAIL]', 'g'),
                                    '{ipv4_pat}', '[IP]', 'g'),
                     '{phone_pat}', 0)), 0) AS p,
                 COALESCE(length(text), 0) AS nch
          FROM documents
        ),
        agg AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_with_pii,
                 CAST(SUM(e) AS BIGINT) AS n_email,
                 CAST(SUM(i) AS BIGINT) AS n_ipv4,
                 CAST(SUM(p) AS BIGINT) AS n_phone,
                 CAST(SUM(nch) AS BIGINT) AS n_chars
          FROM m GROUP BY source
        )
        SELECT source, n_docs, n_docs_with_pii, n_email, n_ipv4, n_phone,
               CAST(CASE WHEN n_chars > 0
                    THEN (n_email + n_ipv4 + n_phone) * 10000 // n_chars
                    ELSE 0 END AS BIGINT) AS pii_per_10k_chars
        FROM agg
        ORDER BY source
    """
