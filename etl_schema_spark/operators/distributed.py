"""Distributed window primitives (SURVEY §4).

``Window.partitionBy(k)`` puts EVERY row of one key in ONE task. For a
low-cardinality key (``source``: ~10 values at 100 TB) that is a
single-reducer sort over terabytes — the one window shape that cannot
scale. These helpers compute the same results with bounded per-task state,
generalizing the two-phase distributed-rank pattern proven in
``corpus.epoch_shuffle``:

  grouped_running_sum   SUM(v) OVER (PARTITION BY g ORDER BY o ROWS
                        UNBOUNDED PRECEDING) — chunk each group by
                        (g, chunk_id(o)), aggregate per-(chunk, g)
                        subtotals (a metadata-sized table), prefix-sum
                        those into broadcast offsets, then add a
                        (chunk, g)-local running sum. No task ever sorts
                        more than one chunk's worth of one group.

The local window keys on (_pid, g) — cardinality |chunks| × |groups| — so
its exchange hash-distributes evenly even when ``g`` alone is hot.

ONE CHUNKING MODE. The two-phase pattern needs chunks that are contiguous
in (group, order). :func:`chunk_id` derives the chunk from the order key
with a PURE, order-preserving row function — a log-linear bin of a
numeric lead (the deterministic-bin idea of ``sketches``' log-histogram
and the reference's ``FLOOR(LOG10(x)/0.02)`` distribution buckets), the
hex-prefix bucket of an md5-style string lead. Both phases (the offsets
aggregate and the local window) compute the identical assignment under
any re-execution, partition count or task retry, so the input is plain
lineage: no sampling job, no frozen copy, and a lost partition simply
recomputes. The cost is that each phase evaluates the upstream itself;
the chunk exchange is the (chunk, group) hash shuffle the local window
needs anyway, and AQE coalesces it.

A sampled ``repartitionByRange`` split cannot replace the bin: its
boundary sampler is seeded by the runtime RDD id, so two executions of
the same plan split differently and the offsets silently disagree with
the rows they are added to (verified in r14 over a deterministic scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic hex buckets per session shuffle partition: >= 20-100x more
# distinct bucket values than partitions so the hash exchange spreads
# evenly (guide §2.5 — too few synthetic keys leave partitions empty),
# while the offsets table stays metadata-sized (|buckets| x |groups|).
BUCKETS_PER_PARTITION = 32

# Log-linear chunk id of a numeric lead: 2^MANTISSA_BITS equal-width bins
# per power of two (relative bin width 2^-MANTISSA_BITS). An integer lead
# below 2^(MANTISSA_BITS + 1) gets a bin of its own.
MANTISSA_BITS = 14
_EXP_LO = -1022  # smallest normal exponent: |x| below 2^_EXP_LO bins with 0
# +-inf and NaN (which Spark sorts above +inf) bin above every finite |x|
_MAG_MAX = ((1024 - _EXP_LO) << MANTISSA_BITS) + 1
_BIN_NULL = -(_MAG_MAX + 1)  # Spark sorts NULL first ascending
# The next field's bin, shifted non-negative, fits below one lead step.
_NEXT_SPAN = 2 * _MAG_MAX + 3


def hex_prefix_bucket(key: Column, n_buckets: int) -> Column:
    """Deterministic, order-preserving chunk id for a lowercase-hex key
    (md5 and friends): the first 8 hex digits' 32-bit value scaled into
    ``n_buckets`` with exact integer arithmetic.

    Monotone nondecreasing in the key's string order (hex digit order ==
    numeric order), uniform for hash-derived keys, and a pure function of
    the row. ``v * n_buckets`` stays exact: v < 2^32 and n_buckets <= 2^20
    keep the product under 2^52. A NULL key takes bucket -1 (Spark sorts
    NULL first). Any other key that does not start with 8 lowercase hex
    digits fails the query through ``raise_error``: ``conv`` would parse
    its valid prefix and land it in a bucket that breaks the order.
    """
    v = F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint")
    return (
        F.when(key.isNull(), F.lit(-1).cast("bigint"))
        .when(key.rlike("^[0-9a-f]{8}"), F.shiftright(v * F.lit(int(n_buckets)), 32))
        .otherwise(
            F.raise_error(
                F.concat(F.lit("chunk key is not lowercase hex: "), key)
            )
        )
    )


def _numeric_bin(x: Column) -> Column:
    """Order-preserving log-linear bin of a numeric column: the sign, then
    exponent and top MANTISSA_BITS mantissa bits of |x|.

    ``floor(log2 |x|)`` may land one off near a power of two; the mantissa
    term then reads -1 or 2^M and the sum is still the true bin, because
    ``|x| / 2^e`` is exact. Magnitudes below 2^_EXP_LO (zeros, subnormals)
    share bin 0 and NULL takes the lowest bin. The exponent is clamped at
    1023 and the mantissa ratio at 2, so +-inf and NaN land in one bin
    above every finite magnitude and no intermediate can overflow (ANSI
    mode raises ARITHMETIC_OVERFLOW on an infinite exponent cast to
    bigint)."""
    a = F.abs(x.cast("double"))
    e = F.floor(F.least(F.log2(a), F.lit(1023.0)))
    ratio = F.least(a / F.pow(F.lit(2.0), e), F.lit(2.0))
    m = F.floor((ratio - 1) * (1 << MANTISSA_BITS))
    mag = F.when(a < 2.0**_EXP_LO, 0).otherwise(
        (e - _EXP_LO) * (1 << MANTISSA_BITS) + m + 1
    )
    sign = F.when(x < 0, -1).otherwise(1)
    return F.when(x.isNull(), _BIN_NULL).otherwise(sign * mag)


def chunk_id(df: DataFrame, order_col: str) -> Column:
    """The chunk id of every two-phase rank: a pure, order-preserving
    (monotone nondecreasing) bigint function of the leading field of
    ``df[order_col]`` (the column itself unless it is a struct).

    - numeric lead: :func:`_numeric_bin`. An integer lead whose bin is
      exact (|x| < 2^(MANTISSA_BITS+1)) appends the bin of a numeric next
      field, so heavy ties on a small count split by their unique id.
      Monotone: leads sharing a bin are either equal (then the next field
      decides) or both inexact (both append 0).
    - string lead: :func:`hex_prefix_bucket`, which fails loudly on a key
      that is not lowercase hex.
    """
    dtype = df.schema[order_col].dataType
    col = F.col(order_col)
    fields = dtype.fields if isinstance(dtype, T.StructType) else []
    if fields:
        lead, lead_t = col.getField(fields[0].name), fields[0].dataType
    else:
        lead, lead_t = col, dtype
    if isinstance(lead_t, T.StringType):
        from ..session import shuffle_partitions

        nb = BUCKETS_PER_PARTITION * shuffle_partitions(df.sparkSession)
        return hex_prefix_bucket(lead, nb)
    if not isinstance(lead_t, T.NumericType):
        raise TypeError(f"no chunk id for an order key led by {lead_t}")
    lead_bin = _numeric_bin(lead)
    if (
        not isinstance(lead_t, T.IntegralType)
        or len(fields) < 2
        or not isinstance(fields[1].dataType, T.NumericType)
    ):
        return lead_bin
    exact = F.abs(lead.cast("double")) < float(2 << MANTISSA_BITS)
    nxt = _numeric_bin(col.getField(fields[1].name)) - _BIN_NULL
    return lead_bin * _NEXT_SPAN + F.when(exact, nxt).otherwise(0)


def _free_name(df: DataFrame, base: str) -> str:
    """``base`` with leading underscores added until no column of ``df``
    carries it: temp columns must not clobber caller columns (plan-audit
    regexes match ``_+pid``)."""
    name = base
    while name in df.columns:
        name = "_" + name
    return name


def _ranged_chunks(df, group_col, order_c, weight):
    """Shared first phase: chunk ``df`` by (group, chunk_id(order)) and
    return (ranged, chunk, c_ord, c_pid, c_off, c_cnt) where chunk is the
    metadata-sized per-chunk table (_pid, group, _off, _cnt) — _cnt the
    chunk's sum of ``weight``, _off the group's sum in earlier chunks."""
    c_ord, c_pid, c_off, c_cnt = (
        _free_name(df, b) for b in ("_ord", "_pid", "_off", "_cnt")
    )
    keyed = df.withColumn(c_ord, order_c)
    ranged = keyed.withColumn(c_pid, chunk_id(keyed, c_ord))
    per = ranged.groupBy(c_pid, group_col).agg(F.sum(weight).alias(c_cnt))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy(c_pid)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk = per.select(
        c_pid,
        group_col,
        F.coalesce(F.sum(c_cnt).over(w_off), F.lit(0)).alias(c_off),
        c_cnt,
    )
    return ranged, chunk, c_ord, c_pid, c_off, c_cnt


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def grouped_running_sum(
    df: DataFrame,
    group_col: str,
    order_col: Column | str,
    value_col: Column | str,
    out_col: str,
) -> DataFrame:
    """Per-group running sum (inclusive of the current row) in
    ``order_col`` order, without ever placing a whole group in one task.

    Equivalent to ``SUM(value) OVER (PARTITION BY group ORDER BY order
    ROWS UNBOUNDED PRECEDING)`` for unique ``(group, order)`` keys.
    Adds ``out_col``; preserves every input column. The chunk
    offsets are the per-chunk sums of ``value_col`` (module docstring).
    """
    value_c = _col(value_col)
    ranged, chunk, c_ord, c_pid, c_off, c_cnt = _ranged_chunks(
        df, group_col, _col(order_col), value_c
    )
    w_local = (
        Window.partitionBy(c_pid, group_col)
        .orderBy(c_ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(chunk.drop(c_cnt)), [c_pid, group_col])
        .withColumn(out_col, F.col(c_off) + F.sum(value_c).over(w_local))
        .drop(c_pid, c_off, c_ord)
    )


class _RankedSplit:
    """Result of grouped_rank_pick / grouped_rank_slice.

    rows    — the input, original columns only, as lineage: downstream
              stages read it instead of re-deriving the input by hand;
              every read re-evaluates it (the chunk id is a pure row
              function, so nothing needs freezing).
    counts  — (group, n) per-group row counts, derived from the chunk
              table (metadata-sized; no separate count query).
    picked  — grouped_rank_pick only: the rows at the requested global
              ranks, original columns plus the rank column.
    kept    — grouped_rank_slice only: the rows inside (lo, hi].
    """

    __slots__ = ("rows", "counts", "picked", "kept")

    def __init__(self, rows, counts, picked=None, kept=None):
        self.rows, self.counts = rows, counts
        self.picked, self.kept = picked, kept


def _counted_chunks(df, group_col, order_c):
    """_ranged_chunks counting rows, plus each group's total ``n``."""
    assert group_col != "n", "group_col 'n' collides with the count alias"
    ranged, chunk, c_ord, c_pid, c_off, c_cnt = _ranged_chunks(
        df, group_col, order_c, F.lit(1)
    )
    chunk = chunk.withColumn("n", F.sum(c_cnt).over(Window.partitionBy(group_col)))
    return ranged, chunk, c_ord, c_pid, c_off, c_cnt


def grouped_rank_pick(
    df: DataFrame,
    group_col: str,
    order_col: Column | str,
    targets_of_n: Column,
    rank_col: str = "rk",
    single_target: bool = False,
) -> _RankedSplit:
    """Rows at specific per-group GLOBAL ranks (1-based, in ``order_col``
    order) without ranking every row — the selection pushdown of
    ``grouped_running_sum`` for consumers that keep only a handful of
    order statistics (medians, percentiles, quantile boundaries).

    ``targets_of_n`` is an array<bigint> expression over a bigint column
    literally named ``n`` (the group's row count), e.g.
    ``F.expr("array((n + 1) div 2)")`` — evaluated per chunk against the
    metadata-sized chunk table, so target arithmetic is integer-exact.
    ``group_col`` must not itself be named ``n``.

    Where the running-sum form SORTS EVERY chunk and joins offsets onto
    EVERY row, this computes only per-chunk counts (one unsorted pass
    with map-side partials), locates each target's chunk from the
    broadcast prefix offsets, and sorts ONLY the chunks that contain a
    target. r14 (ADVICE r13): the targets landing in one chunk ride a
    single per-chunk LOCAL-RANK ARRAY, so the broadcast join never
    replicates a chunk and each selected chunk sorts exactly ONCE under a
    (pid, group) window. ``order_col`` must be a total order (tie-broken),
    so the row at global rank t is the same row under any chunking.
    """
    assert rank_col not in df.columns, f"rank_col {rank_col!r} already in input"
    ranged, chunk, c_ord, c_pid, c_off, c_cnt = _counted_chunks(
        df, group_col, _col(order_col)
    )
    c_lrn = _free_name(df, "_lrn")
    w_local = Window.partitionBy(c_pid, group_col).orderBy(c_ord)
    targets = (
        chunk.select(
            c_pid,
            group_col,
            c_off,
            c_cnt,
            F.explode(F.array_distinct(targets_of_n)).alias(rank_col),
        )
        .filter(
            (F.col(rank_col) > F.col(c_off))
            & (F.col(rank_col) <= F.col(c_off) + F.col(c_cnt))
        )
    )
    if single_target:
        # CALLER CONTRACT: targets_of_n yields exactly ONE rank per group
        # (e.g. the median), so at most one sel row exists per chunk —
        # the broadcast join cannot replicate a chunk and the plain
        # (pid, group) window needs no target-array bookkeeping. Skips
        # the per-chunk collect_list aggregate, which measured ~0.2-0.4 s
        # of extra stage latency per pass on mad_outliers at sf0.1 while
        # buying nothing for single-target selections (a lone target
        # cannot collide with itself).
        c_lt = _free_name(df, "_lt")
        sel = targets.select(
            c_pid, group_col, (F.col(rank_col) - F.col(c_off)).alias(c_lt), rank_col
        )
        picked = (
            ranged.join(F.broadcast(sel), [c_pid, group_col])
            .withColumn(c_lrn, F.row_number().over(w_local))
            .filter(F.col(c_lrn) == F.col(c_lt))
            .drop(c_lrn, c_lt, c_pid, c_ord)
        )
    else:
        # One row per target-holding chunk, carrying the SORTED array of
        # local ranks to keep (target - chunk offset); duplicate targets
        # collapse via array_distinct before the explode, and a chunk
        # holding several targets joins ONCE and sorts ONCE (ADVICE r13:
        # the r13 form replicated the chunk per target).
        c_lts = _free_name(df, "_lts")
        sel = targets.groupBy(c_pid, group_col, c_off).agg(
            F.array_sort(F.collect_list(F.col(rank_col) - F.col(c_off))).alias(c_lts)
        )
        picked = (
            ranged.join(F.broadcast(sel), [c_pid, group_col])
            .withColumn(c_lrn, F.row_number().over(w_local).cast("bigint"))
            .filter(F.array_contains(F.col(c_lts), F.col(c_lrn)))
            .withColumn(rank_col, F.col(c_off) + F.col(c_lrn))
            .drop(c_lrn, c_lts, c_off, c_pid, c_ord)
        )
    counts = chunk.select(group_col, "n").dropDuplicates([group_col])
    return _RankedSplit(rows=ranged.drop(c_ord, c_pid), counts=counts, picked=picked)


def grouped_rank_slice(
    df: DataFrame,
    group_col: str,
    order_col: Column | str,
    lo_of_n: Column,
    hi_of_n: Column,
) -> _RankedSplit:
    """Rows whose per-group global rank rk (1-based, ``order_col`` order)
    satisfies lo < rk <= hi, without ranking interior chunks.

    ``lo_of_n`` / ``hi_of_n`` are bigint expressions over a column named
    ``n`` (the group count), e.g. ``F.expr("n div 10")`` — the trimmed-
    mean/IQR shape. Chunks wholly inside (lo, hi] contribute every row
    with NO local sort (rank is irrelevant there — only the boundary
    chunks, at most two per group, rank locally and cut exactly). The
    returned ``kept`` frame's row order differs from the running-sum
    form; consumers must aggregate order-insensitively (exact DECIMAL
    sums / counts), which every rank consumer in this codebase already
    does for engine portability.
    """
    ranged, chunk, c_ord, c_pid, c_off, c_cnt = _counted_chunks(
        df, group_col, _col(order_col)
    )
    c_lo, c_hi = _free_name(df, "_lo"), _free_name(df, "_hi")
    touched = chunk.select(
        c_pid,
        group_col,
        c_off,
        c_cnt,
        lo_of_n.alias(c_lo),
        hi_of_n.alias(c_hi),
    ).filter(
        (F.col(c_off) + F.col(c_cnt) > F.col(c_lo)) & (F.col(c_off) < F.col(c_hi))
    )
    inside = (F.col(c_off) >= F.col(c_lo)) & (
        F.col(c_off) + F.col(c_cnt) <= F.col(c_hi)
    )
    interior = touched.filter(inside).select(c_pid, group_col)
    edge = touched.filter(~inside).select(c_pid, group_col, c_off, c_lo, c_hi)
    orig = [c for c in ranged.columns if c not in (c_ord, c_pid)]
    kept_i = ranged.join(F.broadcast(interior), [c_pid, group_col]).select(*orig)
    c_lrn = _free_name(df, "_lrn")
    w_local = Window.partitionBy(c_pid, group_col).orderBy(c_ord)
    kept_e = (
        ranged.join(F.broadcast(edge), [c_pid, group_col])
        .withColumn(c_lrn, F.row_number().over(w_local))
        .filter(
            (F.col(c_off) + F.col(c_lrn) > F.col(c_lo))
            & (F.col(c_off) + F.col(c_lrn) <= F.col(c_hi))
        )
        .select(*orig)
    )
    counts = chunk.select(group_col, "n").dropDuplicates([group_col])
    return _RankedSplit(
        rows=ranged.drop(c_ord, c_pid), counts=counts, kept=kept_i.unionByName(kept_e)
    )
