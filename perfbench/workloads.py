"""The workloads.

A workload runs passes: pass 0 is the cold pass in a fresh session, later
passes are warm repeats.  Every timed span is either the call into the
engine (``build``: plan construction plus any eager work the call does)
or the action the harness takes on the result (``action``).  Output
checks run between spans, outside every timed region.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

import numpy as np

VIEWS_SQL = [
    "unified_view_events",
    "dedup_best_per_user",
    "hourly_rollup",
    "log_pdf_cdf",
    "tiered_views",
    "q3_shipping_priority",
]

LLM_CURATION = [
    "dedup_ngram_jaccard",
    "pack_sequences",
    "multimodal_decode_ppm",
]


class Ctx:
    """What a workload needs: the session, the recorder, the inputs and a
    place to count checked outputs."""

    def __init__(self, spark, rec, sf_dir, run_dir, seed):
        self.spark = spark
        self.rec = rec
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.outputs = 0
        self.correct = 0
        self.mismatched = 0
        self.scratch_held = 0  # bytes in scratch/checkpoint dirs at last pass end
        self.errors: list[str] = []
        self.facts: dict = {}

    def output(self, got, ok, what: str) -> None:
        """Count one checked output.  ``got`` is None when the operation
        producing it raised (already counted as failed); otherwise ``ok()``
        compares it with its expected value and a mismatch counts as a
        failed operation."""
        self.outputs += 1
        if got is None:
            return
        if ok():
            self.correct += 1
        else:
            self.mismatched += 1
            self.errors.append(f"output mismatch: {what}")

    def op(self, fn, what: str):
        """Run one timed operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.errors.append(f"{what}: {type(ex).__name__}: {ex}"[:500])
            return None


def query_set(names):
    """A workload over registry queries, order shuffled per pass by seed."""

    def prepare(ctx: Ctx):
        import __spark_entry__ as entry
        from check import Oracle

        qs = entry.queries()
        oracle_sql = entry.oracle_sql()
        oracle = Oracle(ctx.sf_dir)
        ctx.expected = {n: oracle.expected(oracle_sql[n]) for n in names}
        ctx.fns = {n: qs[n] for n in names}
        ctx.order_rng = np.random.default_rng(ctx.seed)

    def one_pass(ctx: Ctx, p: int):
        from check import matches

        for name in ctx.order_rng.permutation(names):
            name = str(name)
            with ctx.rec.span(p, "build", name):
                df = ctx.op(lambda: ctx.fns[name](ctx.spark, ctx.sf_dir), name)
            tbl = None
            if df is not None:
                with ctx.rec.span(p, "action", name):
                    tbl = ctx.op(df.toArrow, name)
            ctx.output(
                tbl, lambda: matches(ctx.expected[name], tbl), f"{name} pass {p}"
            )

    return prepare, one_pass


# ---------------------------------------------------------------- ingest


def _du(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def ingest_prepare(ctx: Ctx):
    from check import Oracle
    from datagen import ingest_batch

    ctx.jsonl = os.path.join(ctx.run_dir, "events.jsonl")
    ctx.injected = ingest_batch(ctx.sf_dir, ctx.jsonl, ctx.seed)
    ctx.admitted_bytes = ctx.injected["admitted_bytes"]
    ctx.oracle = Oracle(ctx.run_dir, ())


def ingest_pass(ctx: Ctx, p: int):
    """Quarantine a JSONL events batch through sources.jsonl, land its
    clean rows, drain them through a bounded stateful stream, write them
    date-partitioned, append a late batch with an added column, and read
    the evolved table back."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from check import matches
    from etl_schema_spark import sinks
    from etl_schema_spark.schemas.registry import table_schema
    from etl_schema_spark.sources.jsonl import read_jsonl, split_corrupt

    land = os.path.join(ctx.run_dir, f"land{p}")
    staged = os.path.join(ctx.run_dir, f"stage{p}")
    out = os.path.join(ctx.run_dir, f"out{p}")
    facts = ctx.facts.setdefault(p, {})

    with ctx.rec.span(p, "build", "ingest"):
        split = ctx.op(
            lambda: split_corrupt(
                read_jsonl(ctx.spark, ctx.jsonl, table_schema("events"))
            ),
            "ingest",
        )
    if split is None:
        ctx.output(None, None, "ingest")
        return
    clean, bad = split
    with ctx.rec.span(p, "action", "ingest"):
        counts = ctx.op(lambda: (clean.count(), bad.count()), "ingest")
    want = (ctx.injected["clean_lines"], ctx.injected["corrupt_lines"])
    ctx.output(counts, lambda: counts == want, f"ingest counts {counts} != {want} pass {p}")
    facts["rows"], facts["quarantined"] = counts or (0, 0)

    # the drain reads <dir>/events.parquet, so land the clean rows as one file
    with ctx.rec.span(p, "build", "land"):
        ctx.op(lambda: sinks.write_partitioned(clean.coalesce(1), staged), "land")
    clean.unpersist()
    parts = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    os.makedirs(land)
    if len(parts) == 1:
        os.replace(os.path.join(staged, parts[0]), os.path.join(land, "events.parquet"))
    shutil.rmtree(staged, ignore_errors=True)
    ctx.oracle.con.execute(
        f"CREATE OR REPLACE VIEW events AS "
        f"SELECT * FROM read_parquet('{os.path.join(land, 'events.parquet')}')"
    )

    drain = entry.queries()["streaming_hourly_counts"]
    with ctx.rec.span(p, "build", "drain"):
        df = ctx.op(lambda: drain(ctx.spark, land), "drain")
    tbl = None
    if df is not None:
        with ctx.rec.span(p, "action", "drain"):
            tbl = ctx.op(df.toArrow, "drain")
    want = ctx.oracle.expected(entry.oracle_sql()["streaming_hourly_counts"])
    ctx.output(tbl, lambda: matches(want, tbl), f"drain pass {p}")

    dated = ctx.spark.read.parquet(os.path.join(land, "events.parquet")).withColumn(
        "day", F.to_date("ts")
    )
    with ctx.rec.span(p, "build", "sink.write"):
        ctx.op(lambda: sinks.write_partitioned(dated, out, ["day"]), "sink.write")
    late = dated.filter(F.col("event_id") % 10 == 0).withColumn(
        "ingest_batch", F.lit(2)
    )
    with ctx.rec.span(p, "build", "sink.evolve"):
        ctx.op(lambda: sinks.append_evolved(ctx.spark, late, out, ["day"]), "sink.evolve")
    with ctx.rec.span(p, "build", "read_back"):
        back = ctx.op(lambda: sinks.read_evolved(ctx.spark, out), "read_back")
    tbl = None
    if back is not None:
        with ctx.rec.span(p, "action", "read_back"):
            tbl = ctx.op(back.toArrow, "read_back")
    want = ctx.oracle.expected(
        """
        SELECT *, CAST(ts AS DATE) AS day, CAST(NULL AS INTEGER) AS ingest_batch
        FROM events
        UNION ALL
        SELECT *, CAST(ts AS DATE) AS day, 2 AS ingest_batch
        FROM events WHERE event_id % 10 = 0
        """,
        check_types=False,
    )
    ctx.output(tbl, lambda: matches(want, tbl), f"read_back pass {p}")
    out_files, out_bytes = _du(out)
    land_files, land_bytes = _du(land)
    facts["sink_files"] = out_files + land_files
    facts["sink_bytes"] = out_bytes + land_bytes


class Workload(NamedTuple):
    prepare: Callable[[Ctx], None]
    one_pass: Callable[[Ctx, int], None]
    tables: list[str]  # inputs, for the input-bytes record
    warm_passes: int  # at least this many warm passes per run


WORKLOADS = {
    "llm_curation": Workload(*query_set(LLM_CURATION), ["documents"], 2),
    "ingest_write": Workload(ingest_prepare, ingest_pass, ["events"], 2),
    # not in BENCHMARK.json (the benchmark's time budget fits two workloads);
    # run by hand to isolate compile cost: its classes fit the codegen
    # cache, so warm passes compile nothing
    "views_sql": Workload(
        *query_set(VIEWS_SQL), "events customer orders lineitem".split(), 1
    ),
}
