"""Source-catalog behavior: the cpu_parallel master gate, the schema
read once per unchanged file, and the exactly-once restore."""

import os

from etl_schema_spark.sources.catalog import cpu_parallel, load_table

from .conftest import REPO, jobs_started


def test_cpu_parallel_auto_probes_local(spark, sf_dir):
    df = load_table(spark, sf_dir, "region")
    out = cpu_parallel(df)  # local[...] master → probe allowed
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= min(n, df.rdd.getNumPartitions())


def test_load_table_infers_schema_once_per_unchanged_file(spark, sf_dir, tmp_path):
    """Schema inference (a one-task footer job) runs on the first read of
    a file only: a second load_table of the unchanged file starts no job,
    and a same-path rewrite that adds a column is read with that column
    by both physical_schema and load_table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_schema_spark.sources.catalog import physical_schema

    d, path = str(tmp_path), str(tmp_path / "region.parquet")
    base = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    pq.write_table(base, path)
    assert jobs_started(spark, lambda: load_table(spark, d, "region"))
    assert jobs_started(spark, lambda: load_table(spark, d, "region")) == []

    extra = pa.array(range(base.num_rows), pa.int64())
    pq.write_table(base.append_column("r_extra", extra), path)
    assert "r_extra" in physical_schema(spark, d, "region").fieldNames()
    df = load_table(spark, d, "region")
    assert df.columns == base.column_names + ["r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == list(range(base.num_rows))


def test_load_table_unique_restores_pk_uniqueness(spark, tmp_path_factory):
    """The wave-9 opt-in exactly-once restore: on a corpus with an exact
    AND a conflicting key replay (the --wave9 fuzz shape), load_table_unique
    returns one row per primary key with a deterministic winner; on the
    already-unique base corpus it is row-identical to load_table."""
    import importlib.util

    from etl_schema_spark.sources.catalog import (
        PRIMARY_KEYS,
        load_table,
        load_table_unique,
        restore_unique,
    )

    spec = importlib.util.spec_from_file_location(
        "fuzz_edge_docs", os.path.join(REPO, "tools", "fuzz_edge_docs.py")
    )
    fuzz = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fuzz)
    d = str(tmp_path_factory.mktemp("wave9_corpus"))
    fuzz.build_corpus(d, wave9=True)

    for table in ("documents", "events", "embeddings"):
        pk = list(PRIMARY_KEYS[table])
        raw = load_table(spark, d, table)
        # the wave-9 corpus genuinely violates the precondition
        assert raw.count() > raw.select(*pk).distinct().count()
        uniq = load_table_unique(spark, d, table)
        assert uniq.count() == raw.select(*pk).distinct().count()
        # deterministic winner: two independent evaluations agree exactly
        a = sorted(map(str, uniq.collect()))
        b = sorted(map(str, load_table_unique(spark, d, table).collect()))
        assert a == b
        # the in-frame restore the streaming sinks run on each micro-batch
        # picks the same winners whatever the frame's physical column order
        shuffled = raw.select(*reversed(raw.columns))
        c = restore_unique(shuffled, table).select(*raw.columns)
        assert sorted(map(str, c.collect())) == a
    # a conflict the two column orders resolve differently: the registry
    # order (text before n_chars) decides, not the frame's physical order
    pair = spark.createDataFrame(
        [(1, "a", "en", "s", 9), (1, "b", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    flipped = pair.select(*reversed(pair.columns))
    assert [r.text for r in restore_unique(flipped, "documents").collect()] == ["a"]

    # conflicting replay resolves to the asc-NULLS-LAST minimum payload:
    # wave 9 plants (max doc_id, 'conflicting replay payload...') next to
    # the original text — the lexicographically smaller text wins
    docs = load_table(spark, d, "documents")
    max_id = docs.groupBy().max("doc_id").first()[0]
    kept = (
        load_table_unique(spark, d, "documents")
        .filter(f"doc_id = {max_id}")
        .select("text")
        .first()[0]
    )
    both = [
        r[0] for r in docs.filter(f"doc_id = {max_id}").select("text").collect()
    ]
    assert kept == min(both)


def test_load_table_unique_identity_on_unique_corpus(spark, sf_dir):
    from etl_schema_spark.sources.catalog import load_table, load_table_unique

    raw = load_table(spark, sf_dir, "nation")
    uniq = load_table_unique(spark, sf_dir, "nation")
    assert sorted(map(str, raw.collect())) == sorted(map(str, uniq.collect()))
