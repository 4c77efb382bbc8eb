"""Output checks against the DuckDB oracle twins.

The comparison is the engine's own correctness gate: the same canonical
row form and Arrow type classes as ``tools/check_correctness.py``, imported
from there rather than restated.
"""

from __future__ import annotations

import pyarrow as pa

from tools.check_correctness import TABLES, arrow_types, canon


def naive_utc(tbl: pa.Table) -> pa.Table:
    """Drop the UTC zone from zoned timestamp columns (Spark's Arrow export
    zones them; the oracle's are naive) so both sides canonicalise alike."""
    cols = []
    for field, col in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col)
    return pa.Table.from_arrays(cols, names=tbl.schema.names)


def rows(tbl: pa.Table) -> list[tuple]:
    return [tuple(r) for r in zip(*(c.to_pylist() for c in tbl.columns))]


class Oracle:
    """DuckDB over one directory of ``<table>.parquet`` files."""

    def __init__(self, sf_dir: str, tables=TABLES):
        import os

        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )

    def expected(self, sql: str, check_types: bool = True):
        """Canonical form of the oracle's answer: (columns, types, rows)."""
        tbl = naive_utc(self.con.execute(sql).arrow())
        types = arrow_types(tbl) if check_types else None
        return sorted(tbl.schema.names), types, canon(rows(tbl), tbl.schema.names)


def matches(expected, got: pa.Table) -> bool:
    """True when a Spark result (as Arrow) equals the oracle's answer in
    columns, type classes (when recorded) and order-insensitive values."""
    cols, types, want = expected
    got = naive_utc(got)
    if sorted(got.schema.names) != cols:
        return False
    if types is not None and arrow_types(got) != types:
        return False
    return canon(rows(got), got.schema.names) == want
