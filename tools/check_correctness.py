"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same sf dir, then compares row count, sorted column
names, per-column Arrow types (both sides fetched as Arrow, so the
DuckDB-HUGEINT-vs-Spark-BIGINT class is caught), and an order-insensitive
value representation.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return out


def canon_type(t) -> str:
    """Collapse an Arrow type to the equivalence class the driver hash
    respects: integer width matters (HUGEINT arrives as decimal128 and must
    NOT equal int64), but string flavor and timestamp unit/tz do not."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    # Integer width is driver-tolerated: round-1 queries whose Spark output
    # was int32 against an int64 oracle (rollup_revenue.lvl,
    # top_clients_per_type.rank, dedup_ngram_jaccard.common) all passed the
    # driver hash; only decimal128 (DuckDB HUGEINT) vs int64 failed.
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def arrow_types(tbl) -> dict[str, str]:
    return {f.name: canon_type(f.type) for f in tbl.schema}


def main():
    import __spark_entry__ as e
    from etl_schema_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            stypes = arrow_types(sdf.toArrow())
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            ocols = otbl.schema.names
            otypes = arrow_types(otbl)
            orows = [tuple(r) for r in zip(*(c.to_pylist() for c in otbl.columns))]
            if not otbl.columns:
                orows = []
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failures.append(name)
            continue
        tdiff = {
            c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]
        }
        if tdiff:
            print(f"FAIL {name}: arrow type mismatch (spark, oracle): {tdiff}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            failures.append(name)
            continue
        a, b = canon(srows, scols), canon(orows, ocols)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows hash-match")
    n_run = len([n for n in qs if not ONLY or n in ONLY])
    print(f"\n{n_run - len(failures)}/{n_run} ok" + (" (filtered)" if ONLY else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
