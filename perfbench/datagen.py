"""Deterministic input generator for the benchmark.

``tables(root, scale)`` writes the ten engine tables (TPC-H-style star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same schemas and value domains as the engine's
testdata: uniform keys, 30-word shingle vocabulary with 5% planted
near-duplicate documents, unit-norm 64-d embeddings, a 30-day event
stream.  The tables come from a fixed seed, so every run at one scale
reads byte-identical inputs; they are generated once per checkout and
reused.

``ingest_batch(...)`` builds the ``ingest_write`` input: a JSONL rendering
of the events table in which the run seed picks which lines are corrupt
and which are replayed, and returns the exact counts the ingest path must
reproduce.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLE_SEED = 42

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "blue hot large new old red small".split()
_NOUN = "anvil bolt gear plate ring rod widget nut spring".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _make(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(_ADJ), n_part),
                        rng.integers(0, len(_NOUN), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(_ETYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= n_docs // 10 and rng.random() < 0.05 * 10 / 9:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[
                rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def tables(root: str, scale: float) -> str:
    """Return the directory holding the tables at ``scale``, generating it
    once (atomically) when absent."""
    d = os.path.join(root, f"sf{scale:g}")
    if os.path.isdir(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in _make(scale).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, d)
    return d


def input_bytes(sf_dir: str, names) -> int:
    return sum(os.path.getsize(os.path.join(sf_dir, f"{n}.parquet")) for n in names)


def _jsonl(tbl: pa.Table, rng, corrupt_p: float, replay_p: float, path: str):
    """Render ``tbl`` as JSONL; each row may be followed by a verbatim
    replay, and each emitted line may instead be a corrupt (truncated)
    line.  Returns (clean_lines, corrupt_lines, replayed_rows, clean_bytes)."""
    rows = tbl.to_pylist()
    clean = corrupt = replayed = clean_bytes = 0
    with open(path, "w") as f:
        for row in rows:
            line = json.dumps(row, default=str, separators=(",", ":"))
            copies = 2 if rng.random() < replay_p else 1
            replayed += copies - 1
            for _ in range(copies):
                if rng.random() < corrupt_p:
                    f.write(line[: len(line) // 2] + "\n")
                    corrupt += 1
                else:
                    f.write(line + "\n")
                    clean += 1
                    clean_bytes += len(line) + 1
    return clean, corrupt, replayed, clean_bytes


def ingest_batch(sf_dir: str, path: str, seed: int) -> dict:
    """Write the events table as JSONL to ``path``; the run seed picks the
    corrupt and the replayed lines.  Returns the injected counts."""
    rng = np.random.default_rng(seed)
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    # JSON has no timestamp type: render event time as ISO text, which the
    # schema-enforced reader parses back exactly
    ts = pc.strftime(tbl["ts"], format="%Y-%m-%dT%H:%M:%S")
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
    clean, corrupt, replayed, clean_bytes = _jsonl(tbl, rng, 0.02, 0.03, path)
    return {
        "rows": tbl.num_rows,
        "clean_lines": clean,
        "corrupt_lines": corrupt,
        "replayed_rows": replayed,
        "admitted_bytes": clean_bytes,
    }
