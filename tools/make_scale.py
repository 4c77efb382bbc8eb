"""Amplify the LLM-pipeline tables K-fold to produce an sf1-equivalent
corpus for local scale evidence (VERDICT r4 §Next-round item 4).

Usage: python tools/make_scale.py [K] [src_sf_dir] [out_dir]
       (defaults: 10, the sf0.1 test data, <repo>/.scale/sf1eq)

Replication is *replica-disjoint*, not cloning — cloning would plant exact
duplicates across replicas and grow every dedup pair set quadratically,
which is NOT what a 10x-bigger corpus looks like:

  documents   replica k suffixes every whitespace token with ``_r{k}``
              (k>0). Within-replica token/shingle structure — and thus the
              planted near-dup clusters — is preserved exactly; across
              replicas the shingle spaces are disjoint, so near-dup pairs,
              LSH collisions, and tf-idf vocabularies scale linearly.
  embeddings  replica k rotates each vector left by k dims (distinct ids).
              Within-replica cosine geometry is isometric (dot products
              invariant under the shared permutation); cross-replica
              cosines are decorrelated, so cosine-dup pairs scale ~linearly.
  events      replica k shifts event_id and user_id into disjoint ranges,
              keeping ts/event_type/value/props — 10x event density over
              the same time range with 10x the users (groups scale
              linearly; per-user/session row counts stay constant).

TPC-H tables are copied through unchanged (the scale run targets the
documents/embeddings/events-bound operators; TPC-H at true sf1 needs
dbgen and is out of scope for this evidence).
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, ".scale", "sf1eq")

COPY_TABLES = "region nation customer supplier part orders lineitem".split()

DOC_STRIDE = 1_000_000
VEC_STRIDE = 1_000_000
EVT_STRIDE = 100_000_000
USER_STRIDE = 10_000_000


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()

    for t in COPY_TABLES:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")

    BS = "\\"
    docs = " UNION ALL ".join(
        f"""SELECT doc_id + {k * DOC_STRIDE} AS doc_id,
                   {"text" if k == 0 else f"regexp_replace(text, '({BS}S+)', '{BS}1_r{k}', 'g')"} AS text,
                   lang, source,
                   {"n_chars" if k == 0 else f"length(regexp_replace(text, '({BS}S+)', '{BS}1_r{k}', 'g'))"} AS n_chars
            FROM read_parquet('{SRC}/documents.parquet')"""
        for k in range(K)
    )
    con.sql(f"COPY ({docs}) TO '{OUT}/documents.parquet' (FORMAT PARQUET)")

    vecs = " UNION ALL ".join(
        f"""SELECT vec_id + {k * VEC_STRIDE} AS vec_id,
                   {"embedding" if k == 0 else f"list_concat(embedding[{k + 1}:], embedding[1:{k}])::FLOAT[]"} AS embedding,
                   label
            FROM read_parquet('{SRC}/embeddings.parquet')"""
        for k in range(K)
    )
    con.sql(f"COPY ({vecs}) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)")

    evts = " UNION ALL ".join(
        f"""SELECT event_id + {k * EVT_STRIDE} AS event_id, ts,
                   user_id + {k * USER_STRIDE} AS user_id,
                   event_type, value, props
            FROM read_parquet('{SRC}/events.parquet')"""
        for k in range(K)
    )
    con.sql(f"COPY ({evts}) TO '{OUT}/events.parquet' (FORMAT PARQUET)")

    for t in ["documents", "embeddings", "events"]:
        n = con.sql(f"SELECT count(*) FROM read_parquet('{OUT}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows ({K}x)")


if __name__ == "__main__":
    main()
