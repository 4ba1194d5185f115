#!/usr/bin/env python
"""Build an sf1-equivalent bench dataset by 10x-replicating sf0.1.

The test data ships parquet at sf{0.001,0.01,0.1} only; a claim that a
plan survives a scale-up deserves at least one measured datapoint above
sf0.1. This script replicates each SCALING table 10x with
per-replica key offsets — every replica joins within itself, exactly how
disjoint key ranges behave on a real 10x dataset — and copies the
fixed-size dimensions (region, nation) as-is, matching TPC-H semantics
where dimension cardinality is sf-independent.

Content columns are perturbed per replica where identity would distort
the workload (documents.text gets a per-replica marker token so the
near-dup structure doesn't explode 10x; embeddings get a tiny
deterministic first-component shift so cosine buckets stay spread).

Output: .scratch/sf1/*.parquet under the repo root (gitignored, ~170 MB).
Usage:  python scripts/make_scale_data.py [replicas]
Then:   SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1 python bench.py
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
# replica count R -> sf = 0.1*R under .scratch/sf{0.1*R:g}; default 10 -> sf1
DST_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# fixed-size dimensions: straight copy (TPC-H: 5 regions / 25 nations at
# every sf)
DIMS = ("region", "nation")

# DuckDB's default ~122k-row groups made the scale sets nearly
# unsplittable (documents: 1/2/5 row groups at sf1/sf3/sf10), so scans of
# the text tier ran 1-5 way on a 32-core box and the measured "constants"
# were idle cores. 16k-row groups keep every table splittable
# down to bytes/cores-sized partitions at all bench scales.
ROW_GROUP_ROWS = 16384

# scaling tables: key columns offset by replica * (max_key + 1) so FK
# relationships hold within each replica and key ranges are disjoint
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# key column → its id DOMAIN (FK columns share the parent PK's domain so
# replica-local joins stay consistent). The stride of a domain is computed
# from the domain's own values — max(col)+1 over every member column — not
# from the host table's PK: events.user_id is its own domain, and reusing
# the event_id stride would silently overlap replica user_id ranges if
# max(user_id) ever exceeded max(event_id).
DOMAIN_OF = {
    "c_custkey": "custkey", "o_custkey": "custkey",
    "s_suppkey": "suppkey", "l_suppkey": "suppkey",
    "p_partkey": "partkey", "l_partkey": "partkey",
    "o_orderkey": "orderkey", "l_orderkey": "orderkey",
    "event_id": "eventid", "user_id": "userid",
    "doc_id": "docid", "vec_id": "vecid",
}


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    DST = os.path.join(DST_ROOT, f"sf{0.1 * replicas:g}")
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()

    strides: dict[str, int] = {}
    for table, keys in KEYED.items():
        for col in keys:
            dom = DOMAIN_OF[col]
            mx = con.execute(
                f"SELECT max({col}) + 1 FROM '{SRC}/{table}.parquet'"
            ).fetchone()[0]
            strides[dom] = max(strides.get(dom, 0), mx)

    for table in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{table}.parquet') TO "
            f"'{DST}/{table}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
        print(f"{table}: copied (fixed-size dimension)")

    for table, keys in KEYED.items():
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'").fetchall()]
        exprs = []
        for c in cols:
            if c in keys:
                stride = strides[DOMAIN_OF[c]]
                exprs.append(f"{c} + r.i * {stride} AS {c}")
            elif table == "documents" and c == "text":
                # replica 0 keeps the original text bit-for-bit; others get
                # a marker token so cross-replica docs are near- not
                # exact-duplicates (identity would multiply every dup
                # cluster by the replica count)
                exprs.append(
                    "CASE WHEN r.i = 0 THEN text "
                    "ELSE text || ' r' || r.i END AS text")
            elif table == "embeddings" and c == "embedding":
                exprs.append(
                    "list_transform(embedding, (x, j) -> CASE WHEN j = 1 "
                    "THEN CAST(x + r.i * 0.001 AS FLOAT) ELSE x END) "
                    "AS embedding")
            else:
                exprs.append(c)
        sql = (
            f"COPY (SELECT {', '.join(exprs)} "
            f"FROM '{SRC}/{table}.parquet', range({replicas}) r(i)) "
            f"TO '{DST}/{table}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
        con.execute(sql)
        n = con.execute(
            f"SELECT count(*) FROM '{DST}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n} rows ({replicas}x)")


if __name__ == "__main__":
    main()
