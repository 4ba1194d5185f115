"""Seeded analytic test tables for the ``analytics_mix`` workload.

The registry queries read parquet tables through
``banking_etl_pipeline_spark.catalog.table``. This module writes a small,
seed-dependent copy of the five the benchmark's queries use (``customer``,
``part``, ``orders``, ``lineitem`` and the ``events`` stream), with the same
schemas and value domains as the engine's reference test tables, so the
benchmark never reads data from outside its own working directory.

Same seed, same bytes: every column comes from ``numpy.random.default_rng``
seeded with the workload seed, and rows are kept or dropped by a salted hash
of their key.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# rows per table at scale 1.0 (the reference test tables are scale 0.1)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}

ROW_GROUP_ROWS = 16_384


def _salted_keep(keys: np.ndarray, seed: int, salt: int,
                 drop_per_mille: int) -> np.ndarray:
    """Hash-salted row selection: drop about ``drop_per_mille``/1000 rows,
    a different subset per seed."""
    h = (keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFF))
    h ^= h >> np.uint64(29)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(32)
    return (h % np.uint64(1000)) >= np.uint64(drop_per_mille)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, span_days: int,
          n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray]) -> int:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=ROW_GROUP_ROWS)
    return t.num_rows


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the analytic tables for ``seed`` at ``scale``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 10) for k, v in BASE_ROWS.items()}
    rows: dict[str, int] = {}

    ck = np.arange(n["customer"], dtype=np.int64)
    ck = ck[_salted_keep(ck, seed, 1, 20)]
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, len(ck))]})

    pk = np.arange(n["part"], dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), len(pk))]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), len(pk))]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(10, 35, len(pk))],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, len(pk))],
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n["orders"], dtype=np.int64)
    ok = ok[_salted_keep(ok, seed, 2, 20)]
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.choice(ck, len(ok)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, len(ok))],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(ok)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, len(ok)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, len(ok))]})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.choice(ok, nl),
        "l_partkey": rng.integers(0, len(pk), nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, nl)})

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)).astype(
        "timedelta64[us]")
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return rows
