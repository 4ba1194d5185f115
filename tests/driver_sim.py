#!/usr/bin/env python
"""Fresh-process driver simulation: run the __spark_entry__ contract exactly
as the external verify driver does (entry smoke at sf0.001, queries vs DuckDB
oracle at sf0.01). Used by .claude/skills/verify; not a pytest module."""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from banking_etl_pipeline_spark.session import get_spark  # noqa: E402
from tests.oracle_compare import compare, duck_connection  # noqa: E402


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = get_spark(app_name="driver-sim")

    rows = mod.entry(spark).collect()
    print(f"entry: {len(rows)} rows")
    assert len(rows) > 0, "entry smoke failed"

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duck_connection(sf)
    q, osql = mod.queries(), mod.oracle_sql()
    # SPARK_GRAFT_ONLY_KEYS=a,b,c restricts the comparison to those keys
    # (debug / resume-after-crash runs).
    only = os.environ.get("SPARK_GRAFT_ONLY_KEYS")
    if only:
        wanted = {k.strip() for k in only.split(",") if k.strip()}
        unknown = wanted - set(q)
        if unknown:
            # a typo'd key list must not print "0/0 ok" and exit 0 — that
            # reads as success on a debug/resume run
            raise SystemExit(
                f"SPARK_GRAFT_ONLY_KEYS names unknown keys: {sorted(unknown)}"
            )
        q = {k: v for k, v in q.items() if k in wanted}
    bad = []
    for key, fn in q.items():
        if key not in osql:
            print(f"{key}: ERR no oracle in oracle_sql()")
            bad.append(key)
            continue
        try:
            res = compare(fn(spark, sf), con, osql[key])
        except AssertionError as exc:
            # compare's guards: a top-level array/map output column
            # or a HUGEINT/DECIMAL(38) oracle column
            print(f"{key}: ERR {exc}")
            bad.append(key)
            continue
        ok = res["columns_match"] and res["values_match"]
        detail = "" if ok else f" {res['detail']}"
        print(f"{key}: {'OK' if ok else 'MISMATCH'} "
              f"({res['spark_rows']} rows){detail}")
        if not ok:
            bad.append(key)
    print(f"summary: {len(q) - len(bad)}/{len(q)} ok; mismatched: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
