"""CLI entry point ≅ the reference's ``python main.py`` driver
(`/root/reference/src/orchestration/main.py:305-311`): load a config, run
the selected entity pipelines, report per-entity quality results.

Two modes:

- ``--config cfg.json``: run a reference-shaped config
  (`config/config.json:23-86` ports unedited through
  :func:`pipeline.load_config`).
- ``--demo``: seed the banking entities (deterministic distributed seed,
  `domain/seed.py`) into a temp raw zone as CSV, synthesize the matching
  config, and run all three pipelines end-to-end into a parquet warehouse —
  the smoke run the reference's seed + main.py pair performs.
- ``--query KEY [--sf-dir DIR] [--limit N] [--explain]``: run any
  registered analytic query from the SURVEY §2 inventory against a table
  directory and print the result (or its physical plan). ``--list``
  enumerates the registry.

Prints one JSON line per entity: quality summary + output row count, and a
final ``{"overall_passed": ...}`` line. Exit code 1 if any gate failed.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile

from .domain.seed import seed_all
from .pipeline import load_config, run_all
from .session import get_spark
from .sinks.writers import ParquetWarehouse, write_csv


def _demo_config(raw_dir: str, out_dir: str) -> dict:
    entities = ("customer", "account", "transaction")
    return {
        "pipelines": {
            e: {
                "source_type": "csv",
                "source_path": f"{raw_dir}/{e}s",
                "target_type": "parquet",
                "target_path": f"{out_dir}/{e}s",
                "write_mode": "overwrite",
                "partition_cols": (
                    ["transaction_year", "transaction_month"]
                    if e == "transaction"
                    else []
                ),
                "key_columns": [f"{e}_id"],
                "fail_on_quality_check": e != "transaction",
                "data_quality": {
                    "required_columns": [f"{e}_id"],
                    "key_columns": [f"{e}_id"],
                },
            }
            for e in entities
        }
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m banking_etl_pipeline_spark",
        description="Run config-driven entity pipelines (extract → "
        "transform → quality gate → load).",
    )
    ap.add_argument("--config", help="pipeline config JSON "
                    "(reference config.json shape)")
    ap.add_argument("--pipelines", help="comma-separated entity subset "
                    "(default: all in config)")
    ap.add_argument("--demo", action="store_true",
                    help="seed demo banking data and run all pipelines")
    ap.add_argument("--warehouse-dir", help="parquet warehouse root "
                    "(default: temp dir)")
    ap.add_argument("--query", help="run one registered query by key")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table directory for --query")
    ap.add_argument("--limit", type=int, default=20,
                    help="max rows to print for --query")
    ap.add_argument("--explain", action="store_true",
                    help="print the physical plan instead of rows")
    ap.add_argument("--list", action="store_true",
                    help="list registered query keys and exit")
    args = ap.parse_args(argv)

    if args.list:
        from .registry import all_queries

        for key, spec in sorted(all_queries().items()):
            print(json.dumps({"key": key, "doc": spec.doc,
                              "oracle": spec.oracle is not None}))
        return 0

    if args.query:
        from pyspark.sql import SparkSession

        from .registry import all_queries

        queries = all_queries()
        if args.query not in queries:
            print(f"unknown query {args.query!r}; use --list", file=sys.stderr)
            return 2
        owns = SparkSession.getActiveSession() is None
        spark = get_spark(app_name=f"query:{args.query}")
        try:
            df = queries[args.query].build(spark, args.sf_dir)
            if args.explain:
                from .plans import plan_of

                print(plan_of(df, "simple"))
            else:
                for row in df.limit(args.limit).collect():
                    print(json.dumps(row.asDict(recursive=True), default=str))
            return 0
        finally:
            if owns:
                spark.stop()

    if not args.config and not args.demo:
        ap.error("one of --config, --demo, --query or --list is required")

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="banking-etl-pipeline")
    tmp = tempfile.mkdtemp(prefix="betl_")
    try:
        if args.demo:
            data = seed_all(spark, num_customers=200, num_accounts=300,
                            num_transactions=3000)
            for name, df in data.items():
                write_csv(df, f"{tmp}/raw/{name}")
            cfg = _demo_config(f"{tmp}/raw", f"{tmp}/out")
            specs = load_config(cfg)
        else:
            specs = load_config(args.config)
        wanted = args.pipelines.split(",") if args.pipelines else None
        warehouse = ParquetWarehouse(
            spark, args.warehouse_dir or f"{tmp}/warehouse"
        )
        results = run_all(spark, specs, warehouse, wanted)
        ok = True
        for entity, res in results.items():
            passed = bool(res.quality.get("overall_passed", True))
            ok = ok and passed
            print(json.dumps({
                "entity": entity,
                # the gate's count of the published rows: counting
                # res.output would re-run the whole transform
                "rows": res.quality["total_rows"],
                "overall_passed": passed,
                "null_counts": res.quality.get("null_counts", {}),
                "duplicate_count": res.quality.get("duplicate_count", 0),
                "range_violations": res.quality.get("range_violations", {}),
            }))
        print(json.dumps({"overall_passed": ok}))
        return 0 if ok else 1
    finally:
        # ≅ main.py:300-302 — but never tear down a session we joined
        # (in-process callers like the test suite own theirs)
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
