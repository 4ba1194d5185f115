"""CLI entry point ≅ the reference's ``python main.py`` driver
(`/root/reference/src/orchestration/main.py:305-311`): load a config, run
the selected entity pipelines, report per-entity quality results.

Two modes:

- ``--config cfg.json``: run a reference-shaped config
  (`config/config.json:23-86` ports unedited through
  :func:`pipeline.load_config`). A config with a ``redshift`` target
  needs ``--warehouse-dir``, the root its tables are published under.
- ``--demo``: seed the three entities the pipelines read (deterministic
  distributed seed, `domain/seed.py`) into a temp raw zone as CSV,
  synthesize the matching config, and run all three pipelines end-to-end
  into parquet under the same temp dir, which is removed on exit — the
  smoke run the reference's seed + main.py pair performs.
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
from .pipeline import load_config, run_all, select_specs
from .session import get_spark
from .sinks.writers import ParquetWarehouse, write_csv


_DEMO_ENTITIES = ("customer", "account", "transaction")


def _demo_config(raw_dir: str, out_dir: str) -> dict:
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
            for e in _DEMO_ENTITIES
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
                    "(required by a config with a redshift target)")
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
            print(json.dumps({"key": key, "doc": spec.doc}))
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
    wanted = args.pipelines.split(",") if args.pipelines else None

    def selected(specs: list) -> list:
        try:
            return select_specs(specs, wanted)
        except ValueError as e:
            ap.error(str(e))

    specs = [] if args.demo else selected(load_config(args.config))
    if not args.warehouse_dir and any(
            s.target.kind == "warehouse" for s in specs):
        ap.error("--warehouse-dir is required: the config loads warehouse "
                 "tables")

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="banking-etl-pipeline")
    try:
        warehouse = (ParquetWarehouse(spark, args.warehouse_dir)
                     if args.warehouse_dir else None)
        with tempfile.TemporaryDirectory(prefix="betl_") as tmp:
            if args.demo:
                specs = selected(load_config(
                    _demo_config(f"{tmp}/raw", f"{tmp}/out")))
                data = seed_all(spark, num_customers=200, num_accounts=300,
                                num_transactions=3000)
                for e in _DEMO_ENTITIES:
                    write_csv(data[f"{e}s"], f"{tmp}/raw/{e}s")
            results = run_all(spark, specs, warehouse)
        ok = True
        for entity, res in results.items():
            passed = bool(res.quality.get("overall_passed", True))
            ok = ok and passed
            print(json.dumps({
                "entity": entity,
                # the gate's count of the published rows, taken in the
                # gate's one aggregate: no job runs for it
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
