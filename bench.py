#!/usr/bin/env python
"""Query-suite timer: runs every non-streaming registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints short JSON lines to stdout: the
per-query timings in chunks, the complete per-query dict once more, and the
headline total LAST. The headline plus the per-query dict are also written
to BENCH_LAST.json next to this script.

Each query is executed to completion (foreach-noop action — full plan runs,
nothing collected to the driver beyond what the query itself returns),
twice after one warm-up count; a query's time is the faster run.

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import get_spark
from banking_etl_pipeline_spark.spec import QuerySpec
from banking_etl_pipeline_spark.streaming import stateful as stream_stateful
from banking_etl_pipeline_spark.streaming import windows as stream_windows


def bench_queries() -> dict[str, QuerySpec]:
    """Every registry query except the 12 streaming ones, in registry order.

    The streaming queries' wall time is start/stop harness latency of the
    replay-to-memory-sink test rig, not operator throughput — benching them
    would add ~20 s of pure harness noise."""
    streaming = {*stream_windows.QUERIES, *stream_stateful.QUERIES}
    return {k: s for k, s in all_queries().items() if k not in streaming}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "") or 0.1)
    except ValueError:
        # a directory name that encodes no numeric sf ("sf3rg") is reported
        # as the raw name instead of refusing to bench
        sf = base
    spark = get_spark(app_name="bench")
    queries = bench_queries()

    # one-time noop-sink + codegen warmup so the first timed query doesn't
    # absorb datasource-initialization cost (~2.5 s measured)
    spark.range(1000).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for key, spec in queries.items():
        df = spec.build(spark, sf_dir)
        df.count()  # warm the IO path / JIT once per query plan
        runs = []
        for _ in range(2):  # steady-state time, not GC/JIT noise
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[key] = round(min(runs), 3)

    total = round(sum(timings.values()), 3)
    # A consumer that keeps only the TAIL of stdout truncates one long line
    # mid-dict. Emit the per-query timings as several SHORT lines sorted
    # ascending by time — the slowest queries print LAST so any tail window
    # holds the informative (expensive) head — then the short headline line
    # at the very end.
    ordered = sorted(timings.items(), key=lambda kv: (kv[1], kv[0]))
    chunk = 20
    parts = [ordered[i:i + chunk] for i in range(0, len(ordered), chunk)]
    for i, part in enumerate(parts):
        print(json.dumps({
            "metric": "per_query_sec",
            "part": i + 1,
            "of": len(parts),
            "queries": dict(part),
            "sf": sf,
        }))
    # For a consumer that cannot reassemble the part lines, emit the
    # COMPLETE per-query dict once more in two forms:
    #   1. ONE compact {"metric": "per_query_sec", "queries": {...}} line
    #      immediately before the headline (ascending order, so the slowest
    #      keys survive any tail truncation);
    #   2. the same payload written to BENCH_LAST.json next to this script
    #      (headline carries the pointer), which no stdout window can cut.
    full_payload = {
        "metric": "per_query_sec",
        "queries": dict(ordered),
        "sf": sf,
    }
    print(json.dumps(full_payload))
    headline = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "per_query_file": "BENCH_LAST.json",
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LAST.json"), "w") as f:
            json.dump({**headline, "queries": dict(ordered)}, f, indent=1)
    except OSError:
        pass  # a read-only checkout must not fail the bench
    sys.stdout.flush()
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
