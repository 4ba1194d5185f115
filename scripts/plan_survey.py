#!/usr/bin/env python
"""Plan survey for the optimization rounds: dump explain('formatted') for
every benched key and tally plan-shape stats (Exchange count, scan count,
join strategies, Python-eval nodes, pushdown) so plan-level waste stands
out. Writes one .txt per key plus a survey.tsv summary, by default under
the git-ignored .scratch/plan_survey.

Usage: python scripts/plan_survey.py [out_dir] [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from banking_etl_pipeline_spark.plans import plan_of
from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import get_spark

NODES = [
    "Exchange",
    "ReusedExchange",
    "BroadcastExchange",
    "FileScan",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "Generate",
    "Window",
    "Sort",
]


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/plan_survey"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_survey")
    queries = all_queries()
    keys = [k for k in bench.HEADLINE if k in queries]
    subset = os.environ.get("SPARK_GRAFT_BENCH_KEYS")
    if subset:
        wanted = {k.strip() for k in subset.split(",") if k.strip()}
        keys = [k for k in keys if k in wanted]

    rows = []
    for key in keys:
        try:
            df = queries[key].build(spark, sf_dir)
            plan = plan_of(df)
        except Exception as exc:  # survey must not die on one key
            rows.append((key, {"ERROR": 1}, str(exc)[:120]))
            continue
        with open(os.path.join(out_dir, f"{key}.txt"), "w") as fh:
            fh.write(plan)
        counts = {}
        for node in NODES:
            # count operator headers like "* Exchange (7)" / "+- Exchange";
            # word-boundary so Exchange doesn't double-count ReusedExchange
            n = len(re.findall(rf"(?<![A-Za-z]){node} ", plan))
            if n:
                counts[node] = n
        rows.append((key, counts, ""))

    hdr = ["key"] + NODES + ["note"]
    with open(os.path.join(out_dir, "survey.tsv"), "w") as fh:
        fh.write("\t".join(hdr) + "\n")
        for key, counts, note in rows:
            fh.write("\t".join(
                [key] + [str(counts.get(n, 0)) for n in NODES] + [note]) + "\n")
    print(f"wrote {len(rows)} plans to {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
