#!/usr/bin/env python
"""Per-stage profile of one benched key (find WHERE time goes before
changing anything). Runs the key exactly like bench.py (build, count
warmup, timed noop sink) with the UI enabled, then reads the UI REST API
for per-stage wall time, task count, input/shuffle bytes.

Usage: python scripts/profile_key.py KEY [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import get_spark


def main() -> None:
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"profile:{key}",
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4050"})
    spark.range(1000).write.format("noop").mode("overwrite").save()
    q = all_queries()[key]
    df = q.build(spark, sf_dir)
    df.count()
    sc = spark.sparkContext
    sc.setJobDescription(f"timed:{key}")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setJobDescription(None)

    app_id = sc.applicationId
    base = f"http://localhost:4050/api/v1/applications/{app_id}"
    with urllib.request.urlopen(f"{base}/jobs") as r:
        jobs = json.load(r)
    timed_stage_ids = set()
    for j in jobs:
        if j.get("description") == f"timed:{key}":
            timed_stage_ids.update(j.get("stageIds", []))
    with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
        stages = json.load(r)
    rows = []
    for s in stages:
        if s["stageId"] not in timed_stage_ids:
            continue
        dur = 0.0
        if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t1 = time.strptime(s["firstTaskLaunchedTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")
            t2 = time.strptime(s["completionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")
            dur = time.mktime(t2) - time.mktime(t1) + (
                int(s["completionTime"][20:23]) - int(s["firstTaskLaunchedTime"][20:23])) / 1e3
        rows.append((dur, s["stageId"], s["numCompleteTasks"],
                     s.get("executorRunTime", 0) / 1e3,
                     s.get("inputBytes", 0), s.get("shuffleReadBytes", 0),
                     s.get("shuffleWriteBytes", 0),
                     (s.get("name") or "").split("\n")[0][:90]))
    rows.sort(reverse=True)
    print(f"\n=== {key}: wall {wall:.3f}s, {len(rows)} stages in timed job ===")
    print(f"{'wall_s':>7} {'stage':>5} {'tasks':>5} {'cpu_s':>7} "
          f"{'input':>10} {'shRead':>10} {'shWrite':>10}  name")
    for dur, sid, nt, cpu, ib, srb, swb, name in rows:
        print(f"{dur:7.2f} {sid:5d} {nt:5d} {cpu:7.2f} "
              f"{ib:10d} {srb:10d} {swb:10d}  {name}")
    total_cpu = sum(r[3] for r in rows)
    print(f"total executor cpu: {total_cpu:.2f}s across "
          f"{sum(r[2] for r in rows)} tasks; wall {wall:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
