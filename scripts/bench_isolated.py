#!/usr/bin/env python
"""Isolated median-of-N bench headline (r7 VERDICT item 3).

The driver's single-pass bench total moves ±17% between identical trees
because session-persisted shared stages (LSH band/signature caches, truth
tables) are attributed to whichever consumer materializes them first. This
script produces the COMMITTED headline instead:

1. take a full-suite bench output (the raw per-key single-session numbers);
2. re-run every key at or above THRESHOLD seconds in its OWN fresh
   process (`SPARK_GRAFT_BENCH_KEYS=<key>`), median-of-3 steady-state runs
   (`SPARK_GRAFT_BENCH_RUNS=3 SPARK_GRAFT_BENCH_STAT=median`), so each
   slow key pays exactly its own shared-stage cost and GC/JIT noise is
   medianed out;
3. derive the headline as sum(isolated slow keys) + sum(fullsuite fast
   keys) and write the BENCH_ISOLATED artifact.

Usage:
  python scripts/bench_isolated.py [--fullsuite /tmp/bench.jsonl]
                                   [--out BENCH_ISOLATED_r08.json]
                                   [--threshold 1.0] [--sf-dir DIR]

Without --fullsuite, runs `python bench.py` once first (~6 min at sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_bench_output(text: str) -> tuple[dict[str, float], dict]:
    """Collect per_query_sec chunks + the trailing headline line."""
    queries: dict[str, float] = {}
    headline = {}
    for line in text.strip().splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        rec = json.loads(line)
        if rec.get("metric") == "per_query_sec":
            queries.update(rec["queries"])
        elif rec.get("metric") == "headline_queries_total_sec":
            headline = rec
    return queries, headline


def run_bench(env_extra: dict[str, str]) -> tuple[dict[str, float], dict]:
    env = dict(os.environ, **env_extra)
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return parse_bench_output(out.stdout)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fullsuite", help="existing bench.py stdout to reuse")
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_ISOLATED.json"))
    ap.add_argument("--threshold", type=float, default=1.0)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    base_env = {"SPARK_GRAFT_SF_DIR": args.sf_dir}
    if args.fullsuite:
        with open(args.fullsuite) as f:
            full, _ = parse_bench_output(f.read())
    else:
        print("full-suite pass ...", file=sys.stderr)
        full, _ = run_bench(base_env)

    slow = sorted((k for k, v in full.items() if v >= args.threshold),
                  key=lambda k: -full[k])
    print(f"{len(slow)}/{len(full)} keys >= {args.threshold}s -> isolated "
          "median-of-3 re-runs", file=sys.stderr)

    isolated: dict[str, float] = {}
    for i, key in enumerate(slow, 1):
        q, _ = run_bench({**base_env,
                          "SPARK_GRAFT_BENCH_KEYS": key,
                          "SPARK_GRAFT_BENCH_RUNS": "3",
                          "SPARK_GRAFT_BENCH_STAT": "median"})
        isolated[key] = q[key]
        print(f"  [{i}/{len(slow)}] {key}: fullsuite {full[key]:.2f}s "
              f"-> isolated {q[key]:.2f}s", file=sys.stderr)

    headline = round(
        sum(isolated.get(k, v) for k, v in full.items()), 3)
    base = os.path.basename(args.sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "") or 0.1)
    except ValueError:
        # custom scratch dirs ("scale10x") don't encode an sf — keep the
        # raw name rather than crashing after all measurement completed
        sf = base
    artifact = {
        "metric": "isolated_headline_total_sec",
        "value": headline,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(full),
        "fullsuite_total_sec": round(sum(full.values()), 3),
        "threshold_sec": args.threshold,
        "note": (
            "COMMITTED headline: every key at/above threshold re-measured "
            "in its own fresh process (SPARK_GRAFT_BENCH_KEYS=<key>) as a "
            "median of 3 steady-state runs, so shared-stage attribution "
            "and GC/JIT noise cannot move the total between identical "
            "trees; fast keys keep their full-suite figure. The raw "
            "single-session total is reported alongside for comparison."
        ),
        "keys": {k: {"fullsuite": full[k], "isolated": isolated[k]}
                 for k in slow},
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    print(json.dumps({k: artifact[k] for k in
                      ("metric", "value", "unit", "sf", "n_queries",
                       "fullsuite_total_sec")}))


if __name__ == "__main__":
    main()
