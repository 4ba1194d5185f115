#!/usr/bin/env python
"""Generate tests/driver_slow_skip.txt from a full-suite
`pytest --durations=0` log (r10, r9 VERDICT item 1b).

Selection: every test FILE keeps at least its KEEP_PER_FILE fastest tests
(module coverage is never lost); among the rest, the slowest tests are
moved to the skip list until the kept test time (call + setup + teardown)
fits BUDGET_SEC. The default run (`pytest tests/ -x -q`) then
deselects exactly these node ids (tests/conftest.py);
SPARK_GRAFT_FULL_TESTS=1 runs everything.

Usage: python scripts/gen_driver_slow_skip.py /tmp/pytest_full.log \
           [budget_sec] [keep_per_file]
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

KEEP_PER_FILE = 2
BUDGET_SEC = 180.0  # kept call+setup+teardown seconds; wall adds collection

DUR_RE = re.compile(r"^\s*([0-9.]+)s\s+(call|setup|teardown)\s+(\S+)\s*$")


def main() -> None:
    log = sys.argv[1]
    budget = float(sys.argv[2]) if len(sys.argv) > 2 else BUDGET_SEC
    keep_n = int(sys.argv[3]) if len(sys.argv) > 3 else KEEP_PER_FILE
    dur: dict[str, float] = defaultdict(float)
    for line in open(log):
        m = DUR_RE.match(line)
        if m:
            dur[m.group(3)] += float(m.group(1))
    if not dur:
        raise SystemExit(f"no duration lines found in {log}")
    by_file: dict[str, list[tuple[float, str]]] = defaultdict(list)
    for nodeid, d in dur.items():
        by_file[nodeid.split("::")[0]].append((d, nodeid))
    protected: set[str] = set()
    for tests in by_file.values():
        for _, nodeid in sorted(tests)[:keep_n]:
            protected.add(nodeid)
    candidates = sorted(
        ((d, n) for n, d in dur.items() if n not in protected), reverse=True
    )
    kept_total = sum(dur.values())
    skip: list[tuple[float, str]] = []
    for d, n in candidates:
        if kept_total <= budget:
            break
        skip.append((d, n))
        kept_total -= d
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests", "driver_slow_skip.txt")
    with open(out, "w") as f:
        f.write(
            "# Generated by scripts/gen_driver_slow_skip.py from a full\n"
            "# --durations=0 run. Deselected by default (tests/conftest.py);"
            "\n# SPARK_GRAFT_FULL_TESTS=1 runs the full suite.\n"
        )
        for _, n in sorted(skip, key=lambda t: t[1]):
            f.write(n + "\n")
    print(f"total tests: {len(dur)}; skipped: {len(skip)}; "
          f"kept test time (call+setup+teardown): {kept_total:.0f}s of "
          f"{sum(dur.values()):.0f}s")


if __name__ == "__main__":
    main()
