"""Query-spec plumbing shared by all operator modules.

Each query module binds one module-level ``QUERIES: dict[str, QuerySpec]``,
its only export form: ``registry.MODULES`` lists the modules and
``registry.all_queries()`` concatenates their dicts. A spec pairs the Spark
DataFrame builder with the ANSI-SQL oracle string that DuckDB runs on the
same parquet tables (``oracle=None`` → non-SQL-expressible, driver does a
rows-only check).

Cross-engine determinism rules applied throughout (see tests/test_oracle_parity.py):
- every computed/aggregate column is aliased identically in both engines;
- float aggregates are rounded (2-6 dp) so double-summation-order noise
  (~1 ulp) cannot flip a value hash; raw pass-through doubles are bit-exact
  from parquet and left unrounded;
- oracle aggregates carry explicit CASTs (DuckDB sum(int)→HUGEINT, count→BIGINT
  vs Spark LongType; year()→BIGINT vs Spark IntegerType);
- window orderings always carry a unique tie-break column;
- timestamps compare at µs precision in both engines (parquet ns is truncated
  identically).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    build: Builder
    oracle: str | None  # ANSI SQL for DuckDB over the same tables, or None
    doc: str = ""
