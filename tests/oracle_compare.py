"""Local replica of the driver's DuckDB-oracle comparison.

Stricter than the driver in one way: values are compared EXACTLY (after
canonical string normalization), so any cross-engine float-noise slips show
up here first and the query gets fixed (rounded/cast) before the driver sees
it. Rows are compared as order-insensitive multisets over name-sorted
columns, mirroring the driver's sort-columns-then-hash scheme.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections import Counter

import duckdb

from banking_etl_pipeline_spark.catalog import TABLES


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full double precision → exact compare
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, _dt.timedelta):
        return f"td:{v.total_seconds()}"
    return str(v)


def _multiset(rows: list[dict]) -> Counter:
    out = Counter()
    for r in rows:
        key = tuple(_norm(r[c]) for c in sorted(r.keys()))
        out[key] += 1
    return out


def assert_repeat_deterministic(spark, sf_dir: str, queries: dict) -> None:
    """Two builds of each query return the same multiset of rows."""
    for key, spec in queries.items():
        runs = [spec.build(spark, sf_dir).collect() for _ in range(2)]
        first, second = (_multiset([r.asDict() for r in rs]) for rs in runs)
        assert first == second, f"{key}: nondeterministic across builds"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def universe_connection(root: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over a Spark-written universe, one ``<t>.parquet``
    directory per table under ``root``.

    Spark writes timestamps as INT64 marked ``isAdjustedToUTC``, which
    DuckDB reads as ``TIMESTAMP WITH TIME ZONE``: its values carry a
    ``+00:00`` offset that Spark's naive values lack. Each such column is
    cast back to ``TIMESTAMP`` under a UTC session zone, which gives the
    UTC wall time Spark's UTC-pinned session returns."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        src = f"'{root}/{t}.parquet/*.parquet'"
        casts = [f'"{name}"::TIMESTAMP AS "{name}"' for name, typ, *_ in
                 con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
                 if typ == "TIMESTAMP WITH TIME ZONE"]
        replace = f" REPLACE ({', '.join(casts)})" if casts else ""
        con.execute(f"CREATE VIEW {t} AS SELECT *{replace} FROM {src}")
    return con


def oracle_type_offenders(con: duckdb.DuckDBPyConnection, sql: str) -> list:
    """Driver-canonicalizer contract, part 2: the driver converts the
    oracle's result to pandas, where DuckDB HUGEINT/UHUGEINT (the default
    SUM(int) output) and DECIMAL(38,*) become float64/object while Spark
    emits bigint — a value-hash mismatch invisible to fetchall()-based
    local compares (priority_line_counts and pack_sequences once failed
    this way).
    Returns [(column, type)] for any top-level offender; oracles must CAST
    such columns to BIGINT/DOUBLE explicitly."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    bad = []
    for name, typ, *_ in rows:
        t = typ.upper()
        if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL(38"):
            bad.append((name, typ))
    return bad


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    # Driver-canonicalizer contract: the driver pandas-sorts result columns,
    # which crashes on unhashable cells (TypeError: unhashable type: 'list').
    # No query may emit a top-level array/map column — serialize to a
    # deterministic string instead (array_join / array_to_string of exact
    # ints or fixed-point values). Enforced here so every parity path
    # (the registry, empty and skewed universes, driver_sim) hits it.
    from pyspark.sql.types import ArrayType, MapType

    bad = [f.name for f in spark_df.schema.fields
           if isinstance(f.dataType, (ArrayType, MapType))]
    assert not bad, (
        f"top-level array/map output columns {bad} would crash the driver's "
        "canonicalizer — serialize them to deterministic strings"
    )
    bad_types = oracle_type_offenders(con, sql)
    assert not bad_types, (
        f"oracle emits HUGEINT/DECIMAL(38) columns {bad_types} — pandas "
        "canonicalizes them as float64/object vs Spark bigint; add explicit "
        "CAST(... AS BIGINT) in the oracle SQL"
    )
    spark_rows = [r.asDict(recursive=True) for r in spark_df.collect()]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    duck_rows = [dict(zip(cols, row)) for row in cur.fetchall()]

    result = {
        "spark_rows": len(spark_rows),
        "oracle_rows": len(duck_rows),
        "row_count_match": len(spark_rows) == len(duck_rows),
        "columns_match": True,
        "values_match": True,
        "detail": "",
    }
    s_cols = sorted(spark_rows[0].keys()) if spark_rows else sorted(spark_df.columns)
    d_cols = sorted(cols)
    if s_cols != d_cols:
        result["columns_match"] = False
        result["values_match"] = False
        result["detail"] = f"columns spark={s_cols} oracle={d_cols}"
        return result

    ms, md = _multiset(spark_rows), _multiset(duck_rows)
    if ms != md:
        result["values_match"] = False
        only_s = list((ms - md).keys())[:3]
        only_d = list((md - ms).keys())[:3]
        result["detail"] = f"spark-only={only_s} oracle-only={only_d}"
    return result


def assert_oracle_parity(spark_df, con: duckdb.DuckDBPyConnection, sql: str,
                         key: str) -> None:
    """The driver's t2 gate on one built query: the rows, the columns and
    the values all match the DuckDB oracle."""
    res = compare(spark_df, con, sql)
    assert res["row_count_match"], f"{key}: {res}"
    assert res["columns_match"], f"{key}: {res}"
    assert res["values_match"], f"{key}: {res}"
