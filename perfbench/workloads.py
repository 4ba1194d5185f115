"""The three workloads: ``txn_batch``, ``dim_upsert`` and ``analytics_mix``.

Each workload generates its inputs from the run's seed (``generate``),
finishes set-up (``prepare``), then runs operations one after another
(``op``), each followed by an untimed correctness check (``check``). An
operation writes only under the workload's ``output`` directory, whose new
and rewritten files are the bytes it wrote. The engine is driven only
through its public functions; in a traced run the benchmark wraps those
calls in layer spans and Spark job groups.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import math
import os
import random
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from harness import remove_tree, tree_size
from spans import Tracer

# currency → USD factor the benchmark expects the transaction transform to
# apply; the checksum is computed from the benchmark's own inputs with it
FX_USD = {"USD": 1.0, "EUR": 1.1, "GBP": 1.3}
HASH_MOD = 1_000_000_007
TXN_COLUMNS = [  # the columns of domain.seed.seed_transactions, in order
    "transaction_id", "account_id", "transaction_date", "transaction_type",
    "amount", "currency", "description", "merchant_name", "merchant_category",
    "transaction_status", "channel", "location", "is_international"]


@dataclass
class OpState:
    rows: int                 # input rows of the operation
    input_bytes: int          # input bytes of the operation
    extra_input_records: int = 0  # records an op reads that are not input
    out: Any = None           # whatever ``check`` needs
    info: dict[str, Any] = field(default_factory=dict)


@dataclass
class Check:
    ok: bool
    detail: str = ""


def _cents(col):
    from pyspark.sql import functions as F

    return F.floor(col * 100 + 0.5).cast("long")


# ---------------------------------------------------------------------------
# ETL workloads: layer wrappers
# ---------------------------------------------------------------------------


@contextmanager
def traced_pipeline(tracer: Tracer):
    """Wrap the pipeline's quality gate and entity transforms in spans for
    the duration of a traced phase; restore them afterwards."""
    from banking_etl_pipeline_spark import pipeline

    if not tracer.enabled:
        yield
        return
    orig_checker, orig_transforms = pipeline.QualityChecker, dict(pipeline.TRANSFORMS)

    class TracedChecker(orig_checker):
        def run_all_checks(self, df, config):
            with tracer.span("quality", group="quality"):
                return super().run_all_checks(df, config)

    def traced(fn):
        def transform(df):
            with tracer.span("domain.plan", group="domain.plan"):
                return fn(df)
        return transform

    pipeline.QualityChecker = TracedChecker
    for k, fn in orig_transforms.items():
        pipeline.TRANSFORMS[k] = traced(fn)
    try:
        yield
    finally:
        pipeline.QualityChecker = orig_checker
        pipeline.TRANSFORMS.clear()
        pipeline.TRANSFORMS.update(orig_transforms)


def etl_spec(tracer: Tracer, entity: str, source_path: str, target_kwargs: dict,
             key_columns: list[str], quality):
    """A ``PipelineSpec`` whose source read and sink write run inside the
    ``sources`` and ``sinks`` spans."""
    from banking_etl_pipeline_spark.pipeline import (PipelineSpec, SourceSpec,
                                                     TargetSpec)

    class Source(SourceSpec):
        def read(self, spark):
            with tracer.span("sources", group="sources"):
                return super().read(spark)

    class Target(TargetSpec):
        def write(self, df, warehouse, key_columns):
            with tracer.span("sinks", group="sinks"):
                return super().write(df, warehouse, key_columns)

    return PipelineSpec(entity, Source("csv", path=source_path),
                        Target(**target_kwargs), key_columns, quality)


def domain_probe(spark, tracer: Tracer, entity: str, source_path: str) -> None:
    """Traced runs only: time the entity transform alone, from a cached
    copy of the raw input to a noop sink."""
    from banking_etl_pipeline_spark.pipeline import TRANSFORMS, SourceSpec

    with tracer.span("probe", group="probe"):
        raw = SourceSpec("csv", path=source_path).read(spark).persist()
        raw.count()
    try:
        with tracer.span("domain", group="domain"):
            TRANSFORMS[entity](raw).write.format("noop").mode("overwrite").save()
    finally:
        # blocking, so its blocks are gone before the next operation starts
        raw.unpersist(blocking=True)


def _csv_size(path: Path) -> int:
    return tree_size(path)[0]


class EtlWorkload:
    """Shared op loop of the two ``run_pipeline`` workloads."""

    name = ""
    cycle = 1
    warm_ops = 2              # untimed operations after the set-up rounds

    def __init__(self, work: Path):
        self.work = work
        self.tracer = Tracer(enabled=False)

    def probe(self, spark, i: int, state: OpState) -> None:
        for entity, source in state.info["probes"]:
            domain_probe(spark, self.tracer, entity, source)

    @contextmanager
    def phase(self, tracer: Tracer):
        self.tracer = tracer
        with traced_pipeline(tracer):
            yield


# ---------------------------------------------------------------------------
# txn_batch
# ---------------------------------------------------------------------------


class TxnBatch(EtlWorkload):
    """Raw transaction CSV → ``run_pipeline("transaction")`` → parquet
    append partitioned by transaction_year/transaction_month."""

    name = "txn_batch"
    warm_ops = 2
    ROWS = 100_000
    FILES = 4         # CSV part files, as a 4-partition Spark write leaves
    ACCOUNTS = 3_000  # distinct account ids, about 33 transactions each
    DAYS = 91         # dates fall in the 91 days before the seed's AS_OF

    def generate(self, spark, seed: int, d: Path) -> None:
        """Write the batch as CSV from a ``random.Random(seed)``, in the raw
        shape of ``domain.seed.seed_transactions`` (its value lists and
        Spark's CSV timestamp format), and compute the row count, partition
        directories and ``amount_usd`` checksum the check expects. Plain
        Python, so the JVM's cold start is not spent on test data."""
        from banking_etl_pipeline_spark.domain import seed as vocab

        rng, n = random.Random(seed), self.ROWS
        raw = d / "raw"
        raw.mkdir(parents=True)
        end = dt.datetime.combine(vocab.AS_OF, dt.time(12), dt.timezone.utc)
        types, ccys, cats, statuses, channels, places = (
            rng.choices(values, k=n) for values in (
                vocab.TRANSACTION_TYPES, vocab.CURRENCIES,
                vocab.MERCHANT_CATEGORIES, vocab.TRANSACTION_STATUSES,
                vocab.CHANNELS, vocab.LOCATIONS))
        cents, parts = 0, set()
        files = [open(raw / f"part-{k:05d}.csv", "w", newline="")
                 for k in range(self.FILES)]
        try:
            writers = [csv.writer(f) for f in files]
            for w in writers:
                w.writerow(TXN_COLUMNS)
            for j in range(n):
                ts = end - dt.timedelta(seconds=rng.randrange(self.DAYS * 86_400))
                c = rng.randrange(1_000, 500_000)  # 10.00 .. 4999.99
                amount = f"{c // 100}.{c % 100:02d}"
                # the transform's double arithmetic, rounded half up to cents
                cents += math.floor(float(amount) * FX_USD[ccys[j]] * 100 + 0.5)
                parts.add(f"transaction_year={ts.year}/"
                          f"transaction_month={ts.month}")
                writers[j % self.FILES].writerow([
                    f"TXN-{seed}-{j:09d}",
                    f"ACC{rng.randrange(self.ACCOUNTS):08d}",
                    ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"), types[j], amount,
                    ccys[j], "" if rng.random() < 0.05 else f"purchase {j}",
                    "" if rng.random() < 0.05
                    else f"Merchant {rng.randrange(500):03d}",
                    cats[j], statuses[j], channels[j], places[j],
                    "false" if places[j] == "USA" else "true"])
        finally:
            for f in files:
                f.close()
        self.batch = dict(path=str(raw), rows=n, cents=cents, parts=parts,
                          bytes=_csv_size(raw))
        self.output = d / "out"

    def prepare(self, spark) -> None:
        pass

    def _quality(self):
        from banking_etl_pipeline_spark.operators.quality import (QualityConfig,
                                                                  RangeRule)

        return QualityConfig(
            required_columns=["transaction_id", "account_id",
                              "transaction_date", "amount"],
            key_columns=["transaction_id"],
            range_rules=[RangeRule("amount", 0.0, 1_000_000.0)],
            fail_on_quality_check=True)

    def op(self, spark, i: int) -> OpState:
        from banking_etl_pipeline_spark.pipeline import run_pipeline

        b = self.batch
        out = self.output / f"op{i}"
        spec = etl_spec(self.tracer, "transaction", b["path"], dict(
            kind="partitioned", path=str(out), mode="append",
            partition_cols=["transaction_year", "transaction_month"]),
            ["transaction_id"], self._quality())
        res = run_pipeline(spark, spec)
        return OpState(b["rows"], b["bytes"], out=out, info=dict(
            batch=b, dq=res.quality, probes=[("transaction", b["path"])]))

    def check(self, spark, i: int, state: OpState) -> Check:
        from pyspark.sql import functions as F

        b, out = state.info["batch"], state.out
        row = spark.read.parquet(str(out)).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("amount_usd"))).alias("cents")).collect()[0]
        parts = {f"{y}/{m}" for y in os.listdir(out) if "=" in y
                 for m in os.listdir(out / y) if "=" in m}
        problems = []
        if not (row["n"] == state.info["dq"]["total_rows"] == b["rows"]):
            problems.append(f"rows {row['n']} dq {state.info['dq']['total_rows']}"
                            f" expected {b['rows']}")
        if row["cents"] != b["cents"]:
            problems.append(f"amount_usd cents {row['cents']} != {b['cents']}")
        if parts != b["parts"]:
            problems.append(f"partitions {sorted(parts ^ b['parts'])[:3]}")
        return Check(not problems, "; ".join(problems))

    def cleanup(self, i: int, state: OpState | None) -> None:
        remove_tree(self.output / f"op{i}")


# ---------------------------------------------------------------------------
# dim_upsert
# ---------------------------------------------------------------------------


class DimUpsert(EtlWorkload):
    """Customer and account delta CSV batches → ``run_pipeline`` → staged
    upsert into a ``ParquetWarehouse`` pre-loaded with the base tables."""

    name = "dim_upsert"
    BASE = {"customer": 30_000, "account": 60_000}
    UPDATE_PER_MILLE = 30
    INSERT_PER_MILLE = 10
    DELTAS = 2
    KEY = {"customer": "customer_id", "account": "account_id"}

    def _value(self, entity: str, raw: bool):
        """Column whose value the delta changes, as an exact long."""
        from pyspark.sql import functions as F

        if entity == "customer":
            return F.col("credit_score").cast("long")
        if raw:  # decimal in the generator
            return (F.col("balance") * 100).cast("long")
        return _cents(F.col("balance"))

    def _digest(self, df, entity: str, raw: bool):
        from pyspark.sql import functions as F

        h = F.pmod(F.xxhash64(F.col(self.KEY[entity]),
                              self._value(entity, raw)), F.lit(HASH_MOD))
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("digest"))

    def generate(self, spark, seed: int, d: Path) -> None:
        from pyspark.sql import functions as F

        from banking_etl_pipeline_spark.domain import seed as gen
        from banking_etl_pipeline_spark.domain.schemas import MONEY

        self.deltas: dict[str, list[dict]] = {}
        self.base_paths: dict[str, str] = {}
        for entity, n in self.BASE.items():
            ins = n * self.INSERT_PER_MILLE // 1000
            total = n + ins * self.DELTAS
            key = self.KEY[entity]
            if entity == "customer":
                df = gen.seed_customers(spark, total)
                idx = F.substring(key, 5, 10).cast("long")
            else:
                df = gen.seed_accounts(spark, total, self.BASE["customer"])
                idx = F.substring(key, 4, 10).cast("long")
            df = df.withColumn("_idx", idx).persist()
            base = df.filter(F.col("_idx") < n).drop("_idx")
            base_path = d / "raw" / f"{entity}_base"
            base.write.option("header", "true").csv(str(base_path))
            self.base_paths[entity] = str(base_path)
            parts = []
            for k in range(self.DELTAS):
                h = F.pmod(F.xxhash64(F.lit(seed), F.lit(k), F.col(key)),
                           F.lit(1000))
                if entity == "customer":
                    col = "credit_score"
                    new = (F.lit(300) + F.pmod(F.col(col) - 300 + 1 + h % 549,
                                               F.lit(551))).cast("int")
                else:
                    col = "balance"
                    cents = (F.col(col) * 100).cast("long")
                    new = (F.pmod(cents + 1 + h * 97, F.lit(10_000_000))
                           / 100.0).cast(MONEY)
                lo, hi = n + k * ins, n + (k + 1) * ins
                parts.append(df.filter(
                    ((F.col("_idx") < n) & (h < self.UPDATE_PER_MILLE))
                    | ((F.col("_idx") >= lo) & (F.col("_idx") < hi))
                ).withColumn(col, F.when(F.col("_idx") < n, new)
                             .otherwise(F.col(col)))
                    .withColumn("delta", F.lit(k)))
            deltas = parts[0]
            for p in parts[1:]:
                deltas = deltas.unionByName(p)
            deltas = deltas.drop("_idx").persist()
            deltas.write.partitionBy("delta").option("header", "true").csv(
                str(d / "raw" / entity))
            digests = {r["delta"]: r for r in self._digest(
                deltas.groupBy("delta"), entity, raw=True).collect()}
            deltas.unpersist()
            df.unpersist()
            self.deltas[entity] = []
            for k in range(self.DELTAS):
                path = d / "raw" / entity / f"delta={k}"
                self.deltas[entity].append(dict(
                    path=str(path), rows=digests[k]["n"],
                    digest=digests[k]["digest"], inserts=ins,
                    bytes=_csv_size(path)))
        self.output = d / "warehouse"

    def _quality(self, entity: str):
        from banking_etl_pipeline_spark.operators.quality import (QualityConfig,
                                                                  RangeRule)

        if entity == "customer":
            return QualityConfig(
                required_columns=["customer_id", "first_name", "last_name",
                                  "email"],
                key_columns=["customer_id"],
                range_rules=[RangeRule("credit_score", 300, 850)])
        return QualityConfig(
            required_columns=["account_id", "customer_id", "account_type",
                              "open_date"],
            key_columns=["account_id"],
            range_rules=[RangeRule("balance", 0, 10_000_000),
                         RangeRule("interest_rate", 0, 30)])

    def _spec(self, entity: str, path: str):
        return etl_spec(self.tracer, entity, path,
                        dict(kind="warehouse", table=entity),
                        [self.KEY[entity]], self._quality(entity))

    def prepare(self, spark) -> None:
        """Load the base snapshot through the pipeline's first-load path."""
        from banking_etl_pipeline_spark.pipeline import run_pipeline
        from banking_etl_pipeline_spark.sinks.writers import ParquetWarehouse

        remove_tree(self.output)
        self.warehouse = ParquetWarehouse(spark, str(self.output))
        self.table_rows = dict(self.BASE)
        self.applied: dict[str, set[int]] = {e: set() for e in self.BASE}
        for entity, path in self.base_paths.items():
            run_pipeline(spark, self._spec(entity, path), self.warehouse)

    def op(self, spark, i: int) -> OpState:
        """One dimension load: the customer delta, then the account delta."""
        from banking_etl_pipeline_spark.pipeline import run_pipeline

        k = i % self.DELTAS
        state = OpState(0, 0, info=dict(k=k, probes=[]))
        for entity in self.BASE:
            delta = self.deltas[entity][k]
            state.rows += delta["rows"]
            state.input_bytes += delta["bytes"]
            # the merge re-reads the whole table; that is not batch input
            state.extra_input_records += self.table_rows[entity]
            run_pipeline(spark, self._spec(entity, delta["path"]),
                         self.warehouse)
            if k not in self.applied[entity]:
                self.applied[entity].add(k)
                self.table_rows[entity] += delta["inserts"]
            state.info["probes"].append((entity, delta["path"]))
        return state

    def check(self, spark, i: int, state: OpState) -> Check:
        problems = []
        for entity, path in state.info["probes"]:
            delta = self.deltas[entity][state.info["k"]]
            key = self.KEY[entity]
            table = self.warehouse.read(entity)
            keys = spark.read.option("header", "true").csv(path).select(key)
            n = table.count()
            r = self._digest(table.join(keys, key, "left_semi"), entity,
                             raw=False).collect()[0]
            if n != self.table_rows[entity]:
                problems.append(f"{entity} rows {n} != "
                                f"{self.table_rows[entity]}")
            if (r["n"], r["digest"]) != (delta["rows"], delta["digest"]):
                problems.append(
                    f"{entity} updated rows digest {r['n']}/{r['digest']} "
                    f"!= {delta['rows']}/{delta['digest']}")
        return Check(not problems, "; ".join(problems))

    def cleanup(self, i: int, state: OpState | None) -> None:
        pass


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

# one registry query per operator module: (module, key, tables it reads)
ANALYTICS_QUERIES = [
    ("windows", "sessionization", ["events"]),
    ("relational", "pricing_summary", ["lineitem"]),
    ("quality", "dq_outlier_iqr", ["orders"]),
    ("skew", "skew_salted_join", ["orders"]),
    ("dedup", "fuzzy_join", ["part"]),
    ("analytics", "shipping_priority", ["customer", "orders", "lineitem"]),
    ("etl", "latest_event_snapshot", ["events"]),
]
ANALYTICS_SCALE = 0.03


def _norm(v) -> str:
    """Canonical text of one result value, shared by Spark and DuckDB."""
    import datetime as dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result set."""
    order = sorted(range(len(columns)), key=lambda j: columns[j])
    lines = sorted("\x1f".join(_norm(r[j]) for j in order) for r in rows)
    h = hashlib.sha256(",".join(columns[j] for j in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(rows), h.hexdigest()


class AnalyticsMix:
    """Read-only registry queries, one per operator module, each built with
    its own ``build()`` and its result written as parquet."""

    name = "analytics_mix"
    cycle = len(ANALYTICS_QUERIES)
    warm_ops = 2 * cycle - 1  # every query has run twice before timing

    def __init__(self, work: Path):
        self.work = work
        self.tracer = Tracer(enabled=False)

    def generate(self, spark, seed: int, d: Path) -> None:
        from tables import write_tables

        self.sf_dir = d / "tables"
        self.output = d / "out"
        rows = write_tables(str(self.sf_dir), seed, ANALYTICS_SCALE)
        self.inputs = {}
        for module, key, tabs in ANALYTICS_QUERIES:
            self.inputs[key] = (
                sum(rows[t] for t in tabs),
                sum(os.path.getsize(self.sf_dir / f"{t}.parquet") for t in tabs))

    def prepare(self, spark) -> None:
        """Run each query's DuckDB oracle on the generated tables."""
        import duckdb

        from banking_etl_pipeline_spark.registry import all_queries

        specs = all_queries()
        self.specs = {key: specs[key] for _, key, _ in ANALYTICS_QUERIES}
        con = duckdb.connect()
        try:
            for f in sorted(self.sf_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM "
                            f"read_parquet('{f}')")
            self.expected = {}
            for _, key, _ in ANALYTICS_QUERIES:
                cur = con.execute(self.specs[key].oracle)
                cols = [c[0] for c in cur.description]
                self.expected[key] = result_digest(cols, cur.fetchall())
        finally:
            con.close()

    def op(self, spark, i: int) -> OpState:
        module, key, _ = ANALYTICS_QUERIES[i % self.cycle]
        layer = f"operators.{module}"
        with self.tracer.span(f"{layer}.plan", group=f"{layer}.plan"):
            df = self.specs[key].build(spark, str(self.sf_dir))
        out = self.output / f"op{i}"
        with self.tracer.span(layer, group=layer):
            df.write.parquet(str(out))
        rows, nbytes = self.inputs[key]
        return OpState(rows, nbytes, out=out, info=dict(key=key))

    def check(self, spark, i: int, state: OpState) -> Check:
        df = spark.read.parquet(str(state.out))
        got = result_digest(df.columns, [tuple(r) for r in df.collect()])
        want = self.expected[state.info["key"]]
        if got != want:
            return Check(False, f"{state.info['key']}: rows/digest {got} "
                         f"!= oracle {want}")
        return Check(True)

    def probe(self, spark, i: int, state: OpState) -> None:
        pass

    def cleanup(self, i: int, state: OpState | None) -> None:
        remove_tree(self.output / f"op{i}")

    @contextmanager
    def phase(self, tracer: Tracer):
        self.tracer = tracer
        yield


WORKLOADS = {w.name: w for w in (TxnBatch, DimUpsert, AnalyticsMix)}
