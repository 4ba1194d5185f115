"""The batch commit, stage → audit → publish, under injected faults.

A batch is written once to a stage under its target, the quality gate
audits the staged rows, and only a passing batch is published by rename.
Each test runs against a partitioned append target and a warehouse table
that already hold a first batch: a failed gate or a crash must leave them
as they were, and a retried batch must land exactly once.
"""

from __future__ import annotations

import glob
import json
import os
import warnings

import pytest
from pyspark.sql import functions as F

from banking_etl_pipeline_spark import pipeline
from banking_etl_pipeline_spark.domain.schemas import RAW_CSV_SCHEMAS
from banking_etl_pipeline_spark.domain.seed import seed_all
from banking_etl_pipeline_spark.operators.quality import (
    QualityConfig,
    QualityGateError,
    RangeRule,
)
from banking_etl_pipeline_spark.pipeline import (
    PipelineSpec,
    SourceSpec,
    TargetSpec,
    load_config,
    run_pipeline,
)
from banking_etl_pipeline_spark.sinks.writers import ParquetWarehouse, write_csv

KINDS = ["partitioned", "warehouse"]


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    """Two raw transaction CSV batches with disjoint ids, as
    name → (path, ids)."""
    txns = seed_all(spark, 20, 30, 400)["transactions"]
    root = tmp_path_factory.mktemp("raw")
    out = {}
    half = F.pmod(F.xxhash64("transaction_id"), F.lit(2))
    for name, h in (("a", 0), ("b", 1)):
        part = txns.filter(half == h)
        write_csv(part, str(root / name))
        ids = part.select("transaction_id").collect()
        out[name] = (str(root / name), {r.transaction_id for r in ids})
    return out


class Target:
    """A transaction target under ``root``: a ``warehouse`` table, or an
    append target that is ``partitioned`` by month or ``unpartitioned``."""

    def __init__(self, spark, kind, root):
        self.spark, self.kind, self.root = spark, kind, root
        self.warehouse = (ParquetWarehouse(spark, str(root))
                          if kind == "warehouse" else None)

    def spec(self, source, amount_max=1_000_000.0):
        if self.kind == "warehouse":
            target = TargetSpec(kind="warehouse", table="fact")
        else:
            cols = (["transaction_year", "transaction_month"]
                    if self.kind == "partitioned" else [])
            target = TargetSpec(kind="partitioned", path=str(self.root),
                                mode="append", partition_cols=cols)
        quality = QualityConfig(
            required_columns=["transaction_id", "account_id", "amount"],
            key_columns=["transaction_id"],
            range_rules=[RangeRule("amount", 0.0, amount_max)],
            fail_on_quality_check=True)
        return PipelineSpec("transaction", SourceSpec("csv", path=source),
                            target, ["transaction_id"], quality)

    def run(self, source, **kw):
        return run_pipeline(self.spark, self.spec(source, **kw), self.warehouse)

    def ids(self):
        df = (self.warehouse.read("fact") if self.warehouse
              else self.spark.read.parquet(str(self.root)))
        return [r.transaction_id for r in df.select("transaction_id").collect()]

    def snapshot(self):
        """Relative path → (size, mtime) of every file under ``root``."""
        out = {}
        for d, _, names in os.walk(self.root):
            for n in names:
                st = os.stat(os.path.join(d, n))
                out[os.path.relpath(os.path.join(d, n), self.root)] = (
                    st.st_size, st.st_mtime_ns)
        return out

    def assert_clean(self):
        """No stage is left, and a warehouse table holds one generation."""
        assert "_staging" not in os.listdir(self.root)
        if self.warehouse:
            names = sorted(os.listdir(os.path.join(self.root, "fact")))
            assert len(names) == 2 and names[0] == "CURRENT", names


@pytest.fixture(params=KINDS)
def loaded(request, spark, tmp_path, batches):
    """A target of each kind that already holds batch ``a``."""
    target = Target(spark, request.param, tmp_path / "target")
    target.run(batches["a"][0])
    assert sorted(target.ids()) == sorted(batches["a"][1])
    return target


def test_failed_gate_leaves_target_byte_identical(loaded, batches):
    before = loaded.snapshot()
    with pytest.raises(QualityGateError):
        loaded.run(batches["b"][0], amount_max=1.0)
    assert loaded.snapshot() == before
    assert "_staging" not in os.listdir(loaded.root)


def test_crash_between_stage_and_publish_recovers(loaded, batches,
                                                  monkeypatch):
    """An exception after staging leaves the target intact; a crash that
    also skips the clean-up leaves only a stage, which the next run of the
    batch replaces and removes."""
    before = loaded.snapshot()

    def crash(result, fail):
        raise RuntimeError("injected between stage and publish")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "apply_quality_gate", crash)
        with pytest.raises(RuntimeError, match="injected"):
            loaded.run(batches["b"][0])
        assert loaded.snapshot() == before
        assert "_staging" not in os.listdir(loaded.root)
        m.setattr("shutil.rmtree", lambda *a, **k: None)  # the process dies
        with pytest.raises(RuntimeError, match="injected"):
            loaded.run(batches["b"][0])
    assert "_staging" in os.listdir(loaded.root)
    assert sorted(loaded.ids()) == sorted(batches["a"][1])

    loaded.run(batches["b"][0])
    assert sorted(loaded.ids()) == sorted(batches["a"][1] | batches["b"][1])
    loaded.assert_clean()


@pytest.mark.parametrize("kind", KINDS + ["unpartitioned"])
def test_failed_stage_write_leaves_no_stage(spark, tmp_path, batches,
                                            monkeypatch, kind):
    """A write task that raises on one row fails the run before the gate;
    the target is untouched and no stage is left under its root."""
    target = Target(spark, kind, tmp_path / "target")
    target.run(batches["a"][0])
    before = target.snapshot()
    bad_id = min(batches["b"][1])
    transform = pipeline.TRANSFORMS["transaction"]

    def poisoned(df):
        return transform(df).withColumn("poison", F.when(
            F.col("transaction_id") == F.lit(bad_id),
            F.raise_error(F.lit("injected in the stage write"))))

    monkeypatch.setitem(pipeline.TRANSFORMS, "transaction", poisoned)
    with pytest.raises(Exception, match="injected in the stage write"):
        target.run(batches["b"][0])
    assert target.snapshot() == before
    assert not glob.glob(str(tmp_path / "target" / "**" / "_staging"),
                         recursive=True)


def test_warehouse_crash_before_pointer_swap_keeps_old_table(
        spark, tmp_path, batches, monkeypatch):
    target = Target(spark, "warehouse", tmp_path / "target")
    target.run(batches["a"][0])
    replace = os.replace

    def crash_at_swap(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise OSError("injected before the CURRENT swap")
        replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr("os.replace", crash_at_swap)
        with pytest.raises(OSError, match="injected"):
            target.run(batches["b"][0])
    # the new generation was written but never made live
    assert len(os.listdir(tmp_path / "target" / "fact")) > 2
    assert sorted(target.ids()) == sorted(batches["a"][1])

    target.run(batches["b"][0])
    assert sorted(target.ids()) == sorted(batches["a"][1] | batches["b"][1])
    target.assert_clean()


def test_retried_append_lands_once(spark, tmp_path, batches, monkeypatch):
    """A crash after k of n publishing renames, then a rerun of the same CSV
    source, leaves each row once; so does a third, clean run."""
    target = Target(spark, "partitioned", tmp_path / "target")
    target.run(batches["a"][0])
    replace, renames = os.replace, []

    def crash_after_one(src, dst):
        if "_staging" in src:
            if renames:
                raise OSError("injected after one rename")
            # a batch publishes one file per month: one staged file would
            # leave no second rename to crash before
            stage = src[:src.index("/_staging/") + len("/_staging")]
            staged = glob.glob(glob.escape(stage) + "/*/**/*.parquet",
                               recursive=True)
            assert len(staged) >= 2, staged
        replace(src, dst)
        renames.append(dst)

    with monkeypatch.context() as m:
        m.setattr("os.replace", crash_after_one)
        with pytest.raises(OSError, match="injected"):
            target.run(batches["b"][0])
    assert len(renames) == 1  # a partly published batch
    want = sorted(batches["a"][1] | batches["b"][1])
    for _ in range(2):
        target.run(batches["b"][0])
        assert sorted(target.ids()) == want
        target.assert_clean()


@pytest.mark.parametrize("kind", KINDS + ["unpartitioned"])
def test_clean_rerun_lands_once(spark, tmp_path, batches, kind):
    target = Target(spark, kind, tmp_path / "target")
    for _ in range(2):
        target.run(batches["a"][0])
        assert sorted(target.ids()) == sorted(batches["a"][1])
        target.assert_clean()


def _one_csv(src_dir, dest):
    """Copy the CSV parts under ``src_dir`` into the single file ``dest``."""
    parts = sorted(glob.glob(os.path.join(src_dir, "*.csv")))
    lines = [ln for i, p in enumerate(parts)
             for ln in open(p).read().splitlines()[(1 if i else 0):]]
    dest.write_text("\n".join(lines) + "\n")


@pytest.mark.parametrize("kind", KINDS)
def test_new_contents_under_same_file_name_land_as_new_batch(
        spark, tmp_path, batches, kind):
    """A raw zone refreshed in place: the second batch reuses the first's
    file name, and both batches' rows are kept."""
    source = tmp_path / "raw" / "part-00000.csv"
    source.parent.mkdir()
    target = Target(spark, kind, tmp_path / "target")
    for name in ("a", "b"):
        _one_csv(batches[name][0], source)
        target.run(str(source.parent))
    assert sorted(target.ids()) == sorted(batches["a"][1] | batches["b"][1])
    target.assert_clean()


def test_warehouse_table_in_flat_layout_is_upserted(spark, tmp_path):
    """A table written as plain parquet files in its directory, with no
    ``CURRENT``, is read as the live table and replaced on publish."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string") \
        .write.parquet(wh.path("dim"))
    assert wh.exists("dim")
    wh.load_with_staging(
        spark.createDataFrame([(3, "C"), (4, "D")], "k int, v string"),
        "dim", ["k"])
    assert sorted(wh.read("dim").collect()) == [
        (1, "a"), (2, "b"), (3, "C"), (4, "D")]
    names = sorted(os.listdir(wh.path("dim")))
    assert len(names) == 2 and names[0] == "CURRENT", names


def test_empty_batch_publishes(loaded, batches, tmp_path):
    """A header-only CSV passes the gate with no violations and publishes
    without touching the rows already there."""
    empty = tmp_path / "raw-empty"
    empty.mkdir()
    (empty / "part-00000.csv").write_text(
        ",".join(RAW_CSV_SCHEMAS["transaction"].fieldNames()) + "\n")
    result = loaded.run(str(empty))
    assert result.quality["total_rows"] == 0
    assert result.quality["overall_passed"], result.quality
    assert sorted(loaded.ids()) == sorted(batches["a"][1])
    loaded.assert_clean()


def test_gate_audits_only_staged_files(loaded, batches, monkeypatch):
    seen = []

    class Recording(pipeline.QualityChecker):
        def run_all_checks(self, df, config):
            seen.extend(df.inputFiles())
            return super().run_all_checks(df, config)

    monkeypatch.setattr(pipeline, "QualityChecker", Recording)
    result = loaded.run(batches["b"][0])
    assert result.quality["total_rows"] == len(batches["b"][1])
    assert seen and all("/_staging/" in f for f in seen), seen


@pytest.mark.parametrize("make, message", [
    (lambda spark: SourceSpec(kind="dataframe").read(spark),
     "dataframe source needs a dataframe"),
    (lambda spark: TargetSpec(kind="warehouse", table="t").write(
        spark.range(1), None, ["id"]),
     "warehouse target needs a warehouse"),
    (lambda spark: TargetSpec(kind="partitioned").write(
        spark.range(1), None, ["id"]),
     "partitioned target needs a path"),
], ids=["dataframe-source", "warehouse-target", "partitioned-target"])
def test_incomplete_spec_raises_value_error(spark, make, message):
    with pytest.raises(ValueError, match=message):
        make(spark)


def test_load_config_from_json_file(tmp_path):
    """The reference's config.json, read from disk, with its file closed."""
    cfg = {
        "rds": {"jdbc_url": "jdbc:postgresql://rds/bank"},
        "pipelines": {
            "customer": {
                "source_type": "rds", "source_table": "customers",
                "target_type": "redshift", "target_table": "dim_customer",
                "key_columns": ["customer_id"],
                "data_quality": {"required_columns": ["customer_id"],
                                 "range_checks": {"credit_score": [300, 850]}},
            },
            "transaction": {
                "source_type": "s3", "source_path": "raw/transactions",
                "target_type": "delta", "target_path": "processed/transactions",
                "write_mode": "append",
                "partition_cols": ["transaction_year", "transaction_month"],
                "fail_on_quality_check": False,
            },
        },
    }
    path = tmp_path / "config.json"
    path.write_text(json.dumps(cfg))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", ResourceWarning)
        specs = load_config(str(path))
    assert not [w for w in caught if w.category is ResourceWarning]
    assert specs == load_config(cfg)
    customer, txn = specs
    assert (customer.source.kind, customer.source.table) == (
        "jdbc", "customers")
    assert customer.source.jdbc_url == "jdbc:postgresql://rds/bank"
    assert (customer.target.kind, customer.target.table) == (
        "warehouse", "dim_customer")
    assert customer.quality.range_rules == [RangeRule("credit_score", 300, 850)]
    assert (txn.source.kind, txn.target.kind, txn.target.mode) == (
        "csv", "partitioned", "append")
    assert not txn.quality.fail_on_quality_check
