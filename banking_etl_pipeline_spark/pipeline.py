"""Config-driven pipeline orchestration (SURVEY.md §2.8, O1-O3).

≅ ``BankingETLPipeline`` (reference `src/orchestration/main.py:23-302`)
re-expressed as typed specs instead of nested dicts:

- ``PipelineSpec`` ≅ one entry of `config/config.json:23-86` (source, target,
  keys, quality config, fail-open/closed);
- ``run_pipeline`` is extract → transform → stage → single-pass DQ gate →
  publish (``sinks.writers``). The gate audits the staged files, exactly
  the rows that get published; a failure discards the stage;
- a raw CSV source reads with its entity's pinned column types
  (``domain.schemas.RAW_CSV_SCHEMAS``) instead of inferring them;
- entity transforms are looked up from the domain layer: transaction
  (`domain/transactions.py`), customer and account (reconstructed,
  `domain/customers.py` / `domain/accounts.py`);
- the customer pipeline in the reference would crash (its transformer is
  never initialized, main.py:71 vs :113); here all three entities run.

``load_config`` accepts the reference's config.json shape directly so an
existing deployment's config ports without edits.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field, replace
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .domain.accounts import transform_accounts
from .domain.customers import transform_customers
from .domain.schemas import RAW_CSV_SCHEMAS
from .domain.transactions import transform_transactions
from .operators.quality import (
    QualityChecker,
    QualityConfig,
    RangeRule,
    apply_quality_gate,
)
from .sinks.writers import ParquetWarehouse, Staged, stage_partitioned
from .sources.readers import read_csv, read_jdbc

TRANSFORMS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "customer": transform_customers,
    "account": transform_accounts,
    "transaction": transform_transactions,
}


@dataclass
class SourceSpec:
    """≅ source_type/source_path/source_table of config.json."""

    kind: str  # csv | parquet | jdbc | dataframe
    path: str | None = None
    table: str | None = None
    jdbc_url: str | None = None
    dataframe: DataFrame | None = None  # test/in-memory injection
    schema: StructType | str | None = None  # csv: pinned column types

    def read(self, spark: SparkSession) -> DataFrame:
        if self.kind == "dataframe":
            if self.dataframe is None:
                raise ValueError("dataframe source needs a dataframe")
            return self.dataframe
        if self.kind == "csv":
            # without a schema, infer types on ingest as the reference does
            # (s3_connector.py:23,41), at the cost of one extra scan job;
            # with one, read lazily and reject a header that does not match
            return read_csv(spark, self.path, schema=self.schema,
                            infer_schema=self.schema is None)
        if self.kind == "parquet":
            return spark.read.parquet(self.path)
        if self.kind == "jdbc":
            return read_jdbc(spark, self.jdbc_url, self.table)
        raise ValueError(f"Unsupported source type: {self.kind}")


@dataclass
class TargetSpec:
    """≅ target_type/target_table/target_path + write options."""

    kind: str  # warehouse | partitioned | none
    table: str | None = None
    path: str | None = None
    mode: str = "append"
    partition_cols: Sequence[str] = ()

    def write(self, df: DataFrame, warehouse: ParquetWarehouse | None,
              key_columns: Sequence[str]) -> Staged:
        if self.kind == "none":
            return Staged(df)
        if self.kind == "warehouse":
            if warehouse is None or not self.table:
                raise ValueError("warehouse target needs a warehouse and table")
            return warehouse.stage(df, self.table, key_columns)
        if self.kind == "partitioned":
            if not self.path:
                raise ValueError("partitioned target needs a path")
            return stage_partitioned(df, self.path, self.mode,
                                     self.partition_cols)
        raise ValueError(f"Unsupported target type: {self.kind}")


@dataclass
class PipelineSpec:
    entity: str
    source: SourceSpec
    target: TargetSpec
    key_columns: list[str] = field(default_factory=list)
    quality: QualityConfig = field(default_factory=QualityConfig)


@dataclass
class PipelineResult:
    """The entity and its gate's report; `quality["total_rows"]` counts the
    rows the gate audited, which are the rows published."""
    entity: str
    quality: dict[str, Any]


def run_pipeline(spark: SparkSession, spec: PipelineSpec,
                 warehouse: ParquetWarehouse | None = None) -> PipelineResult:
    """One entity: extract → transform → stage → DQ gate → publish.

    A CSV source without a schema reads with the entity's
    ``RAW_CSV_SCHEMAS`` entry, so the CSV is scanned once, by the stage write,
    and no inference job runs."""
    transform = TRANSFORMS.get(spec.entity)
    if transform is None:  # before the read: it may start a job
        raise ValueError(f"No transform registered for entity {spec.entity!r}")
    source = spec.source
    if (source.kind == "csv" and source.schema is None
            and spec.entity in RAW_CSV_SCHEMAS):
        source = replace(source, schema=RAW_CSV_SCHEMAS[spec.entity])
    transformed = transform(source.read(spark))
    staged = spec.target.write(transformed, warehouse, spec.key_columns)
    try:
        result = QualityChecker().run_all_checks(staged.rows, spec.quality)
        apply_quality_gate(result, spec.quality.fail_on_quality_check)
        staged.publish()
    except BaseException:
        staged.discard()
        raise
    return PipelineResult(spec.entity, result)


def run_all(spark: SparkSession, specs: Sequence[PipelineSpec],
            warehouse: ParquetWarehouse | None = None,
            pipelines_to_run: Sequence[str] | None = None
            ) -> dict[str, PipelineResult]:
    """≅ run_pipeline dispatch loop (main.py:277-302, config `pipelines_to_run`)."""
    return {spec.entity: run_pipeline(spark, spec, warehouse)
            for spec in select_specs(specs, pipelines_to_run)}


def select_specs(specs: Sequence[PipelineSpec],
                 pipelines_to_run: Sequence[str] | None = None
                 ) -> list[PipelineSpec]:
    """The specs whose entity is in `pipelines_to_run` (all when None), in
    config order. A name that matches no spec raises ValueError before any
    pipeline runs."""
    if pipelines_to_run is None:
        return list(specs)
    unknown = sorted(set(pipelines_to_run) - {s.entity for s in specs})
    if unknown:
        raise ValueError(f"no pipeline for {unknown}; the config defines "
                         f"{[s.entity for s in specs]}")
    return [s for s in specs if s.entity in pipelines_to_run]


def _quality_from_config(block: dict[str, Any], fail: bool) -> QualityConfig:
    return QualityConfig(
        required_columns=list(block.get("required_columns", [])),
        key_columns=list(block.get("key_columns", [])),
        range_rules=[
            RangeRule(col, lo, hi)
            for col, (lo, hi) in block.get("range_checks", {}).items()
        ],
        fail_on_quality_check=fail,
    )


def load_config(path_or_dict: str | dict[str, Any]) -> list[PipelineSpec]:
    """Parse the reference's config.json shape (config/config.json:23-86)
    into specs. S3/Redshift/RDS endpoints map to their engine-local
    equivalents: s3 csv → csv path, redshift → warehouse table, s3 delta
    append → partitioned columnar path."""
    cfg = (json.loads(Path(path_or_dict).read_text())
           if isinstance(path_or_dict, str) else path_or_dict)
    specs = []
    for entity, block in cfg.get("pipelines", {}).items():
        src_kind = block.get("source_type", "csv")
        source = SourceSpec(
            kind={"s3": "csv", "rds": "jdbc"}.get(src_kind, src_kind),
            path=block.get("source_path"),
            table=block.get("source_table"),
            jdbc_url=cfg.get("rds", {}).get("jdbc_url"),
        )
        if block.get("target_type") == "redshift":
            target = TargetSpec(kind="warehouse", table=block.get("target_table"))
        elif block.get("target_type") in ("s3", "parquet", "delta"):
            target = TargetSpec(
                kind="partitioned",
                path=block.get("target_path"),
                mode=block.get("write_mode", "overwrite"),
                partition_cols=block.get("partition_cols", []),
            )
        else:
            target = TargetSpec(kind="none")
        specs.append(
            PipelineSpec(
                entity=entity,
                source=source,
                target=target,
                key_columns=list(block.get("key_columns", [])),
                quality=_quality_from_config(
                    block.get("data_quality", {}),
                    block.get("fail_on_quality_check", True),
                ),
            )
        )
    return specs
