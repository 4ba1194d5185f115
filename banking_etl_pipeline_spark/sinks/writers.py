"""Sinks: the raw-zone CSV writer and the batch commit.

Covers the reference's sink surface (SURVEY.md §2.2):

- K1 CSV write ≅ reference `src/seed/data_seed.py:241-243`.
- K3 the Redshift staged upsert ≅ `readshift_loader.py:68-149` and K4 the
  partitioned append ≅ `S3Loader.write_delta` (`main.py:138-143`) share
  one commit, the only way a batch reaches a target: write the batch once
  to `_staging` under the target, audit those files (`Staged.rows`), then
  publish by rename. A failed gate or a crash leaves the target as it
  was; a retried batch lands once. Both run on local parquet: there is no
  Delta or JDBC write.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    """K1: raw-zone CSV write (data_seed.py:241-243)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def merge_upsert(target: DataFrame, updates: DataFrame,
                 key_columns: Sequence[str]) -> DataFrame:
    """K3's merge semantics as a pure DataFrame op.

    ≅ readshift_loader.py:103-124: UPDATE target rows matched on all
    key_columns (non-key columns take the update side), INSERT update rows
    with no match. Equivalent set form: updates ∪ (target ⟕anti updates) —
    one hash-partitioned anti-join on the keys instead of two warehouse SQL
    statements.
    """
    keys = list(key_columns)
    surviving = target.join(updates.select(*keys).dropDuplicates(keys),
                            on=keys, how="left_anti")
    return updates.unionByName(surviving.select(*updates.columns))


@dataclass
class Staged:
    """A batch written once: audit ``rows``, then ``publish`` or ``discard``."""

    rows: DataFrame
    publish: Callable[[], None] = lambda: None
    discard: Callable[[], None] = lambda: None


def _batch_id(df: DataFrame) -> str:
    """A digest of the local files ``df`` reads, with their sizes and
    mtimes: a retry of the same files keeps its id, new contents under the
    same names get a new one. Any other frame gets a fresh id."""
    files = sorted(df.inputFiles())
    if not files or any(urlparse(f).scheme not in ("", "file") for f in files):
        return uuid.uuid4().hex
    digest = hashlib.sha256()
    for f in files:
        st = os.stat(unquote(urlparse(f).path))
        digest.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


def _staged(df: DataFrame, stage: str, commit: Callable[[DataFrame], None],
            partition_cols: Sequence[str] = ()) -> Staged:
    """Write ``df`` to ``stage`` once; publishing runs ``commit(rows)``."""
    if partition_cols:
        # Written as it comes, every task of the batch's last stage (the
        # account_id window's) writes a file into each partition it holds
        # rows of: 16 files of ~330 KB for a 100 k-row batch over 4 months
        # on 4 cores, each with its own footer and dictionaries. A rebalance
        # on the partition columns sends each partition value to one write
        # task, so a batch lands as one file per partition; AQE drops the
        # empty reducers and splits a partition past its advisory size
        # (64 MiB), so at scale files come out near that size. 256 reducers,
        # not the session's shuffle parallelism: at 4, pmod(hash(year,
        # month), 4) puts 2025-03/06 on one reducer and 2025-04/05 on
        # another, so two tasks write the whole batch (+17% wall time per
        # batch); runs of 4 consecutive months in 2015-2035 land on 4
        # distinct reducers 98% of the time at 256 (91% at 64, 68% at 16).
        # The price is one more local shuffle of the batch (txn_batch, seed
        # 1: shuffle writes 12.6 -> 27.4 MB) and +7% median wall time per
        # batch on 4 vCPU, for 3.6% fewer published bytes (16 -> 4 files).
        df = df.hint("rebalance", 256, *partition_cols)

    def discard() -> None:
        shutil.rmtree(stage, ignore_errors=True)
        with contextlib.suppress(OSError):  # another batch's stage is left
            os.rmdir(os.path.dirname(stage))

    try:
        # partitioning by low-cardinality date parts (transaction_year/month)
        # prunes every downstream date-bounded scan
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(stage)
    except BaseException:  # a failed write task leaves its stage behind
        discard()
        raise
    # df's schema also keeps partition values in their types
    rows = df.sparkSession.read.schema(df.schema).parquet(stage)

    def publish() -> None:
        commit(rows)
        discard()

    return Staged(rows, publish, discard)


def _data_files(root: str) -> list[str]:
    """Files under ``root`` outside ``_``/``.`` paths (stages, checksums)."""
    found = glob.glob(glob.escape(root) + "/**/*", recursive=True)
    return sorted(f for f in found if os.path.isfile(f)
                  and "/_" not in "/" + os.path.relpath(f, root))


def stage_partitioned(df: DataFrame, path: str, mode: str = "append",
                      partition_cols: Sequence[str] = ()) -> Staged:
    """K4 staged under ``<path>/_staging/<batch>``. Publishing renames the
    staged files into their partitions, then deletes any earlier copy of the
    batch (with ``overwrite``, all other data files)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"Invalid write mode: {mode}")
    batch, path = _batch_id(df), os.path.abspath(path)
    stage = os.path.join(path, "_staging", batch)
    prefix = f"part-{batch}-"

    def commit(rows: DataFrame) -> None:
        staged = _data_files(stage)
        parts = [os.path.dirname(os.path.relpath(f, stage)) for f in staged]
        # an earlier copy of the batch lies in the partitions it stages to
        old = (set(_data_files(path)) if mode == "overwrite" else
               {f for p in set(parts) for f in glob.glob(os.path.join(
                   glob.escape(os.path.join(path, p)), prefix + "*"))})
        for n, (f, part) in enumerate(zip(staged, parts)):
            dest = os.path.join(path, part, f"{prefix}{n}.parquet")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(f, dest)
            old.discard(dest)
        for f in old:
            os.remove(f)

    return _staged(df, stage, commit, partition_cols)


class ParquetWarehouse:
    """The reference's Redshift tables (readshift_loader.py:68-149) on
    parquet: a table is ``gen-*`` directories plus a ``CURRENT`` pointer."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _live(self, table: str) -> list[str]:
        """The generation ``CURRENT`` names or, in a table written before
        generations existed, the parquet files of the table directory."""
        pointer = Path(self.path(table), "CURRENT")
        if pointer.is_file():
            return [os.path.join(self.path(table), pointer.read_text())]
        return glob.glob(os.path.join(glob.escape(self.path(table)), "*.parquet"))

    def exists(self, table: str) -> bool:
        return bool(self._live(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(*self._live(table))

    def load_with_staging(self, df: DataFrame, table: str,
                          key_columns: Sequence[str]) -> None:
        """≅ readshift_loader.py:68-149, upserting on ``key_columns``."""
        self.stage(df, table, key_columns).publish()

    def stage(self, df: DataFrame, table: str,
              key_columns: Sequence[str] = ()) -> Staged:
        """Stage under ``_staging/<table>-<batch>``. Publishing makes the
        rows, upserted on ``key_columns`` into the live table if there is
        one, the live generation and deletes everything else in the table."""
        stage = os.path.join(self.root, "_staging", f"{table}-{_batch_id(df)}")

        def commit(rows: DataFrame) -> None:
            home, gen = self.path(table), f"gen-{uuid.uuid4().hex}"
            os.makedirs(home, exist_ok=True)
            if key_columns and self.exists(table):
                merged = merge_upsert(self.read(table), rows, key_columns)
                merged.write.parquet(os.path.join(home, gen))
            else:  # nothing to merge: the stage becomes the generation
                os.replace(stage, os.path.join(home, gen))
            pointer = os.path.join(home, "CURRENT")
            Path(pointer + ".tmp").write_text(gen)
            os.replace(pointer + ".tmp", pointer)  # the commit point
            for name in set(os.listdir(home)) - {gen, "CURRENT"}:
                old = os.path.join(home, name)
                (shutil.rmtree if os.path.isdir(old) else os.remove)(old)

        return _staged(df, stage, commit)
