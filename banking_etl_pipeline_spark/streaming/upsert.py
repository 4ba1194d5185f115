"""Incremental streaming upsert: streaming aggregate → warehouse MERGE.

The reference's "incremental" load is a batch Delta append with date
partitions (`config/config.json:69-70`). This module provides the true
incremental path: a streaming aggregation in update mode feeds
``foreachBatch``, and each micro-batch's changed rows are MERGEd into the
warehouse table by key — the standard Structured-Streaming→warehouse
upsert pattern. Each micro-batch's merge is idempotent per key, so
at-least-once delivery of a batch converges to the same table.

Each micro-batch goes through the warehouse's batch commit
(``ParquetWarehouse.load_with_staging``): staged once, merged into a new
table generation and made live by one ``CURRENT`` pointer swap, so a
micro-batch that fails part-way leaves the table as it was.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sinks.writers import ParquetWarehouse


def start_streaming_upsert(
    aggregated_stream: DataFrame,
    warehouse: ParquetWarehouse,
    table: str,
    key_columns: Sequence[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start an update-mode stream whose every micro-batch upserts its
    changed rows into `warehouse.table` on `key_columns`."""

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df holds only keys updated in this micro-batch (update mode):
        # the merge rewrite is proportional to the delta, not the table
        warehouse.load_with_staging(batch_df, table, key_columns)

    return (
        aggregated_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge_batch)
        .start()
    )
