"""Incremental SCD2 dimension-history sink on the bucketed state layer.

Each micro-batch of changelog rows is merged into a versioned history
table: prior history is read for the touched key buckets only, the batch's
raw rows are unioned in (replays dropped on the natural key+order — W11
idempotency under checkpoint restart), and versions/valid_to are recomputed
with the SAME transform the batch query uses
(operators/scd2.py::scd2_versions). A key's whole history lives in one
bucket, so per-bucket recomputation is exact and per-batch I/O stays
proportional to the batch's key spread — the local analogue of
``MERGE INTO dim_history`` on a bucket-partitioned Delta/Iceberg table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gmall_flink_spark.operators.scd2 import scd2_versions
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state

__all__ = ["scd2_merge", "scd2_writer", "read_state"]


def scd2_merge(
    state_path: str,
    batch_df: DataFrame,
    key: str,
    order_cols: list[str],
    from_col: str,
    n_buckets: int = 16,
) -> None:
    """Merge one changelog micro-batch into the versioned history table.

    ``batch_df`` carries the raw changelog columns (key + order cols +
    attributes); ``ver``/``valid_to`` are derived here and never trusted
    from the input."""

    def reversion(batch: DataFrame, prior: DataFrame) -> DataFrame:
        merged_raw = prior.unionAll(batch).dropDuplicates([key, *order_cols])
        return scd2_versions(merged_raw, key, order_cols, from_col)

    raw_cols = [c for c in batch_df.columns if c not in ("ver", "valid_to")]
    merge_buckets(state_path, batch_df.select(*raw_cols), [key], n_buckets, reversion)


def scd2_writer(
    state_path: str,
    key: str,
    order_cols: list[str],
    from_col: str,
    n_buckets: int = 16,
):
    """foreachBatch form of ``scd2_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scd2_merge(state_path, batch_df, key, order_cols, from_col, n_buckets)

    return write
