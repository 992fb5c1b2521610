"""Cross-batch exact-dedup ingest: the streaming form of corpus-scale exact
deduplication (north-star op), built on the bucketed state layer.

Each micro-batch: compact within the batch (keep lowest order key per
fingerprint), anti-join against the seen-fingerprint state for the touched
key buckets only, append the survivors. Unlike
``dropDuplicatesWithinWatermark`` (time-bounded state), the seen-set is
UNBOUNDED by design — corpus dedup must remember every fingerprint ever
ingested — so the state lives in a bucketed table (per-batch I/O ∝ the
batch's bucket spread, not corpus size; at cluster scale a Delta/Iceberg
table bucket-partitioned by fingerprint hash with a MERGE ... WHEN NOT
MATCHED INSERT)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_spark.operators.dedup import keep_first
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state

__all__ = ["dedup_append", "dedup_writer", "read_state"]


def dedup_append(
    state_path: str,
    batch_df: DataFrame,
    fingerprint_col: str,
    order_by: list[str],
    n_buckets: int = 16,
) -> None:
    """Append the batch rows whose fingerprint was never seen before; the
    first arrival (by ``order_by``) owns the fingerprint forever."""

    def append_unseen(batch: DataFrame, prior: DataFrame) -> DataFrame:
        fresh = batch.join(
            prior.select(F.col(fingerprint_col).alias("__seen")),
            batch[fingerprint_col] == F.col("__seen"),
            "left_anti",
        )
        return prior.unionAll(fresh)

    compacted = keep_first(batch_df, [fingerprint_col], order_by)
    merge_buckets(state_path, compacted, [fingerprint_col], n_buckets, append_unseen)


def dedup_writer(
    state_path: str, fingerprint_col: str, order_by: list[str], n_buckets: int = 16
):
    """foreachBatch form of ``dedup_append`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        dedup_append(state_path, batch_df, fingerprint_col, order_by, n_buckets)

    return write
