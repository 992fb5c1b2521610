"""Streaming KMV distinct-count sketch on the bucketed state layer.

Per micro-batch: hash the batch's (group, key) pairs, union with the prior
sketch state for the touched group buckets, and keep each group's k
smallest distinct hashes — KMV's merge operation, which is what makes the
sketch streamable: state per group is k int64s, never the key set. The
merged state yields the SAME estimate the batch query computes over the
full input (tests pin streaming == batch exactly), because min-k of a
union is insensitive to how the input was batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_spark.operators.sketch import KMV_K, kmv_estimate, kmv_hash
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state

__all__ = ["kmv_merge", "kmv_writer", "kmv_estimates"]


def kmv_merge(
    state_path: str,
    batch_df: DataFrame,
    group: str,
    key: str,
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch into the per-group k-minimum-hash state."""

    def k_min(batch: DataFrame, prior: DataFrame) -> DataFrame:
        w = Window.partitionBy(group).orderBy("h")
        return (
            prior.unionAll(batch)
            .dropDuplicates([group, "h"])
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= KMV_K)
            .drop("rk")
        )

    hashes = batch_df.select(group, kmv_hash(F.col(key)).alias("h")).distinct()
    merge_buckets(state_path, hashes, [group], n_buckets, k_min)


def kmv_writer(state_path: str, group: str, key: str, n_buckets: int = 16):
    """foreachBatch form of ``kmv_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        kmv_merge(state_path, batch_df, group, key, n_buckets)

    return write


def kmv_estimates(spark: SparkSession, state_path: str, group: str) -> DataFrame:
    """Distinct-count estimates from the accumulated sketch state: one row
    per group with (n_stored, h_k) folded through the shared estimator."""
    w = Window.partitionBy(group).orderBy("h")
    return (
        read_state(spark, state_path)
        .withColumn("rk", F.row_number().over(w))
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_stored"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("h_k"),
        )
        .select(group, kmv_estimate("n_stored", "h_k").alias("kmv_ct"))
    )
