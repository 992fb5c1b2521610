"""Streaming IVF-PQ index maintenance on the bucketed state layer.

Per micro-batch: assign the batch's vectors to their nearest IVF centroid
(broadcast argmax — the same ``ivf_assign`` the batch queries use) AND
encode them against the fixed PQ codebooks (``pq_encode``), packing the m
codes into one small array per vector. The merged state row is
(vec_id, cluster, codes) bucketed by cluster — the serving layout of a
production IVF-PQ index: a query probes its cluster bucket(s) and runs
the ADC scan (``pq_adc_topk``'s shape) over just the packed codes there,
never touching raw vectors.

Centroids and codebooks are the slowly changing small side (trained
offline by ``kmeans_refine`` / ``pq_train``); retraining rebuilds those
small tables and re-encodes — an offline job, not this sink's path. The
index is a SET keyed by vec_id (the incoming batch wins a key collision → idempotent
replay), and a batch rewrites only the cluster buckets it touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.llm.similarity import ivf_assign, pq_encode
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state
from gmall_flink_spark.sinks.ivf_sink import batch_wins_on_vec_id

__all__ = [
    "ivfpq_index_merge",
    "ivfpq_index_writer",
    "ivfpq_index_rows",
    "ivfpq_search",
]


def _packed_codes(batch_df: DataFrame, books: DataFrame, m: int, d_sub: int) -> DataFrame:
    """(vec_id, codes): the m PQ codes packed sub-order into one array —
    the bytes-per-vector the serving scan actually stores."""
    return (
        pq_encode(batch_df, books, m, d_sub)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def ivfpq_index_merge(
    state_path: str,
    batch_df: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    m: int,
    d_sub: int,
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch of (vec_id, vec) vectors into the IVF-PQ
    index. Same immutable-vec_id contract as ``ivf_index_merge``: a
    re-delivered id re-encodes to the identical (cluster, codes) row and
    the set-merge dedups it; a *changed* vector would need an upsert-by-key
    sink (sinks/upsert.py) to delete from its old cluster bucket."""
    assigned = ivf_assign(batch_df, centroids).select("vec_id", "cluster")
    packed = assigned.join(_packed_codes(batch_df, books, m, d_sub), "vec_id")
    merge_buckets(state_path, packed, ["cluster"], n_buckets, batch_wins_on_vec_id)


def ivfpq_index_writer(
    state_path: str,
    centroids: DataFrame,
    books: DataFrame,
    m: int,
    d_sub: int,
    n_buckets: int = 16,
):
    """foreachBatch form of ``ivfpq_index_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        ivfpq_index_merge(state_path, batch_df, centroids, books, m, d_sub, n_buckets)

    return write


def ivfpq_index_rows(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated (vec_id, cluster, codes) index table."""
    return read_state(spark, state_path)


def ivfpq_search(
    index: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    centroids: DataFrame,
    m: int,
    d_sub: int,
    k: int = 5,
) -> DataFrame:
    """ADC top-k served FROM the maintained index: probe each query's
    nearest centroid (broadcast argmax, same rule vectors were indexed
    under), scan ONLY the probed cluster's (vec_id, codes) rows, and score
    by the exact integer sum of quantized LUT partials — the full IVF-PQ
    read path over ``ivfpq_index_rows`` (or any (vec_id, cluster, codes)
    frame). At scale the cluster is the index's physical partition key, so
    the probe is a partition-pruned scan of packed codes; raw vectors are
    never read. Scoring (LUT quantization, all-m-partials guard,
    tie-break) is the SAME adc_lut/adc_rank contract as the batch
    pq_adc_topk — only the candidate source differs (probed buckets here,
    full encode there). Returns (q_id, neighbor_id, rk, adc_e6)."""
    from gmall_flink_spark.llm.similarity import adc_lut, adc_rank

    probes = ivf_assign(queries, centroids).select(
        F.col("vec_id").alias("q_id"), F.col("cluster").alias("q_cluster")
    )
    cand = (
        index.join(F.broadcast(probes), index.cluster == probes.q_cluster)
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
    )
    lut = adc_lut(queries, books, m, d_sub)
    parts = cand.join(F.broadcast(lut), ["q_id", "sub", "code"]).select(
        "q_id", "vec_id", "part_e6"
    )
    return adc_rank(parts, m, k)
