"""Streaming IVF index maintenance on the bucketed state layer.

Per micro-batch: assign the batch's vectors to their nearest centroid
(broadcast argmax — the same ``ivf_assign`` the batch queries use) and
merge (vec_id, cluster) into state bucketed by cluster, so a batch
rewrites only the cluster buckets it touches. Centroids are the slowly
changing small side (trained offline by ``kmeans_refine``); the index is
a SET keyed by vec_id (the incoming batch wins a key collision → idempotent replay).

At scale the cluster id is the physical partition key of the index table:
a query probes one cluster bucket, new vectors land in their bucket as
they stream in, and retraining centroids is an offline job that rebuilds
the (small) centroid table — the classic IVF serving layout, expressed as
bucketed-state maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_flink_spark.llm.similarity import ivf_assign
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state

__all__ = ["ivf_index_merge", "ivf_index_writer", "ivf_index_assignments"]


def batch_wins_on_vec_id(batch: DataFrame, prior: DataFrame) -> DataFrame:
    """The IVF and IVF-PQ index merge: a deterministic winner WITHIN the
    touched buckets — the BATCH row survives a vec_id collision (prior
    rows anti-joined out). NB a contract-violating changed vector whose
    CLUSTER changed leaves its stale row in the old (untouched) bucket —
    removing that needs the upsert-by-key sink, per ``ivf_index_merge``'s
    contract. Within-batch duplicates remain arbitrary-but-equal under
    the immutable-id contract."""
    stale = prior.join(batch.select("vec_id"), "vec_id", "left_anti")
    return batch.unionAll(stale).dropDuplicates(["vec_id"])


def ivf_index_merge(
    state_path: str,
    batch_df: DataFrame,
    centroids: DataFrame,
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch of (vec_id, vec) vectors into the IVF index.

    Assumes vec_ids are immutable (re-delivery carries the same vector, so
    the recomputed assignment — and its bucket — is identical and the
    set-merge dedups it). A *changed* vector for an existing id would need
    a delete in its old cluster bucket first — that's a different sink
    contract (upsert by key), covered by ``sinks/upsert.py``."""
    assigned = ivf_assign(batch_df, centroids).select("vec_id", "cluster")
    merge_buckets(state_path, assigned, ["cluster"], n_buckets, batch_wins_on_vec_id)


def ivf_index_writer(state_path: str, centroids: DataFrame, n_buckets: int = 16):
    """foreachBatch form of ``ivf_index_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_merge(state_path, batch_df, centroids, n_buckets)

    return write


def ivf_index_assignments(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated (vec_id, cluster) assignment table."""
    return read_state(spark, state_path)
