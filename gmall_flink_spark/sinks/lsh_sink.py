"""Streaming MinHash-LSH near-dup index on the bucketed state layer.

Per micro-batch: shingle → one-pass minhash signatures → band rows for the
batch's docs, merged into the band-index state (band, band_sig, doc_id)
bucketed by hash of (band, band_sig), so a batch rewrites only touched
bucket directories. The index is a SET (dedup on merge) — replayed
micro-batches are idempotent.

Candidate pairs are a VIEW over the state (``lsh_state_candidates``
delegates to the same ``lsh_candidates`` the batch queries use, same
degenerate-bucket cap). Maintaining the index incrementally and deriving
pairs at read time is what keeps streaming results EXACTLY equal to the
batch operator: the bucket cap depends on *final* bucket sizes, which no
per-batch pair emission can know (a bucket that is small in batch 1 may
blow past the cap by batch 5, and the batch operator would then skip it).
State per band bucket is its member list — never pair lists, never the
shingle sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_flink_spark.llm.dedup import (
    distinct_tokens,
    lsh_bands,
    lsh_candidates,
    minhash_signatures,
)
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state, set_union

__all__ = ["lsh_index_merge", "lsh_index_writer", "lsh_state_candidates"]


def lsh_index_merge(
    state_path: str,
    batch_df: DataFrame,
    k: int = 12,
    rows_per_band: int = 3,
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch of (doc_id, text) docs into the band index."""
    # spread_input=False: a micro-batch is small by construction, and an
    # exchange per batch adds latency for no parallelism gain
    bands = lsh_bands(
        minhash_signatures(distinct_tokens(batch_df, spread_input=False), k=k),
        rows_per_band,
    )
    key = ["band", "band_sig"]
    merge_buckets(state_path, bands, key, n_buckets, set_union([*key, "doc_id"]))


def lsh_index_writer(
    state_path: str, k: int = 12, rows_per_band: int = 3, n_buckets: int = 16
):
    """foreachBatch form of ``lsh_index_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        lsh_index_merge(state_path, batch_df, k, rows_per_band, n_buckets)

    return write


def lsh_state_candidates(
    spark: SparkSession, state_path: str, max_bucket: int | None = None
) -> DataFrame:
    """Near-dup candidate pairs from the accumulated band index — the same
    operator (and cap semantics) as the batch ``lsh_candidates``."""
    return lsh_candidates(read_state(spark, state_path), max_bucket=max_bucket)
