"""Streaming EXACT near-dup (AllPairs) index on the bucketed state layer.

Per micro-batch: tokenize the batch's docs and set-merge their distinct
(doc_id, shingle) unit rows into state bucketed by shingle hash — a batch
rewrites only the token buckets it touches, and replay is idempotent.

Candidates and verified pairs are VIEWS over the state
(``allpairs_state_candidates`` / ``allpairs_state_verified`` delegate to
the same ``prefix_filter_candidates`` / ``jaccard_pairs`` the batch
queries use). Deriving at read time is what keeps streaming EXACTLY equal
to the batch operator — and for the exact path it is *required* for
correctness, not just convenience: a doc's prefix is its rarest
``n - ceil(t*n) + 1`` tokens under the GLOBAL document-frequency order,
and every arriving batch shifts dfs, so any per-batch prefix emission
would be computed against a stale frequency order and silently lose the
completeness guarantee (the same final-state argument as the LSH sink's
bucket cap, one level stronger). State per token bucket is unit rows —
never pair lists, never prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.llm.dedup import (
    distinct_tokens,
    jaccard_pairs,
    prefix_filter_candidates,
)
from gmall_flink_spark.sinks._bucketed import merge_buckets, read_state, set_union

__all__ = [
    "units_index_merge",
    "units_index_writer",
    "allpairs_state_candidates",
    "allpairs_state_verified",
]


def units_index_merge(state_path: str, batch_df: DataFrame, n_buckets: int = 16) -> None:
    """Merge one micro-batch of (doc_id, text) docs into the unit index."""
    units = distinct_tokens(batch_df, spread_input=False)
    merge_buckets(state_path, units, ["shingle"], n_buckets, set_union(["doc_id", "shingle"]))


def units_index_writer(state_path: str, n_buckets: int = 16):
    """foreachBatch form of ``units_index_merge`` for writeStream."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        units_index_merge(state_path, batch_df, n_buckets)

    return write


def allpairs_state_candidates(
    spark: SparkSession, state_path: str, q: int, scale: int
) -> DataFrame:
    """Exact-complete candidate pairs from the accumulated unit index —
    the same operator (prefix lemma + PPJoin prunes) as the batch path,
    evaluated against the CURRENT global df order."""
    return prefix_filter_candidates(read_state(spark, state_path), q, scale)


def allpairs_state_verified(
    spark: SparkSession, state_path: str, q: int, scale: int
) -> DataFrame:
    """The verified j >= q/scale pair graph from state: candidates scored
    by exact integer jaccard with the lossless length-ratio prune."""
    units = read_state(spark, state_path)
    jac = jaccard_pairs(
        units, allpairs_state_candidates(spark, state_path, q, scale), ratio=(q, scale)
    )
    return jac.where(scale * F.col("inter") >= q * F.col("uni"))
