"""Incremental rollup maintenance (the continuous-aggregate / "hypertable
rollup" pattern): a summary table kept current by merging per-micro-batch
partial aggregates, instead of recomputing the full aggregate each time.

Correct for algebraic aggregates (count/sum/min/max — anything with a
merge function): rollup(all data) == merge(rollup(batch_1..n)). Each batch
costs one small aggregation + a merge keyed on the rollup keys. The summary
table is hash-bucketed parquet (sinks/_bucketed.py): a batch reads and
rewrites only the key buckets it touches, so merge I/O tracks the batch's
key spread, not the summary's total size — a Delta MERGE on a
bucket-partitioned table in production.

The batch twin (what tests compare against) is the plain groupBy over all
input — SURVEY §5.3 streaming-equals-batch contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_spark.sinks._bucketed import (
    BUCKET_COL,
    last_merged_batch,
    merge_buckets,
    read_state,
    record_merged_batch,
    streaming_query_id,
)

__all__ = ["merge_rollup", "rollup_writer", "read_state"]

#: merge functions per partial-column suffix convention
_MERGE = {"ct": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def merge_rollup(
    state_path: str, batch_partial: DataFrame, keys: list[str], n_buckets: int = 16
) -> None:
    """Merge one batch's partial aggregate into the rollup table. Partial
    columns are matched to merge functions by suffix: *_ct/_sum -> sum,
    *_min -> min, *_max -> max."""
    vals = [c for c in batch_partial.columns if c not in keys]
    aggs = []
    for c in vals:
        fn = _MERGE.get(c.rsplit("_", 1)[-1])
        if fn is None:
            raise ValueError(f"column {c!r} has no mergeable suffix (_ct/_sum/_min/_max)")
        aggs.append(fn(c).alias(c))

    def fold_partials(batch: DataFrame, prior: DataFrame) -> DataFrame:
        return prior.unionAll(batch).groupBy(*keys, BUCKET_COL).agg(*aggs)

    merge_buckets(state_path, batch_partial, keys, n_buckets, fold_partials)


def rollup_writer(state_path: str, keys: list[str], agg_fn, n_buckets: int = 16):
    """foreachBatch form: ``agg_fn(batch_df) -> partial DataFrame`` computes
    the batch's partial aggregate (same keys + suffixed value columns).

    Replay-safe: foreachBatch is at-least-once, and a sum/count merge is
    NOT naturally idempotent (re-merging a delivered batch double-counts),
    so the writer skips any batch id already recorded as merged BY THE
    SAME query lineage (_bucketed.last_merged_batch keyed on the
    checkpoint-stable queryId) and records (queryId, id) after the merge —
    a fresh checkpoint's batch 0 against an old state dir is merged, not
    silently skipped."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        qid = streaming_query_id(batch_df)
        if batch_id <= last_merged_batch(state_path, qid):
            return  # redelivery of an already-merged batch
        merge_rollup(state_path, agg_fn(batch_df), keys, n_buckets)
        record_merged_batch(state_path, batch_id, qid)

    return write
