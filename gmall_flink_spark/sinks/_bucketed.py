"""Hash-bucketed parquet state tables for the MERGE-style sinks.

State is laid out as ``state_path/__bucket=<i>/...`` with
``__bucket = pmod(xxhash64(keys), n_buckets)``. A micro-batch then:

1. computes the bucket of every batch row,
2. reads prior state *only for the touched buckets* (partition pruning on
   the ``__bucket`` directory column),
3. rewrites *only the touched bucket directories* (per-directory atomic
   rename).

Per-batch I/O is therefore proportional to the batch's key spread, not to
total accumulated state — the local-parquet analogue of a Delta/Iceberg
``MERGE INTO`` over a table partitioned by key bucket, which is exactly
what this sink becomes on a real cluster. The only driver-side collect is
the set of touched bucket ids (<= n_buckets ints — metadata, not data).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"
_META = "_N_BUCKETS"
_OLD_SUFFIX = ".__old__"


def _recover_buckets(state_path: str) -> None:
    """Heal a crash inside swap_buckets: a bucket moved aside (.__old__)
    whose replacement never landed is restored; one whose replacement DID
    land is stale and dropped. Called before every prior-state read."""
    if not os.path.exists(state_path):
        return
    for name in os.listdir(state_path):
        if not name.endswith(_OLD_SUFFIX):
            continue
        old = os.path.join(state_path, name)
        dst = os.path.join(state_path, name[: -len(_OLD_SUFFIX)])
        if os.path.exists(dst):
            shutil.rmtree(old)
        else:
            os.replace(old, dst)


def with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)))


def check_buckets(state_path: str, n_buckets: int) -> None:
    """Refuse to merge into a state table created with a different bucket
    count — rows would land in the wrong bucket directories and silently
    duplicate keys across buckets."""
    meta = os.path.join(state_path, _META)
    if os.path.exists(meta):
        with open(meta) as fh:
            existing = int(fh.read().strip())
        if existing != n_buckets:
            raise ValueError(
                f"state at {state_path} was bucketed with n_buckets={existing}, "
                f"got {n_buckets}; rebucket the state or pass the original value"
            )


def pin_batch(df: DataFrame) -> DataFrame:
    """Pin the bucketed batch (persist) so that touched_buckets's collect
    and the later merge/write read it once: otherwise each re-executes the
    full upstream batch transform — 2x the expensive part of the ingest
    hot path (e.g. the shingle->minhash->bands pipeline in the LSH sink).
    The pin is lazy: the sink's first action, touched_buckets's collect,
    fills it (a cached relation always materializes every column), so no
    separate count() job runs.

    persist, not localCheckpoint (r04 ADVICE): persisted blocks are freed
    deterministically by ``unpin_batch`` at the end of the sink's merge
    (localCheckpoint blocks linger until Python GC + ContextCleaner catch
    up — a long-running stream holds executor storage it no longer
    needs), and an evicted/lost persisted block recomputes from lineage
    instead of failing the job under executor loss."""
    from pyspark.storagelevel import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def unpin_batch(df: DataFrame) -> None:
    """Free a pin_batch DataFrame's blocks (call in the sink's finally)."""
    df.unpersist(blocking=False)


def touched_buckets(df: DataFrame) -> list[int]:
    return [r[0] for r in df.select(BUCKET_COL).distinct().collect()]


def read_prior(spark: SparkSession, state_path: str, buckets: list[int]) -> DataFrame | None:
    """Prior state for the touched buckets only (directory-pruned scan)."""
    _recover_buckets(state_path)
    # look for actual bucket directories: the _N_BUCKETS meta (or an
    # all-deletes first batch) leaves the dir non-empty with no parquet,
    # and spark.read.parquet on that cannot infer a schema
    if not os.path.exists(state_path) or not any(
        name.startswith(BUCKET_COL + "=") for name in os.listdir(state_path)
    ):
        return None
    return spark.read.parquet(state_path).where(F.col(BUCKET_COL).isin(buckets))


def cluster_by_bucket(df: DataFrame) -> DataFrame:
    """Hash-cluster ``df`` on the bucket column: every row of a bucket in
    one task, so a partitionBy(bucket) write lands one file per bucket.
    Without it every task of the frame writes a file into every touched
    bucket directory it holds rows for, and state fragments into
    (tasks x buckets) small files that every later read_prior /
    read_state pays to open. A merge keyed on (bucket, *keys) over a
    clustered frame needs no exchange of its own, and clustering an
    already clustered frame again is planned away, so a sink may cluster
    before its merge and swap_buckets still writes with one exchange."""
    return df.repartition(F.col(BUCKET_COL))


def swap_buckets(
    merged: DataFrame, state_path: str, buckets: list[int], n_buckets: int
) -> None:
    """Write ``merged`` (which covers exactly ``buckets``) clustered and
    partitioned by bucket, then atomically swap each touched bucket
    directory into place: one file per touched bucket. Untouched bucket
    directories are never read or written. Records the bucket count on
    first write (see ``check_buckets``)."""
    tmp = state_path.rstrip("/") + ".__tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    cluster_by_bucket(merged).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
    os.makedirs(state_path, exist_ok=True)
    meta = os.path.join(state_path, _META)
    if not os.path.exists(meta):
        with open(meta, "w") as fh:
            fh.write(str(n_buckets))
    for b in buckets:
        part = f"{BUCKET_COL}={b}"
        src = os.path.join(tmp, part)
        dst = os.path.join(state_path, part)
        old = dst + _OLD_SUFFIX
        # move the live dir ASIDE (atomic rename) before installing the
        # replacement — rmtree-then-move would lose the bucket's entire
        # state if the process dies between the two steps. A crash after
        # the move-aside is healed by _recover_buckets on the next merge.
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(dst):
            os.replace(dst, old)
        if os.path.exists(src):  # a bucket can merge to empty (all deletes)
            os.replace(src, dst)
        if os.path.exists(old):
            shutil.rmtree(old)
    shutil.rmtree(tmp)


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Public read path for a bucketed state table (drops the bucket col)."""
    _recover_buckets(state_path)
    return spark.read.parquet(state_path).drop(BUCKET_COL)


_LAST_BATCH = "_LAST_BATCH"


def streaming_query_id(df: DataFrame) -> str:
    """Checkpoint-stable identity of the streaming query a foreachBatch
    DataFrame belongs to ('' when not running under a stream — direct
    writer calls in tests). StreamExecution publishes it as a driver-thread
    local property; unlike runId it survives restarts from the same
    checkpoint, which is exactly the lineage batch ids are monotonic
    within."""
    qid = df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
    return qid or ""


def last_merged_batch(state_path: str, query_id: str = "") -> int:
    """Highest micro-batch id already merged into this state by the SAME
    streaming query lineage (-1 = none). Used by NON-idempotent merges
    (rollup sums/counts) to make at-least-once foreachBatch redelivery a
    no-op; the naturally idempotent sinks (keep-last upsert, set-union
    dedup/KMV/LSH) don't need it.

    The marker records the checkpoint's queryId next to the batch id: a
    stream restarted with a FRESH checkpoint restarts batch ids at 0, and
    a bare batch-id comparison would silently skip those genuinely new
    batches (r04 ADVICE). A mismatched queryId therefore reads as "nothing
    merged yet" — the non-idempotent caller still double-merges what the
    dead lineage already folded in, so pair a fresh checkpoint with a
    fresh state dir; this marker makes that mistake loud in tests instead
    of silent."""
    p = os.path.join(state_path, _LAST_BATCH)
    if not os.path.exists(p):
        return -1
    with open(p) as fh:
        lines = fh.read().splitlines()
    if not lines:
        return -1  # truncated/empty marker: safe "nothing merged"
    if len(lines) == 1:
        # pre-lineage bare-batch-id marker. Honor it only for callers that
        # ALSO have no lineage (direct batch invocations, query_id "") —
        # the symmetric legacy semantic. For a streaming lineage it reads
        # as "nothing merged": honoring it would re-open the
        # fresh-checkpoint skip bug, while re-merging costs one
        # double-count only if the SAME pre-upgrade checkpoint redelivers
        # its last batch across the code upgrade — pair upgrades with a
        # state-dir + checkpoint reset to exclude that window entirely.
        return int(lines[0].strip()) if query_id == "" else -1
    recorded_qid, batch = lines[0], int(lines[1].strip())
    return batch if recorded_qid == query_id else -1


def record_merged_batch(state_path: str, batch_id: int, query_id: str = "") -> None:
    """Atomically record ``batch_id`` as merged for ``query_id``
    (write-then-rename). The residual window — a crash after some bucket
    swaps but before this marker — still double-merges those buckets on
    replay; closing it needs a transactional table format (Delta/Iceberg
    MERGE), which is what this sink becomes in production (module
    docstring)."""
    p = os.path.join(state_path, _LAST_BATCH)
    tmp = p + ".__tmp__"
    with open(tmp, "w") as fh:
        fh.write(f"{query_id}\n{batch_id}")
    os.replace(tmp, p)
