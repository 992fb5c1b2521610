"""Hash-bucketed parquet state tables for the MERGE-style sinks.

State is laid out as ``state_path/__bucket=<i>/...`` with
``__bucket = pmod(xxhash64(keys), n_buckets)``. ``merge_buckets`` runs
one micro-batch through the whole protocol:

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

Next to the bucket dirs, every write records the bucket count
(``_N_BUCKETS``) and the state's schema as JSON (``_SCHEMA``); Spark's
readers skip ``_``-prefixed files. Prior-state reads and ``read_state``
pass that schema, so no read runs a footer-inference job (36-44 ms per
merge on a 4-vCPU host). A state dir written before schemas were
recorded is inferred as before until its next write records one.

The write clusters the merged rows into min(n_buckets, default
parallelism) tasks, each bucket in one task and so in one file: a
repartition by number, which adaptive execution never coalesces into a
single task that writes every bucket file one after another.

The merge contract: a sink passes ``merge(batch, prior)``, a function of
two frames that both carry ``__bucket`` and the batch's columns —
``batch`` the bucketed, pinned batch rows, ``prior`` the state rows of
the touched buckets. ``prior`` is never None: with no state yet it is an
empty local relation, and the optimizer prunes a union or an anti-join
with it, so the first batch plans exactly as if the branch were absent.
``merge`` returns the new rows of the touched buckets, with
``__bucket``. A batch with no rows touches no bucket and writes nothing.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "__bucket"
OLD_SUFFIX = ".__old__"
_META = "_N_BUCKETS"
_SCHEMA = "_SCHEMA"


def swap_dir(src: str, dst: str) -> None:
    """Install directory ``src`` at ``dst`` crash-safely: move the live
    ``dst`` ASIDE (atomic rename), install ``src``, drop the aside.
    rmtree-then-move would lose the live content if the process died
    between the two steps; a crash after the move-aside is healed by
    ``heal_aside``. A missing ``src`` leaves ``dst`` removed (a bucket can
    merge to empty: all deletes)."""
    old = dst + OLD_SUFFIX
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(dst):
        os.replace(dst, old)
    if os.path.exists(src):
        os.replace(src, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


def heal_aside(old: str) -> None:
    """Heal a crash inside ``swap_dir``: an aside (``<dir>.__old__``) whose
    replacement never landed is restored; one whose replacement DID land
    is stale and dropped."""
    live = old[: -len(OLD_SUFFIX)]
    if os.path.exists(live):
        shutil.rmtree(old)
    else:
        os.replace(old, live)


def _recover_buckets(state_path: str) -> None:
    """Heal every bucket a crashed swap left aside. Called before every
    prior-state read."""
    if not os.path.exists(state_path):
        return
    for name in os.listdir(state_path):
        if name.endswith(OLD_SUFFIX):
            heal_aside(os.path.join(state_path, name))


def has_bucket_dirs(path: str) -> bool:
    """Whether ``path`` holds any bucket directory. The meta files (or a
    bucket layout that merged to empty) can leave the dir non-empty with
    no parquet."""
    return os.path.isdir(path) and any(
        name.startswith(BUCKET_COL + "=") for name in os.listdir(path)
    )


def with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)))


def _check_buckets(state_path: str, n_buckets: int) -> None:
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
    """Pin the bucketed batch (persist) so that the touched-bucket collect
    and the later merge/write read it once: otherwise each re-executes the
    full upstream batch transform — 2x the expensive part of the ingest
    hot path (e.g. the shingle->minhash->bands pipeline in the LSH sink).
    The pin is lazy: the sink's first action, the touched-bucket collect,
    fills it (a cached relation always materializes every column), so no
    separate count() job runs. After that collect the merge runs only the
    write's jobs: the prior state is read with its recorded schema, and a
    batch with no rows records its schema from the analyzed merge alone.

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


def _write_file(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically (write, then rename)."""
    tmp = path + ".__tmp__"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _write_meta(path: str, n_buckets: int, schema: StructType) -> None:
    """Record a layout's bucket count and schema in ``path``."""
    os.makedirs(path, exist_ok=True)
    _write_file(os.path.join(path, _META), str(n_buckets))
    _write_file(os.path.join(path, _SCHEMA), schema.json())


def _state_schema(spark: SparkSession, state_path: str) -> StructType:
    """The schema the state at ``state_path`` was written with, bucket
    column included. A dir written before schemas were recorded has no
    ``_SCHEMA``; its schema is inferred from the parquet footers (one
    Spark job) until its next write records it."""
    path = os.path.join(state_path, _SCHEMA)
    if not os.path.exists(path):
        return spark.read.parquet(state_path).schema
    with open(path) as fh:
        return StructType.fromJson(json.load(fh))


def _read_prior(batch: DataFrame, state_path: str, buckets: list[int]) -> DataFrame:
    """Prior state for the touched buckets only (directory-pruned scan),
    in the batch's columns; an empty local relation when there is no
    state yet."""
    spark = batch.sparkSession
    _recover_buckets(state_path)
    if not has_bucket_dirs(state_path):
        # built on a LocalRelation (VALUES), which the optimizer's first
        # batches fold to an empty one and prune from a union or anti-join
        # before any other rule runs, so the plan is the one without the
        # prior branch. createDataFrame([]) plans as an RDD scan and is
        # pruned only after FoldablePropagation, which then leaves the
        # upsert's constant __src tag in its shuffle.
        nulls = [F.lit(None).cast(f.dataType).alias(f.name) for f in batch.schema]
        return spark.sql("VALUES (0)").select(*nulls).where(F.lit(False))
    schema = _state_schema(spark, state_path)
    prior = spark.read.schema(schema).parquet(state_path)
    return prior.where(F.col(BUCKET_COL).isin(buckets)).select(*batch.columns)


def cluster_by_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Hash-cluster ``df`` on the bucket column into min(n_buckets,
    default parallelism) partitions: every row of a bucket in one task, so
    a partitionBy(bucket) write lands one file per bucket, and up to one
    task per core writes them. Without it every task of the frame writes
    a file into every touched bucket directory it holds rows for, and
    state fragments into (tasks x buckets) small files that every later
    prior-state read / read_state pays to open. A repartition by column
    alone would leave the count to adaptive execution, which folds a
    KB-sized batch into one task. A merge keyed on (bucket, *keys) over a
    clustered frame needs no exchange of its own, and clustering an
    already clustered frame again with the same count is planned away, so
    a merge may cluster (with the sink's ``n_buckets``) before it returns
    and the write still runs with one exchange."""
    n = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, F.col(BUCKET_COL))


def write_bucket_dir(df: DataFrame, path: str, n_buckets: int) -> bool:
    """Write the bucketed frame ``df`` as a bucket layout at ``path``:
    clustered, ``partitionBy(__bucket)`` (one file per bucket), plus the
    _N_BUCKETS meta that the merge's bucket-count check reads and the
    _SCHEMA that every read passes. Returns whether any bucket directory
    landed (an empty frame writes none)."""
    clustered = cluster_by_bucket(df, n_buckets)
    clustered.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    _write_meta(path, n_buckets, df.schema)
    return has_bucket_dirs(path)


def _swap_buckets(
    merged: DataFrame, state_path: str, buckets: list[int], n_buckets: int
) -> None:
    """Stage ``merged`` (which covers exactly ``buckets``) as a bucket
    layout, then swap each touched bucket directory into place. Untouched
    bucket directories are never read or written. The layout's meta files
    are installed first."""
    tmp = state_path.rstrip("/") + ".__tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_bucket_dir(merged, tmp, n_buckets)
    os.makedirs(state_path, exist_ok=True)
    for name in (_META, _SCHEMA):
        os.replace(os.path.join(tmp, name), os.path.join(state_path, name))
    for b in buckets:
        part = f"{BUCKET_COL}={b}"
        swap_dir(os.path.join(tmp, part), os.path.join(state_path, part))
    shutil.rmtree(tmp)


def merge_buckets(
    state_path: str,
    rows: DataFrame,
    keys: list[str],
    n_buckets: int,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> list[int]:
    """MERGE ``rows`` into the bucketed state at ``state_path``: bucket
    them on ``keys``, and replace each touched bucket with
    ``merge(batch, prior)`` (the contract is in the module docstring).
    Returns the touched buckets; a batch with no rows writes no bucket
    and returns [], recording only the state's meta files if they are
    missing (the merge's schema comes from analysis, not a job)."""
    _check_buckets(state_path, n_buckets)
    batch = pin_batch(with_bucket(rows, keys, n_buckets))
    try:
        buckets = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if not buckets and os.path.exists(os.path.join(state_path, _SCHEMA)):
            return []
        merged = merge(batch, _read_prior(batch, state_path, buckets))
        if buckets:
            _swap_buckets(merged, state_path, buckets, n_buckets)
        else:
            _write_meta(state_path, n_buckets, merged.schema)
        return buckets
    finally:
        unpin_batch(batch)


def set_union(cols: list[str]) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """The merge of a state table that is a SET of rows: prior and batch
    rows deduplicated on ``cols``, so a replayed batch is a no-op."""
    return lambda batch, prior: prior.unionAll(batch).dropDuplicates(cols)


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Public read path for a bucketed state table (drops the bucket col),
    with its recorded schema; a state that has seen only empty batches
    reads as zero rows."""
    _recover_buckets(state_path)
    schema = _state_schema(spark, state_path)
    return spark.read.schema(schema).parquet(state_path).drop(BUCKET_COL)


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


def read_marker(state_path: str) -> tuple[str | None, int] | None:
    """The ``_LAST_BATCH`` marker as (queryId, batch id); queryId is None
    for a pre-lineage bare-batch-id marker. None when the marker is
    missing or empty (truncated): read as "nothing merged"."""
    p = os.path.join(state_path, _LAST_BATCH)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        lines = fh.read().splitlines()
    if not lines:
        return None
    if len(lines) == 1:
        return None, int(lines[0].strip())
    return lines[0], int(lines[1].strip())


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
    marker = read_marker(state_path)
    if marker is None:
        return -1
    recorded_qid, batch = marker
    if recorded_qid is None:
        # pre-lineage bare-batch-id marker. Honor it only for callers that
        # ALSO have no lineage (direct batch invocations, query_id "") —
        # the symmetric legacy semantic. For a streaming lineage it reads
        # as "nothing merged": honoring it would re-open the
        # fresh-checkpoint skip bug, while re-merging costs one
        # double-count only if the SAME pre-upgrade checkpoint redelivers
        # its last batch across the code upgrade — pair upgrades with a
        # state-dir + checkpoint reset to exclude that window entirely.
        return batch if query_id == "" else -1
    return batch if recorded_qid == query_id else -1


def record_merged_batch(state_path: str, batch_id: int, query_id: str = "") -> None:
    """Atomically record ``batch_id`` as merged for ``query_id``
    (write-then-rename). The residual window — a crash after some bucket
    swaps but before this marker — still double-merges those buckets on
    replay; closing it needs a transactional table format (Delta/Iceberg
    MERGE), which is what this sink becomes in production (module
    docstring). Creates the state dir: a batch with no rows writes no
    bucket, yet its id is still recorded."""
    os.makedirs(state_path, exist_ok=True)
    _write_file(os.path.join(state_path, _LAST_BATCH), f"{query_id}\n{batch_id}")
