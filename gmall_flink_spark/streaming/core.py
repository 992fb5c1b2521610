"""Structured Streaming lift (SURVEY §2.7 W1-W12, §7.2 step 8).

Design contract ("streaming = incremental batch", the Structured Streaming
model): every operator in this library is first a batch DataFrame transform
(the oracle-checked form); this module re-runs the *same* transform as an
incremental micro-batch query. The reference's apps are continuous Flink
jobs; their Spark twins are ``readStream`` → identical transform →
``writeStream`` — tests drive them with ``trigger(availableNow=True)`` and
assert equality with the batch result (SURVEY §5.3).

At scale the file sources below become Kafka sources
(``spark.readStream.format("kafka")`` — S1/S2, util/KafkaUtil.java:25-53);
the transform stack is unchanged, which is the point of the design.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_STREAM_TMP = "/tmp/gmall_stream"


def _as_dir(sf_dir: str, name: str) -> str:
    """Spark's file stream source requires a *directory*; the testdata is one
    parquet file per table. Materialize a per-table symlink dir (idempotent,
    content never copied)."""
    from gmall_flink_spark.sources.materialize import cache_key

    d = os.path.join(_STREAM_TMP, "tables", cache_key(sf_dir), name)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-0.parquet")
    if not os.path.islink(link):
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    return d


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The streaming twin of sources.tables.table: same schema, same events
    ts normalization, but an unbounded file-stream source (S1)."""
    static = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(_as_dir(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer division: float `/1000` loses µs precision above 2^53
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def split_into_files(df: DataFrame, n: int, order_col: str, out_dir: str) -> str:
    """Write ``df`` as ``n`` event-time-ordered parquet files with strictly
    increasing mtimes, so the file stream source replays them as ``n``
    ordered micro-batches (the harness's stand-in for a Kafka topic with
    in-order event time — what watermark tests need)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    parts = df.orderBy(order_col).withColumn(
        "__slice", F.ntile(n).over(Window.orderBy(order_col))
    )
    base = int(os.path.getmtime(out_dir))
    for i in range(1, n + 1):
        tmp = os.path.join(out_dir, f"_tmp_{i}")
        parts.where(F.col("__slice") == i).drop("__slice").coalesce(1).write.parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(out_dir, f"slice-{i:04d}.parquet")
        os.replace(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + i, base + i))
    return out_dir


@contextmanager
def _session_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the block, then restore each key's
    prior value (unset when it had none), also when the block raises."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "append",
    foreach_batch=None,
    timeout_s: int = 300,
    state_store: str | None = None,
) -> DataFrame | None:
    """Execute a streaming DataFrame to completion with
    ``trigger(availableNow=True)`` and return the materialized result.

    Without ``foreach_batch`` the sink is an in-memory table (returned as a
    DataFrame); with it, each micro-batch is handed to the callable (K3/K4
    upsert writers, M1 fan-out) and None is returned.

    The query runs ``min(spark.sql.shuffle.partitions, defaultParallelism)``
    shuffle partitions, so as many state-store partitions: each costs a task
    and a versioned commit per trigger, keyed or not, and AQE never
    coalesces a stateful exchange. A checkpoint fixes the count for life;
    each run here gets a fresh, single-use one (W11: in production it is
    stable), so the count never outlives the cluster it was sized for.
    ``supervise.run_supervised`` restarts long-lived checkpoints and keeps
    the session's value.

    ``state_store`` ('rocksdb' | 'rocksdb_changelog' | 'hdfs', see
    session.STATE_STORE_PROVIDERS) pins the state store provider for THIS
    query. 'rocksdb' is the 100x-state posture: keyed state lives off-heap
    on local disk. 'rocksdb_changelog' adds changelog checkpointing, so a
    commit costs the batch's state delta instead of a snapshot (large
    keyed state, small per-batch churn: D4/D6/join buffers). Both pins end
    when the query has ended or timed out, not at ``start()``: the stream
    clones the session on its own thread."""
    from gmall_flink_spark.session import STATE_STORE_PROVIDERS

    name = f"q{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(_STREAM_TMP, "ckpt", name)
    spark = sdf.sparkSession
    cores = spark.sparkContext.defaultParallelism
    shuffle = min(int(spark.conf.get("spark.sql.shuffle.partitions")), cores)
    conf = {"spark.sql.shuffle.partitions": str(shuffle)}
    if state_store is not None:
        conf["spark.sql.streaming.stateStore.providerClass"] = STATE_STORE_PROVIDERS[
            state_store.removesuffix("_changelog")
        ]
    if state_store == "rocksdb_changelog":
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"] = "true"

    with _session_conf(spark, conf):
        writer = sdf.writeStream.option("checkpointLocation", ckpt).trigger(availableNow=True)
        if foreach_batch is None:
            writer = writer.format("memory").queryName(name).outputMode(output_mode)
        else:
            writer = writer.foreachBatch(foreach_batch)
        q = writer.start()
        # awaitTermination(timeout) returns False WITHOUT stopping the query:
        # returning then would hand back a partial memory-sink table (or
        # leave a foreachBatch writer mutating sink state beside the caller)
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"availableNow run exceeded timeout_s={timeout_s}")
    return None if foreach_batch is not None else spark.table(name)
