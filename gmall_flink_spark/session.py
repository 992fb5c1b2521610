"""SparkSession factory.

The reference pins parallelism=3 (Kafka partitions, util/Common.java:8) and
timezone UTC+8 (util/DateFormatUtil.java:25). Here parallelism is a config
knob sized for the cluster (tests run local[$SPARK_GRAFT_CPUS]) and the
session timezone defaults to UTC so epoch arithmetic matches the DuckDB
oracle; gmall-parity streaming tests pass tz="Asia/Shanghai".

Scale posture (100 TB target):
  - AQE on: runtime coalescing, skew-join splitting, dynamic join selection.
  - shuffle partitions sized by env (32 locally; a real cluster would use
    2-3x total cores — override via SPARK_GRAFT_SHUFFLE_PARTITIONS).
  - streams started by ``streaming.core.run_available_now`` run
    min(shuffle partitions, defaultParallelism) shuffle partitions, which
    a stateful query keeps as its state partitions: each costs a task and
    a versioned commit on every trigger, keyed or not, and AQE never
    coalesces a stateful exchange. Safe there because every run gets a
    fresh, single-use checkpoint, so the count (fixed for a checkpoint's
    life) never outlives the cluster it was sized for.
    ``streaming.supervise.run_supervised`` restarts long-lived checkpoints
    and keeps the session's count.
  - Arrow enabled so the few Pandas-UDF operators batch-transfer columns.
  - Python workers start from ``_worker/gmall_daemon.py`` (set as
    ``spark.python.daemon.module``), a wrapper of pyspark's daemon.
    pyspark calls ``importlib.invalidate_caches()`` at the start of every
    Python task, and on Python 3.11 each zip importer then re-reads its
    archive's central directory: 76 ms per task on a 4-vCPU host, paid by
    every ``applyInPandasWithState`` and ``mapInPandas`` task on every
    trigger. The wrapper re-reads an archive only once it has changed.
    Its directory goes on the workers' PYTHONPATH
    (``spark.executorEnv.PYTHONPATH``) alone, so workers still cannot
    import the package. That directory must exist at the same path
    wherever executors run: it does for local and local-cluster masters,
    which share the driver's file system; a real cluster must ship it
    there (or drop the two settings and pay the re-reads).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory of the worker daemon module (see the module docstring)
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")

#: built-in state store providers by short name (SURVEY §4: the reference
#: runs HashMap state, app/dws/DwsTradeOrderWindow.java:42; at 100× keyed
#: state the on-heap HDFSBackedStateStore OOMs and RocksDB spills to disk —
#: VERDICT r10 task 1 exercises the whole streaming suite under it)
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "gmall-flink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    tz: str = "UTC",
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long, sources.tables normalizes to micros (DuckDB parity).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "gmall_daemon")
        .config("spark.executorEnv.PYTHONPATH", WORKER_DIR)
    )
    if state_store is not None:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[state_store],
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def pin_oracle_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf on an externally provided session (the
    correctness driver passes its own SparkSession to ``queries()``).

    UTC makes Spark's epoch math on the naive parquet timestamps identical to
    DuckDB's; Arrow speeds the Pandas-UDF operators.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the driver's plain session defaults to 200 shuffle partitions and a
    # 10 MB broadcast threshold — size both the way get_spark does, so the
    # gate runs the plans we designed (broadcast dims, right-sized
    # shuffles). Only UNTOUCHED defaults are normalized: a deliberately-set
    # value (a test disabling broadcast, an operator sizing its own
    # shuffle) must survive the per-query re-pin.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
        )
    if spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760b":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    return spark
