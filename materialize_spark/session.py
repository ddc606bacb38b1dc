"""SparkSession factory with the engine's defaults.

The reference is a single-binary streaming engine; our execution substrate is
Spark, so "engine configuration" means Catalyst/shuffle tuning. Two tables
own it:

- ``catalog._RUNTIME_CONFS``: runtime SQL confs that hold at any scale
  (broadcast threshold, hash-join preference, Arrow, cache layout, parquet
  nanos handling). The factory builds with them; ``load_tables`` applies
  them to sessions built elsewhere.
- ``catalog.apply_policy``: the confs that follow the size of the data a
  statement reads — AQE, shuffle partitions, three planner rules — plus
  the session timezone (UTC unless an MzSession SETs another). Applied at
  statement start, never here.

The build-only confs below (memory, JVM options, scratch dirs, UI, state
store, DataFrame debugging) cannot change on a live session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from materialize_spark.catalog import _APPLIED, _RUNTIME_CONFS


def get_spark(
    app_name: str = "materialize-spark",
    *,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults from ``SPARK_GRAFT_CPUS`` (driver contract) or
    local[*]. The session's applied policy is forgotten, so the next
    statement writes every policy conf again."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    confs = {
        **_RUNTIME_CONFS,
        # Kill PySpark 4's per-call origin-capture chatter (one conf.get
        # roundtrip + two JVM calls + a stack walk per DataFrame/Column
        # API call); see catalog._disable_df_debug_overhead for why.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # local[N] puts driver + all executor threads in ONE JVM: heap must
        # hold the arrangement cache (uncompressed columnar batches) AND
        # per-task execution memory (SHJ hash relations cannot spill).
        # 8g worked to sf1-equivalent but starved x50 joins; the box has
        # 128 GiB, so size like an executor, not a coordinator.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        # Throughput GC for the single-JVM local driver: G1's concurrent
        # cycles add 10-100 ms pauses to sub-second queries; ParallelGC with
        # a pre-sized young gen is flatter for this heap size. Overridable.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC -Xmn2g"),
        # Shuffle/spill scratch on tmpfs when available: local-mode
        # shuffle writes otherwise pay the sandbox's slow block device
        # (~50-80 ms per shuffle stage measured at sf0.1). Real clusters
        # set SPARK_LOCAL_DIRS to node-local NVMe; honoring the env var
        # keeps that contract.
        "spark.local.dir": (
            os.environ.get("SPARK_LOCAL_DIRS")
            or ("/dev/shm/spark-local"
                if os.access("/dev/shm", os.W_OK) else "/tmp")),
        "spark.ui.enabled": "false",
        # Streaming state lives in RocksDB — the same backend the
        # reference uses for ENVELOPE UPSERT state (storage/src/upsert.rs
        # RocksDB-backed keyed state): bounded heap (state off-JVM-heap in
        # native memory + spill to disk), incremental checkpointing, and
        # point-lookup performance for the keyed upsert/TopK operators.
        # The HDFS-backed provider keeps every key in executor heap — the
        # 100 TB non-plan.
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        **(extra_conf or {}),
    }
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _APPLIED.pop(spark, None)
    return spark
