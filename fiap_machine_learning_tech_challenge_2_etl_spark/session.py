"""SparkSession factory.

Mirrors the reference's session configuration (UTC timezone + dynamic
partition overwrite, reference etl/transform_1.py:40-41) and adds the
scale-oriented defaults the reference leaves implicit: AQE with partition
coalescing and skew-join handling, Arrow for any pandas interchange, and a
shuffle-partition count sized to the local core count instead of Spark's
default 200 (right for local testing; on a real cluster AQE re-sizes
post-shuffle partitions at runtime anyway).

Python workers start from the package's own daemon
(``spark.python.daemon.module`` = ``worker_daemon``; ``extra_conf`` can
override it). Spark's worker calls ``importlib.invalidate_caches()`` before
every task, which on CPython < 3.13 re-parses ``pyspark.zip``'s directory
for each of its ``zipimporter``s (about 0.17 s per task); the daemon re-reads
an archive only when it changed on disk, so ``mapInArrow`` staging tasks,
pandas UDFs and Python DataSource read tasks skip that cost. Spark starts
its Python DataSource planner processes from its own daemon whatever this
setting says, and a session built without ``get_session`` (a plain
``SparkSession.builder`` one) keeps Spark's daemon too; both still pay it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# named, not imported: the daemon runs as __main__ (python -m) in workers
WORKER_DAEMON = f"{__package__}.worker_daemon"


def get_session(
    app_name: str = "fiap-machine-learning-tech-challenge-2-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    streaming: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are overridable for tests/bench; defaults suit the
    local[N] container while remaining correct on a multi-executor
    cluster (every conf here is cluster-safe).

    ``streaming=True`` switches the state store to RocksDB
    (RocksDBStateStoreProvider, in-box since Spark 3.2): the default
    HDFSBackedStateStoreProvider keeps every key's state in executor heap,
    which is the first thing to fall over at 100 TB stream state (GC
    stalls, OOM at tens of millions of keys/executor); RocksDB spills to
    local disk with bounded memory, supports changelog checkpointing, and
    is what transformWithStateInPandas requires anyway. Probed live in
    this container (stateful roundtrip passes — see
    tests/test_catalog_streaming.py::test_rocksdb_state_store_roundtrip).
    Note SparkSession configs are per-JVM-session: if a session already
    exists, getOrCreate() returns it unchanged, so tests that need the
    flag set it via spark.conf.set (it is runtime-settable).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- parity with reference session (etl/transform_1.py:40-41) ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- scale defaults ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    if streaming:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
