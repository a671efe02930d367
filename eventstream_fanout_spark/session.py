"""SparkSession factory tuned for the engine.

The reference pins ``spark.sql.shuffle.partitions=1`` for a single box
(reference pipeline/app.py:21); we instead default to a CPU-matched
partition count and enable AQE so the same code re-plans itself on a
real cluster (coalescing small shuffle partitions, skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Configs that are safe & beneficial both on local[N] and on a large
# cluster.  Anything cluster-size-specific (executor memory, instances)
# is left to spark-submit.
ENGINE_CONF: dict[str, str] = {
    # Determinism: all timestamps interpreted/rendered in UTC so results
    # match the DuckDB oracle bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-planning replaces hand-tuned
    # partition counts; skew-join splitting guards hot keys at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (customer at sf0.1 is ~100k rows) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas_udf / toPandas path (10-100x over pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs batch through Arrow too (BatchEvalPythonUDTF ->
    # ArrowEvalPythonUDTF): no row-at-a-time pickling on the UDTF seam.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Streaming state that survives large key cardinality.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # Changelog checkpointing: commit the per-batch changelog instead
    # of a full RocksDB snapshot per state store per micro-batch (r15;
    # measured stateCommit dominated the stateful queries' addBatch —
    # ~0.7-1 s per store instance per commit under snapshot mode).
    # Same results, lower commit latency at every scale; recovery
    # replays the changelog (the documented trade).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    # Scan sizing: 128 MiB splits keep scan tasks balanced at 100 TB.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # CPU-matched shuffle parallelism (AQE coalesces further; streaming
    # state stores don't use AQE, so the static default matters there).
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Generated-code cache sized for streaming: one curated-ingest
    # trigger (dedup, then index) needs ~110-130 classes (the cache
    # keys on the class loader too, so driver and task threads each
    # hold a copy), more than the default 100, so each trigger evicted
    # what the next one needed and recompiled ~0.9 s of Janino work.
    # Static conf: effective only when get_spark creates the JVM.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Keep the codegen stage id out of the generated class name.  The
    # id is a per-query counter, and adaptive execution numbers stages
    # in the order they are created, which can differ from trigger to
    # trigger; with the id in the name, the same stage compiled again
    # under a new name.
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "eventstream-fanout-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    # local[N] runs the whole engine in the driver JVM, whose DEFAULT
    # heap is 1g — 32 concurrent tasks on a 128 GiB box OOMed the
    # round-5 bench on exactly one deep-plan query.  Static conf: only
    # effective when this builder actually creates the JVM (sessions
    # handed in externally, e.g. the driver's, keep their own sizing —
    # apply_engine_conf skips static confs by design).
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-built session
    (``__spark_entry__`` receives one from its caller).  Static confs,
    which a running session cannot change, are skipped: such a session
    keeps its own sizing, including its generated-code cache size
    (``spark.sql.codegen.cache.maxEntries``).  ``isModifiable`` alone
    cannot tell them apart: it is also False for keys Spark reads by
    prefix without registering them (the RocksDB changelog switch),
    which a running session does honor.  Any other failure to set a
    conf raises."""
    is_static = spark._jvm.org.apache.spark.sql.internal.SQLConf.isStaticConfigKey
    for k, v in ENGINE_CONF.items():
        if not spark.conf.isModifiable(k) and is_static(k):
            continue
        spark.conf.set(k, v)
    return spark
