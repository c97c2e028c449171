"""SparkSession factory tuned for this engine.

Local mode is for tests (local[32], single JVM); every config below is
also what we would ship on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone (oracle parity
and sane event-time semantics), Arrow for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scale posture (SURVEY.md §7 M4): these settings are chosen so the same
# plan shape survives a 1000-executor / 100 TB deployment:
#  - AQE re-plans shuffles at runtime: coalesces small partitions at low SF
#    and splits skewed ones at high SF, so we do not hand-tune per-SF.
#  - shuffle.partitions is only the *initial* number under AQE; on a real
#    cluster it should be ~2-3x total cores (set via spark-submit).
#  - autoBroadcastJoinThreshold stays default (10 MB): region/nation/supplier
#    class dims broadcast; fact-fact joins shuffle on their keys.
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
}


# Streaming state at scale (SURVEY.md §7 M4): the default HDFS-backed
# state store keeps state on-heap; RocksDB spills to local disk, which is
# the only viable choice once streaming dedup / session state reaches
# hundreds of GB per executor. Verified working in this environment —
# tests/test_streaming.py proves state restores across query restarts
# under this provider (changelog checkpointing on). Off by default so
# the fast HDFS-backed path serves the small-state test suite.
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


# Share of physical memory the default driver heap may take. The JVM
# also needs off-heap memory and every Python worker is a process of
# its own, so a heap near the box's total gets the JVM OOM-killed by
# the kernel (measured: a 32g heap on a 15 GB box died midway through
# the test suite; 6g, i.e. 0.4 of it, passes the whole suite).
_DRIVER_MEM_SHARE = 0.4
_DRIVER_MEM_CAP_MB = 32 * 1024


def default_driver_mem() -> str:
    """Driver heap when $SPARK_GRAFT_DRIVER_MEM is unset:
    min(32g, _DRIVER_MEM_SHARE of physical memory), in MiB."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(_DRIVER_MEM_CAP_MB, int(phys_mb * _DRIVER_MEM_SHARE))}m"


def get_spark(app_name: str = "mongo_cdc_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # In local mode the ONE driver JVM hosts all executor threads, every
    # cached partition, and every broadcast — Spark's default 1g heap
    # OOMs a 32-thread session long before the machine does (measured:
    # a 70-query sf0.1 sweep killed the JVM at ~1 GB while the box had
    # >100 GiB free). Only effective at JVM launch; getOrCreate on an
    # existing session leaves the running heap unchanged.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (SparkSession.builder.appName(app_name)
               .master(master or f"local[{cpus}]")
               .config("spark.driver.memory", mem)
               .config("spark.driver.maxResultSize", "4g"))
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
