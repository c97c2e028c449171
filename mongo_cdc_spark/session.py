"""SparkSession factory tuned for this engine.

Local mode is for tests (local[32], single JVM); every config below is
also what we would ship on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone (oracle parity
and sane event-time semantics), Arrow for the pandas-UDF slow path.

The relay's Ext-JSON encoder is a Java UDF (`jvm/ExtJsonKeyValue.java`).
The first relay plan built in a session compiles it with the running
JDK's javac into a jar cached under $XDG_CACHE_HOME/mongo_cdc_spark (once
per source and Spark classpath), adds the jar and registers the function
(ext_json_function). Sessions that never build a relay plan need no JDK.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home
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
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
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


EXT_JSON_SOURCE = (Path(__file__).resolve().parent
                   / "jvm" / "ExtJsonKeyValue.java")
EXT_JSON_CLASS = "mongo_cdc_spark.jvm.ExtJsonKeyValue"
EXT_JSON_FUNCTION = "mongo_cdc_ext_json_key_value"
_EXT_JSON_TYPE = "struct<payload:string,value:string>"


def _find_javac() -> str | None:
    """The javac beside the java Spark launches: $JAVA_HOME's, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    if home:
        javac = os.path.join(home, "bin", "javac")
        return javac if os.access(javac, os.X_OK) else None
    return shutil.which("javac")


def ext_json_jar() -> Path:
    """The compiled Ext-JSON UDF in $XDG_CACHE_HOME/mongo_cdc_spark
    (default ~/.cache), built on the first call for each key. The key
    hashes the source and the names of the Spark jars it compiles
    against, so a Spark upgrade (which brings its own Jackson) rebuilds
    it; `--release 17` pins the bytecode and API target, so the JDK that
    compiles it is not part of the key. The jar is written under a
    temporary name and renamed into place, so concurrent processes never
    see a partial file."""
    spark_jars = Path(_find_spark_home()) / "jars"
    key = hashlib.sha256(EXT_JSON_SOURCE.read_bytes())
    for name in sorted(os.listdir(spark_jars)):
        key.update(b"\0" + name.encode())
    # outside the checkout, and outside $TMPDIR, which benchmark runs delete
    cache = Path(os.environ.get("XDG_CACHE_HOME")
                 or Path.home() / ".cache") / "mongo_cdc_spark"
    jar = cache / f"ext-json-{key.hexdigest()[:16]}.jar"
    if jar.is_file():
        return jar
    javac = _find_javac()
    if javac is None:
        raise RuntimeError(
            "mongo_cdc_spark needs a JDK (javac) to build its Ext-JSON UDF, "
            "and none was found in $JAVA_HOME/bin or on PATH; install a JDK "
            "17+ or point JAVA_HOME at one")
    cache.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = Path(tmp) / "classes"
        done = subprocess.run(
            [javac, "--release", "17", "-encoding", "UTF-8", "-nowarn",
             "-cp", str(spark_jars / "*"),
             "-d", str(classes), str(EXT_JSON_SOURCE)],
            capture_output=True, text=True)
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {EXT_JSON_SOURCE}:\n"
                               f"{done.stderr}")
        part = Path(tmp) / jar.name
        with zipfile.ZipFile(part, "w") as z:
            for f in sorted(classes.rglob("*.class")):
                z.write(f, f.relative_to(classes).as_posix())
        os.replace(part, jar)
    return jar


def ext_json_function(spark: SparkSession) -> str:
    """Name of the Ext-JSON key/value function in `spark`. On first use
    in a session the jar is built (or taken from the cache), added to the
    session and the function registered; any session works, whoever
    started it."""
    if not spark.catalog.functionExists(EXT_JSON_FUNCTION):
        spark.sql(f"ADD JAR '{ext_json_jar()}'")
        spark.udf.registerJavaFunction(
            EXT_JSON_FUNCTION, EXT_JSON_CLASS, _EXT_JSON_TYPE)
    return EXT_JSON_FUNCTION


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
    # Python UDFs defined at module level pickle by reference, so the
    # JVM-spawned workers must import this package from any cwd
    builder = builder.config("spark.executorEnv.PYTHONPATH",
                             str(Path(__file__).resolve().parent.parent))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
