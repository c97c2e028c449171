"""Fixture table loading (TESTDATA.md tables) and the Hadoop filesystem handle.

Parquet schema memo: `read_parquet` infers a path's schema once (one
footer-reading Spark job) and reads the same unchanged path again with
that schema, which launches no job. A memo entry is reused only while
its key is unchanged:
  - the qualified path;
  - for a file, its length and modification time; for a directory, its
    modification time and content summary (length, file count,
    directory count), so an overwrite or an append is a new key;
  - the session confs that change how Spark turns a parquet footer into
    a schema (`_SCHEMA_CONFS`).
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (their
# cardinality is fixed or grows sub-linearly in TPC-H-style data).
BROADCAST_DIMS = {"region", "nation"}


# The confs `ParquetToSparkSchemaConverter` reads in Spark 4.1, plus the
# ones that decide which footers inference reads (mergeSchema,
# respectSummaryFiles) and how partition directory values are typed.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _schema_key(spark: SparkSession, fs, p) -> tuple:
    st = fs.getFileStatus(p)
    if st.isDirectory():
        cs = fs.getContentSummary(p)
        shape = (st.getModificationTime(), cs.getLength(),
                 cs.getFileCount(), cs.getDirectoryCount())
    else:
        shape = (st.getModificationTime(), st.getLen())
    return ((fs.makeQualified(p).toString(),) + shape
            + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring the schema only on the
    first read of an unchanged path (see the module docstring for the
    memo key). The memo is bounded (least recently used entries go
    first) and shared by every session in the process: its key holds
    everything the schema depends on, so a hit is the schema fresh
    inference would give. A missing path (or a glob) is read without
    the memo, so Spark raises its own error."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return spark.read.parquet(path)
    key = _schema_key(spark, fs, p)
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        if len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table `name` under `sf_dir`, read through `read_parquet`.

    `events.ts` may be stored as parquet TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS); both come out as the engine-native TimestampType.
    Nanos are read as int64 (nanosAsLong: Spark's vectorized reader
    rejects them) and divided down to micros, which is lossless; micros
    read as timestamp_ntz and are cast, which under the UTC session
    timezone keeps the micros value.

    nanosAsLong is set for every table, not just `events`: it is part of
    the schema memo key, so setting it only for `events` would make every
    table loaded before it a memo miss afterwards. It stays set, since
    the reader reads it again when the query runs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return read_parquet(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType
    df = read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path` under the session's Hadoop
    conf. Callers probe existence with `fs.exists(p)` rather than
    catching read errors, so a real IO failure still raises."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p
