"""Fixture table loading (TESTDATA.md tables) and batch scan/sink surfaces."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (their
# cardinality is fixed or grows sub-linearly in TPC-H-style data).
BROADCAST_DIMS = {"region", "nation"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (round-1
        # fixtures; Spark's vectorized reader rejects it, so nanosAsLong
        # surfaces it as int64) and as TIMESTAMP(MICROS) (current
        # fixtures; read as timestamp_ntz). Branch on the type actually
        # read and normalize both vintages to the engine-native
        # TimestampType — under the UTC session timezone the ntz→tz cast
        # is micros-identity, and the nanos→micros integer div is lossless.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_batch(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, **options) -> DataFrame:
    """Batch scan surface (SURVEY.md §2.2 'Scans / sources'): parquet
    (self-describing, vectorized, filter/column pushdown), json and csv
    (schema required for a stable plan — inference reads the data twice
    and is forbidden on the 100 TB path)."""
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        raise ValueError(
            f"{fmt} scans require an explicit schema: schema inference "
            "re-reads the input and produces drifting plans at scale")
    return reader.load(path)


def write_batch(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite", partition_by: tuple[str, ...] = (),
                **options) -> None:
    """Batch sink surface: parquet/orc/json/csv, optionally hive-partitioned
    (partition_by keys become directory pruning at read time)."""
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path` under the session's Hadoop
    conf. Callers probe existence with `fs.exists(p)` rather than
    catching read errors, so a real IO failure still raises."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p
