"""End-to-end CDC pipeline: source → transform → sink.

This is the whole reference program (/root/reference/main.go:26-163) as a
single-stage Structured Streaming query, plus the strict improvements
Spark gives for free and we flag as such (SURVEY.md §2.1 notes):
checkpointed resume position (the reference loses its place on crash,
main.go:95,103) and exactly-once batch commits to idempotent sinks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from mongo_cdc_spark.cdc.schema import (
    CHANGE_EVENT_SCHEMA_PERMISSIVE,
    CORRUPT_COL,
)
from mongo_cdc_spark.cdc.transform import (
    parse_change_events, to_kafka_records, valid_event)
from mongo_cdc_spark.config import Config


def read_change_stream_mongo(spark: SparkSession, cfg: Config) -> DataFrame:
    """Production source: MongoDB change stream via the Spark connector
    (uses change streams underneath; fullDocument=updateLookup mirrors
    main.go:92). The connector jar is not in this image — callers get a
    clear error instead of a stack trace."""
    try:
        return (spark.readStream.format("mongodb")
                .options(**cfg.mongo_reader_options()).load())
    except Exception as exc:  # pragma: no cover - connector not in image
        raise RuntimeError(
            "mongodb connector jar not on classpath; use "
            "read_change_stream_files/kafka for hermetic runs") from exc


def read_change_stream_files(spark: SparkSession, path: str,
                             keep_corrupt: bool = False) -> DataFrame:
    """Hermetic source: a file stream of JSON-lines change events (the
    FIXTURES.md §1 shape). Used by tests and local runs; identical
    downstream plan to the Mongo/Kafka sources.

    By default undecodable lines and events missing ns/documentKey are
    dropped at the source — the reference's skip-on-error semantics
    (main.go:104-108) — so relaying this stream directly never emits
    empty records. Pass keep_corrupt=True to keep the rejects (with
    the _corrupt_record column) for DLQ routing via relay_with_dlq.

    Text lines through parse_change_events relay the same records
    (tests/test_cdc_pipeline.py pins it), except a line holding a
    top-level JSON array: this source delivers each element as an
    event, parse_change_events rejects the line."""
    raw = (spark.readStream
           .schema(CHANGE_EVENT_SCHEMA_PERMISSIVE)
           .option("mode", "PERMISSIVE")
           .json(path))
    if keep_corrupt:
        return raw
    return raw.filter(valid_event()).drop(CORRUPT_COL)


def read_change_stream_kafka(spark: SparkSession, cfg: Config,
                             topic: str) -> DataFrame:
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", cfg.kafka_bootstrap_servers)
           .option("subscribe", topic)
           .load())
    return parse_change_events(raw, value_col="value")


def relay_to_kafka(events: DataFrame, cfg: Config) -> StreamingQuery:
    """The reference's sink: async Kafka producer with acks=all/retries=5
    (main.go:39-47,145-154). Spark's Kafka sink flushes within each epoch
    before the batch commits — same at-least-once semantics, plus durable
    offsets via the checkpoint (improvement over main.go's lost cursor)."""
    records = to_kafka_records(events)
    writer = (records.writeStream.format("kafka")
              .options(**cfg.kafka_writer_options()))
    if cfg.checkpoint_location:
        writer = writer.option("checkpointLocation", cfg.checkpoint_location)
    return writer.start()


def relay_foreach_batch(events: DataFrame,
                        sink: Callable[[DataFrame, int], None],
                        checkpoint: str | None = None) -> StreamingQuery:
    """Test/alternate sinks (parquet, memory, console) via foreachBatch —
    used to verify the pipeline without a Kafka broker."""
    records = to_kafka_records(events)
    writer = records.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def relay_with_dlq(events: DataFrame,
                   sink: Callable[[DataFrame, int], None],
                   dlq_sink: Callable[[DataFrame, int], None],
                   checkpoint: str | None = None) -> StreamingQuery:
    """Relay with a dead-letter queue: the reference logs-and-drops
    events that fail decode (main.go:105-108); here the reject stream is
    preserved (raw corrupt text, or the partial envelope for events
    missing ns/documentKey) so bad data is replayable — the flagged
    strict improvement from SURVEY.md §2.1.

    One foreachBatch routes both legs, so a batch commits atomically:
    valid records reach `sink` and rejects reach `dlq_sink` for the
    same epoch, and a crash replays both from the checkpoint.
    """
    if CORRUPT_COL not in events.columns:
        raise ValueError(
            f"relay_with_dlq needs the {CORRUPT_COL!r} column to route "
            "rejects — build the stream with read_change_stream_files() "
            "or parse_change_events(..., keep_corrupt=True); the default "
            "parse output has already dropped corrupt rows.")

    is_valid = valid_event()

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            sink(to_kafka_records(batch_df.filter(is_valid)
                                  .drop(CORRUPT_COL)), batch_id)
            dlq_sink(batch_df.filter(~is_valid), batch_id)
        finally:
            batch_df.unpersist()

    writer = events.writeStream.foreachBatch(_route)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def relay_topic_rates(events: DataFrame, size: str = "1 minute",
                      watermark: str = "2 minutes") -> DataFrame:
    """Relay observability: per-topic event counts in tumbling
    event-time windows — the streaming-aggregation equivalent of the
    reference's per-message delivery-report logging (main.go:50-62),
    but O(topics × windows) state instead of a log line per record.

    Watermarked on clusterTime so window state is dropped once the
    watermark passes; return a streaming DataFrame the caller sinks
    (memory sink in tests, Kafka/metrics in production).
    """
    from pyspark.sql import functions as F

    return (
        events
        .withWatermark("clusterTime", watermark)
        .groupBy(F.window("clusterTime", size).alias("w"),
                 F.concat_ws(".", F.col("ns.db"), F.col("ns.coll"))
                  .alias("topic"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "topic", "n_events")
    )
