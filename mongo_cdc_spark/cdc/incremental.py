"""Incremental aggregate maintenance from the change stream
(materialized-view deltas).

The reference relays change events to Kafka and stops
(/root/reference/main.go:145-154); every consumer that wants an
aggregate over the collection must rescan it. This module maintains
grouped aggregates (count / sum per group) directly from the event
stream WITHOUT rescanning the base collection: each change event
contributes a bounded delta, micro-batches fold deltas into a compact
view table, and replay is made idempotent by committing the applied
batch id inside the same parquet write as the data.

Delta algebra (per event):
  insert              → (+1, +v_post) to the post-image's group
  delete              → (−1, −v_pre)  to the pre-image's group
  update / replace    → both rows; a group move naturally splits into
                        (+1, +v_post) @ new group and (−1, −v_pre) @ old

Pre-images come from the change stream's `fullDocumentBeforeChange`
(MongoDB 6.0+ `changeStreamPreAndPostImages`); the envelope keeps it as
a lossless JSON string exactly like `fullDocument` (schema.py). Events
without a pre-image (plain inserts; collections without pre-images
enabled) contribute only their post-image leg — the view then counts
upserts, which is the best any pre-image-less CDC consumer can do.

Scale: the shuffled data per batch is O(distinct groups in the batch)
after a map-side partial aggregation — never O(base table). The view
itself is O(total groups) rows and is rewritten wholesale per batch;
for views large enough that this matters, swap the full overwrite for
the bucket-partitioned dynamic overwrite in apply.py (same pattern,
same idempotence argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from mongo_cdc_spark.cdc.schema import CHANGE_EVENT_SCHEMA
from mongo_cdc_spark.cdc.transform import parse_events
from mongo_cdc_spark.io import hadoop_fs

_UPSERT_OPS = ("insert", "update", "replace")
_PRE_OPS = ("update", "replace", "delete")

# Envelope extended with the optional pre-image column (absent events
# parse to NULL — from_json is tolerant of missing fields).
CHANGE_EVENT_SCHEMA_PREIMAGE = T.StructType(
    CHANGE_EVENT_SCHEMA.fields
    + [T.StructField("fullDocumentBeforeChange", T.StringType())]
)


def parse_change_events_with_preimage(raw: DataFrame,
                                      value_col: str = "value") -> DataFrame:
    """parse_change_events twin that also surfaces
    `fullDocumentBeforeChange`; same single parse and skip-on-error."""
    return parse_events(raw, CHANGE_EVENT_SCHEMA_PREIMAGE, value_col)


def view_deltas(events: DataFrame, group_field: str,
                value_field: str) -> DataFrame:
    """Per-batch view delta: (g, d_cnt, d_sum) from a frame of change
    events. One narrow union + ONE hash-agg shuffle on the group key,
    partial-aggregated map-side — batch cost never depends on the size
    of the maintained view or the base collection."""
    g_post = F.get_json_object("fullDocument", f"$.{group_field}")
    v_post = (F.get_json_object("fullDocument", f"$.{value_field}")
              .cast("double"))
    g_pre = F.get_json_object("fullDocumentBeforeChange", f"$.{group_field}")
    v_pre = (F.get_json_object("fullDocumentBeforeChange",
                               f"$.{value_field}").cast("double"))
    adds = (events
            .filter(F.col("operationType").isin(*_UPSERT_OPS)
                    & F.col("fullDocument").isNotNull())
            .select(g_post.alias("g"), F.lit(1).alias("d_cnt"),
                    F.coalesce(v_post, F.lit(0.0)).alias("d_sum")))
    subs = (events
            .filter(F.col("operationType").isin(*_PRE_OPS)
                    & F.col("fullDocumentBeforeChange").isNotNull())
            .select(g_pre.alias("g"), F.lit(-1).alias("d_cnt"),
                    (-F.coalesce(v_pre, F.lit(0.0))).alias("d_sum")))
    return (adds.unionByName(subs)
            .groupBy("g")
            .agg(F.sum("d_cnt").alias("d_cnt"), F.sum("d_sum").alias("d_sum")))


def _read_view(spark: SparkSession, view_path: str) -> DataFrame | None:
    """The view as written so far, or None before its first batch.
    Existence is probed via the Hadoop FS (not except-squashing — a real
    read error must fail the batch so the checkpoint retries it)."""
    fs, p = hadoop_fs(spark, view_path)
    return spark.read.parquet(view_path) if fs.exists(p) else None


def _applied_batch(view: DataFrame | None) -> int:
    """Highest batch id already folded into the view (−1 if none)."""
    if view is None:
        return -1
    row = view.agg(F.max("_applied_batch")).collect()[0]
    return -1 if row[0] is None else int(row[0])


def apply_deltas_to_view(spark: SparkSession, view_path: str,
                         events: DataFrame, batch_id: int,
                         group_field: str, value_field: str) -> None:
    """Fold one micro-batch into the view, exactly once.

    The applied batch id rides in the same parquet overwrite as the
    data, so state and progress marker commit together: a replayed
    batch (at-least-once foreachBatch) sees batch_id <= _applied_batch
    and returns without touching state. Groups whose count reaches 0
    are dropped (the view contains only live groups)."""
    view = _read_view(spark, view_path)
    last = _applied_batch(view)
    if batch_id <= last:
        return
    deltas = view_deltas(events, group_field, value_field)
    if last >= 0:
        old = view.select("g", "cnt", "total")
        merged = (old.join(deltas, "g", "full_outer")
                  .select(
                      "g",
                      (F.coalesce(F.col("cnt"), F.lit(0))
                       + F.coalesce(F.col("d_cnt"), F.lit(0))).alias("cnt"),
                      (F.coalesce(F.col("total"), F.lit(0.0))
                       + F.coalesce(F.col("d_sum"), F.lit(0.0)))
                      .alias("total")))
    else:
        merged = deltas.select(
            "g", F.col("d_cnt").alias("cnt"), F.col("d_sum").alias("total"))
    out = (merged.filter(F.col("cnt") > 0)
           .withColumn("_applied_batch", F.lit(batch_id).cast("long"))
           # materialize BEFORE the overwrite clobbers the files the
           # merge just read (same hazard as apply.py's keep-leg)
           .localCheckpoint(eager=True))
    out.write.mode("overwrite").parquet(view_path)


def maintain_view_stream(events: DataFrame, view_path: str, checkpoint: str,
                         group_field: str,
                         value_field: str) -> StreamingQuery:
    """Streaming materialized view: change-event stream in, continuously
    maintained (group, cnt, total) parquet table out."""
    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        apply_deltas_to_view(batch_df.sparkSession, view_path, batch_df,
                             batch_id, group_field, value_field)

    return (events.writeStream
            .foreachBatch(_fold)
            .option("checkpointLocation", checkpoint)
            .start())
