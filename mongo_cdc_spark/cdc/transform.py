"""The reference pipeline's per-event transform, as one narrow Spark stage.

Covers operators #2-#6 of SURVEY.md §2.1 (reference: /root/reference/main.go):
  parse + skip-on-error   (main.go:104-108)  → one from_json + filter
  field extraction        (main.go:111-116)  → Catalyst projection
  dynamic topic routing   (main.go:113)      → concat_ws("." , db, coll)
  Connect key envelope    (main.go:123-131)  → to_json(struct(...)) built-ins
  Ext-JSON key + value    (main.go:117,138)  → one Java UDF call
                                               (jvm/ExtJsonKeyValue.java)

The whole transform is shuffle-free: Scan → Generate(from_json) → Project
→ UDF → Sink is a single Spark stage at any scale, and it runs entirely in
the JVM: no relay plan has a Python eval node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo_cdc_spark.cdc.schema import CHANGE_EVENT_SCHEMA, CORRUPT_COL
from mongo_cdc_spark.session import ext_json_function


def valid_event() -> Column:
    """No corrupt text, and the fields the pipeline interprets present."""
    return (F.col(CORRUPT_COL).isNull() & F.col("ns.db").isNotNull()
            & F.col("ns.coll").isNotNull()
            & F.col("documentKey._id").isNotNull())


# A value of JSON whitespace only: from_json reads it as an all-null
# row with no corrupt text, the JSON file source skips the line.
_BLANK = r"^[ \t\r\n]*$"


def parse_events(raw: DataFrame, schema: T.StructType,
                 value_col: str = "value",
                 keep_corrupt: bool = False) -> DataFrame:
    """Decode raw JSON events into `schema` + CORRUPT_COL, dropping invalid
    ones unless keep_corrupt. Behind a Generate node, the parse cannot be
    copied into the pushed-down filter, so each event is parsed once.
    With keep_corrupt, blank values are skipped, as the JSON file source
    skips blank lines, so every reject carries its raw text."""
    permissive = T.StructType(
        schema.fields + [T.StructField(CORRUPT_COL, T.StringType())])
    text = F.col(value_col).cast("string")
    if keep_corrupt:
        raw = raw.filter(text.isNull() | ~text.rlike(_BLANK))
    parsed = raw.select(F.inline(F.array(F.from_json(
        text, permissive, {"mode": "PERMISSIVE"}))))
    if keep_corrupt:
        return parsed
    return parsed.filter(valid_event()).drop(CORRUPT_COL)


def parse_change_events(raw: DataFrame, value_col: str = "value",
                        keep_corrupt: bool = False) -> DataFrame:
    """Decode raw JSON change events with per-record skip-on-error.

    PERMISSIVE mode + corrupt-record filter reproduces the reference's
    log-and-continue on decode failure (main.go:105-108): a bad record
    never kills the stream. Pass keep_corrupt=True to route rejects to a
    dead-letter sink instead of dropping (a flagged improvement).
    """
    return parse_events(raw, CHANGE_EVENT_SCHEMA, value_col, keep_corrupt)


def with_topic(events: DataFrame) -> DataFrame:
    """Dynamic output routing: topic = "{db}.{coll}" (main.go:113).

    Spark's Kafka sink honors a per-row `topic` column natively, so the
    value-dependent sink partition costs nothing extra.
    """
    return events.withColumn(
        "topic", F.concat_ws(".", F.col("ns.db"), F.col("ns.coll")))


def _ext_json(events: DataFrame) -> Column:
    """struct<payload, value> of each event. Key and value use the same
    expression, which Spark evaluates once per row (common
    subexpression elimination), so they share one UDF call."""
    return F.call_function(
        ext_json_function(events.sparkSession), F.to_json(F.struct(
            F.col("_id"), F.col("operationType"), F.col("clusterTime"),
            F.col("ns"), F.col("documentKey"), F.col("fullDocument"),
        )))


def connect_key_envelope(events: DataFrame) -> DataFrame:
    """Kafka Connect JSON key envelope (main.go:16-24,123-131).

    {"schema":{"type":"string","optional":false},"payload":"<ext json of
    documentKey>"} — byte-compatible with the JsonConverter wire format
    the reference's docker-compose sink chain consumes
    (docker-compose.yml:111-112). Built-ins plus the Ext-JSON Java UDF.
    """
    return events.withColumn(
        "key",
        F.to_json(F.struct(
            F.struct(
                F.lit("string").alias("type"),
                F.lit(False).alias("optional"),
            ).alias("schema"),
            _ext_json(events).getField("payload").alias("payload"),
        )),
    )


def ext_json_value(events: DataFrame) -> DataFrame:
    """Whole-event canonical Extended JSON value (main.go:138-142)."""
    return events.withColumn("value", _ext_json(events).getField("value"))


def to_kafka_records(parsed: DataFrame) -> DataFrame:
    """Full transform: parsed envelope → (topic, key, value) for the Kafka
    sink. Omitting a `partition` column = PartitionAny (main.go:147)."""
    df = with_topic(parsed)
    df = connect_key_envelope(df)
    df = ext_json_value(df)
    return df.select("topic", "key", "value")


def schema_fingerprints(events: DataFrame) -> DataFrame:
    """Per-collection fullDocument schema fingerprints (sorted JSON
    keys) with event counts — the schema-registry compatibility feed.
    Works identically on batch and STREAMING parsed change events:
    the aggregation keys on (coll, fingerprint), which is
    schema-grain (a handful of live rows per collection at any stream
    size), so streaming state stays O(schemas) and the batch twin
    (`operators.cdc_batch.cdc_schema_evolution_audit`) is its graded
    oracle; drain parity is pinned in tests/test_streaming.py."""
    fp = F.concat_ws(
        ",", F.sort_array(F.json_object_keys("fullDocument")))
    key = F.col("documentKey._id").cast("bigint")
    return (events
            .select(F.col("ns.coll").alias("coll"),
                    fp.alias("schema_fields"), key.alias("k"))
            .groupBy("coll", "schema_fields")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("k").alias("first_key"),
                 F.max("k").alias("last_key")))
