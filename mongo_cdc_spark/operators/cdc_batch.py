"""The CDC relay transform (SURVEY.md §2.1 operators #2-#6) exercised
batch-side over fixture tables so the DuckDB oracle can hash-check it —
the same parse → route → envelope code path the streaming relay runs
(mongo_cdc_spark.cdc.transform), fed with change events synthesized
from `orders` rows.

Reference parity: topic = "{db}.{coll}" (/root/reference/main.go:113),
Connect key envelope layout (main.go:16-24,123-131), canonical Ext-JSON
value (main.go:117,138).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongo_cdc_spark.cdc.transform import parse_change_events, to_kafka_records
from mongo_cdc_spark.io import load_table
from mongo_cdc_spark.operators import make_registry

QUERIES, ORACLE, query = make_registry()


def _synthetic_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders rows → raw change-event JSON lines (insert into
    shop.<status>), exactly the wire shape the streaming sources emit."""
    # A real change stream arrives over many source partitions (Kafka
    # partitions / mongo shards); the single-file parquet fixture would
    # otherwise collapse this narrow pipeline onto ONE task, which is a
    # fixture artifact, not the production plan shape.
    o = load_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism)
    ev = F.to_json(F.struct(
        F.struct(F.concat(F.lit("rt-"), F.col("o_orderkey"))
                 .alias("_data")).alias("_id"),
        F.lit("insert").alias("operationType"),
        F.struct(F.lit("shop").alias("db"),
                 F.lower("o_orderstatus").alias("coll")).alias("ns"),
        F.struct(F.col("o_orderkey").cast("string").alias("_id"))
         .alias("documentKey"),
        F.to_json(F.struct("o_orderkey", "o_orderstatus"))
         .alias("fullDocument"),
    ))
    return o.select(ev.alias("value"))


@query("cdc_topic_routing", sql="""
    SELECT 'shop.' || lower(o_orderstatus) AS topic, COUNT(*) AS n
    FROM orders GROUP BY topic ORDER BY topic
""")
def cdc_topic_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse + skip-on-error + dynamic topic derivation (main.go:104-113)
    through the real pipeline code, aggregated per topic.

    Scale: the transform is a narrow stage (no shuffle until the final
    tiny count) — identical plan shape to the streaming relay."""
    parsed = parse_change_events(_synthetic_change_events(spark, sf_dir))
    records = to_kafka_records(parsed)
    return (records.groupBy("topic")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("topic"))


@query("cdc_key_envelope", sql=r"""
    SELECT o_orderkey AS order_key,
           'shop.' || lower(o_orderstatus) AS topic,
           '{"schema":{"type":"string","optional":false},"payload":"{\"_id\":\"'
             || o_orderkey || '\"}"}' AS key
    FROM orders
    WHERE o_orderkey < 100
    ORDER BY order_key
""")
def cdc_key_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-byte check of the Kafka Connect key envelope
    (main.go:16-24,123-131): the oracle constructs the exact expected
    JSON bytes by string concatenation; the engine must produce them
    through its real to_json + Ext-JSON path (with_topic →
    connect_key_envelope, the same code the streaming relay runs).

    The key filter is applied to the PARSED envelope, before the
    Ext-JSON Java UDF, so only the 100 selected keys are serialized
    instead of the whole corpus (150k rows at sf0.1). The plan has no
    Python eval node. The shared Ext-JSON UDF also encodes the value,
    which the final projection drops; the value path has its own
    graded checks (cdc_topic_routing, tests/test_extjson.py)."""
    from mongo_cdc_spark.cdc.transform import (
        connect_key_envelope, with_topic)

    parsed = parse_change_events(_synthetic_change_events(spark, sf_dir))
    keyed = (parsed
             .withColumn("order_key", F.col("documentKey._id").cast("long"))
             .filter(F.col("order_key") < 100))
    return (connect_key_envelope(with_topic(keyed))
            .select("order_key", "topic", "key")
            .orderBy("order_key"))


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  cols: tuple[str, ...]) -> DataFrame:
    """Generic snapshot diff: minimal insert/update/delete feed that
    transforms `old` into `new`, keyed on `key`, change-detected by an
    md5 digest over `cols` (column-agnostic; digests never leave the
    engine). Returns (op, <key>, plus old_/new_ copies of `cols`).
    Property-tested (hypothesis): applying the feed to any generated
    old snapshot reproduces the new one exactly —
    tests/test_cdc_batch.py."""
    def digest(side: str):
        return F.md5(F.concat_ws(
            "|", *[F.col(f"{side}.{c}") for c in cols]))

    joined = (old.alias("o")
              .join(new.alias("n"),
                    F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer"))
    op = (F.when(F.col(f"o.{key}").isNull(), "insert")
          .when(F.col(f"n.{key}").isNull(), "delete")
          .when(digest("o") != digest("n"), "update")
          .otherwise("unchanged"))
    out_cols = ([op.alias("op"),
                 F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}"))
                 .alias(key)]
                + [F.col(f"o.{c}").alias(f"old_{c}") for c in cols]
                + [F.col(f"n.{c}").alias(f"new_{c}") for c in cols])
    return (joined.select(*out_cols)
            .filter(F.col("op") != "unchanged"))


@query("cdc_snapshot_diff", sql="""
    WITH base AS (
        SELECT o_orderkey AS k, ROUND(o_totalprice, 2) AS p,
               o_orderstatus AS st, o_orderpriority AS pri
        FROM orders
    ), old AS (
        SELECT k, CASE WHEN k % 5 = 0 THEN p + 1000.0 ELSE p END AS p,
               st, pri
        FROM base WHERE k % 7 <> 0
    ), new AS (
        SELECT * FROM base WHERE k % 11 <> 3
    ), tagged AS (
        SELECT COALESCE(o.k, n.k) AS order_key,
               CASE WHEN o.k IS NULL THEN 'insert'
                    WHEN n.k IS NULL THEN 'delete'
                    WHEN md5(concat_ws('|', o.p, o.st, o.pri))
                         <> md5(concat_ws('|', n.p, n.st, n.pri))
                         THEN 'update'
                    ELSE 'unchanged' END AS op,
               o.p AS before_total, n.p AS after_total
        FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT op, order_key, before_total, after_total
    FROM tagged WHERE op <> 'unchanged'
    ORDER BY order_key
""")
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff → change-data feed: given two snapshots of a
    table, emit the minimal insert/update/delete event stream that
    transforms one into the other (Delta Lake's Change Data Feed /
    Debezium snapshot-reconciliation primitive — the exact INVERSE of
    the reference relay, /root/reference/main.go:103-155, which ships
    per-document events forward; this derives the events when all you
    have is before/after state).

    Two deterministic snapshots are synthesized from `orders`: the old
    snapshot is missing every key ≡0 (mod 7) (those become inserts)
    and carries a +1000.00 price on keys ≡0 (mod 5) (those become
    updates); the new snapshot is missing keys ≡3 (mod 11) (those
    become deletes). Change detection is column-agnostic: an md5 row
    digest compared WITHIN each engine, so adding columns never
    changes the operator — only which rows differ.

    Scale: one full-outer equi-join on the primary key — with both
    snapshots bucketed/sorted by key (the layout the CDC apply store
    already writes, cdc/apply.py) this is a zero-exchange sort-merge;
    classification and the unchanged-row elimination are narrow and
    happen BEFORE any downstream fan-out, so the emitted feed is
    O(changed rows), not O(table). The +1000.0 update arithmetic is
    exact in doubles, so classification never hinges on float
    formatting (digests are never compared across engines)."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round("o_totalprice", 2).alias("p"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pri"))
    old = (base.filter(F.col("k") % 7 != 0)
           .withColumn("p", F.when(F.col("k") % 5 == 0,
                                   F.col("p") + 1000.0)
                             .otherwise(F.col("p"))))
    new = base.filter(F.col("k") % 11 != 3)
    return (snapshot_diff(old, new, "k", ("p", "st", "pri"))
            .select("op", F.col("k").alias("order_key"),
                    F.col("old_p").alias("before_total"),
                    F.col("new_p").alias("after_total"))
            .orderBy("order_key"))


@query("cdc_incremental_view_replay", sql="""
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'M'
                  ELSE o_orderstatus END AS g,
             ROUND(o_totalprice) AS v
      FROM orders
      WHERE o_orderkey % 17 <> 0
    )
    SELECT g, COUNT(*) AS cnt, ROUND(SUM(v), 4) AS total
    FROM final GROUP BY g ORDER BY g
""")
def cdc_incremental_view_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, graded end-state:
    synthesize a deterministic change history from `orders` (every row
    inserted; keys %10==0 later updated into group 'M' with a
    pre-image; keys %17==0 finally deleted with the correct pre-image
    of their then-current state) and fold it through the REAL delta
    algebra (`cdc.incremental.view_deltas`: insert +1/+v, update as
    +post/−pre so group moves split correctly, delete −1/−v). The
    folded view must equal the DECLARATIVE final state — the SQL a
    consumer would get by rescanning the base collection, which is
    exactly the rescan the incremental path exists to avoid
    (/root/reference/main.go:145-154 relays and stops; every consumer
    re-aggregates).

    Values are integer-valued doubles (ROUND(o_totalprice)) so the
    delta sums are exact in both engines regardless of fold order.

    Scale: the event synthesis is narrow; view_deltas does ONE
    hash-agg shuffle keyed on the group, map-side partial-aggregated —
    per-batch cost is O(distinct groups in batch), independent of base
    collection size. That O(batch) vs O(base) asymmetry is the whole
    point of incremental maintenance at 100 TB."""
    from mongo_cdc_spark.cdc.incremental import view_deltas

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("st0"),
        F.round("o_totalprice").alias("v"))
    doc0 = F.to_json(F.struct(F.col("st0").alias("st"),
                              F.col("v").alias("v")))
    doc_m = F.to_json(F.struct(F.lit("M").alias("st"),
                               F.col("v").alias("v")))
    nulls = F.lit(None).cast("string")
    ins = base.select(
        F.lit("insert").alias("operationType"),
        doc0.alias("fullDocument"),
        nulls.alias("fullDocumentBeforeChange"))
    upd = base.filter(F.col("o_orderkey") % 10 == 0).select(
        F.lit("update").alias("operationType"),
        doc_m.alias("fullDocument"),
        doc0.alias("fullDocumentBeforeChange"))
    # the delete's pre-image is the row's state AFTER any earlier
    # update — a %170 key moved to 'M' must be deleted FROM 'M'
    dele = base.filter(F.col("o_orderkey") % 17 == 0).select(
        F.lit("delete").alias("operationType"),
        nulls.alias("fullDocument"),
        F.when(F.col("o_orderkey") % 10 == 0, doc_m).otherwise(doc0)
         .alias("fullDocumentBeforeChange"))
    # ONE spread exchange after the union (a change stream arrives over
    # many source partitions; the single-file fixture would otherwise
    # run the whole json path on one task) — repartitioning the base
    # instead would re-execute the exchange once per union leg
    events = (ins.unionByName(upd).unionByName(dele)
              .repartition(spark.sparkContext.defaultParallelism))
    view = view_deltas(events, "st", "v")
    return (
        view.filter(F.col("d_cnt") > 0)
        .select("g", F.col("d_cnt").alias("cnt"),
                F.round("d_sum", 4).alias("total"))
        .orderBy("g")
    )


# Kafka Connect RegexRouter SMT semantics: ordered rules, first rule
# whose ANCHORED pattern matches the whole topic renames it (later
# rules never see it); unmatched topics pass through. Replacement
# backreference syntax differs per engine (Java $1 / RE2 \1), so each
# rule carries both spellings of the same replacement.
ROUTER_RULES = (
    (r"^shop\.o$", "orders-open", "orders-open"),
    (r"^shop\.(.*)$", "cdc-shop-$1", r"cdc-shop-\1"),
)


@query("cdc_topic_regex_router", sql=f"""
    WITH t AS (
      SELECT 'shop.' || lower(o_orderstatus) AS topic FROM orders
    ), routed AS (
      SELECT topic,
             CASE
               WHEN regexp_matches(topic, '{ROUTER_RULES[0][0]}')
                 THEN regexp_replace(topic, '{ROUTER_RULES[0][0]}',
                                     '{ROUTER_RULES[0][2]}')
               WHEN regexp_matches(topic, '{ROUTER_RULES[1][0]}')
                 THEN regexp_replace(topic, '{ROUTER_RULES[1][0]}',
                                     '{ROUTER_RULES[1][2]}')
               ELSE topic END AS routed_topic
      FROM t
    )
    SELECT topic AS original_topic, routed_topic, COUNT(*) AS n
    FROM routed GROUP BY 1, 2 ORDER BY original_topic
""")
def cdc_topic_regex_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka Connect RegexRouter SMT on top of the relay's dynamic
    topic derivation: an ordered rule list, first anchored-pattern
    match renames the topic, unmatched topics pass through — the
    standard topic-namespace rewrite every Connect deployment bolts
    onto a CDC source (the reference emits raw db.coll topics,
    main.go:113; this is the renaming its consumers configure).

    Runs through the REAL pipeline path (synthetic change events →
    parse → to_kafka_records) and then applies the rules as a
    narrow CASE/regexp projection — JVM regex, no shuffle until the
    per-topic count. First-match-wins is the CASE ladder; the same
    ladder in the oracle pins rule-precedence semantics."""
    parsed = parse_change_events(_synthetic_change_events(spark, sf_dir))
    records = to_kafka_records(parsed)
    routed = F.col("topic")
    # build the CASE ladder in reverse so rule 0 ends up outermost
    for pat, repl, _ in reversed(ROUTER_RULES):
        routed = F.when(F.col("topic").rlike(pat),
                        F.regexp_replace("topic", pat, repl)) \
                  .otherwise(routed)
    return (records
            .select(F.col("topic").alias("original_topic"),
                    routed.alias("routed_topic"))
            .groupBy("original_topic", "routed_topic")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("original_topic"))


def _synthetic_mixed_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders rows → a deterministic insert/update/delete mix
    (o_orderkey % 10: 0 → delete, 1-2 → update, else insert), with the
    op-correct envelope shape: deletes carry NO fullDocument — exactly
    how MongoDB change streams emit them."""
    o = load_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism)
    op = (F.when(F.col("o_orderkey") % 10 == 0, "delete")
          .when(F.col("o_orderkey") % 10 <= 2, "update")
          .otherwise("insert"))
    full_doc = F.when(
        op != "delete",
        F.to_json(F.struct("o_orderkey", "o_orderstatus")))
    ev = F.to_json(F.struct(
        F.struct(F.concat(F.lit("rt-"), F.col("o_orderkey"))
                 .alias("_data")).alias("_id"),
        op.alias("operationType"),
        F.struct(F.lit("shop").alias("db"),
                 F.lower("o_orderstatus").alias("coll")).alias("ns"),
        F.struct(F.col("o_orderkey").cast("string").alias("_id"))
         .alias("documentKey"),
        full_doc.alias("fullDocument"),
    ))
    return o.select(ev.alias("value"))


@query("cdc_op_mix_stats", sql="""
    WITH ops AS (
      SELECT 'shop.' || lower(o_orderstatus) AS topic,
             CASE WHEN o_orderkey % 10 = 0 THEN 'delete'
                  WHEN o_orderkey % 10 <= 2 THEN 'update'
                  ELSE 'insert' END AS operation_type
      FROM orders
    )
    SELECT topic, operation_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN operation_type = 'delete' THEN 0 ELSE 1
                    END) AS BIGINT) AS n_with_fulldoc
    FROM ops GROUP BY 1, 2 ORDER BY topic, operation_type
""")
def cdc_op_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-operation relay observability: a deterministic
    insert/update/delete stream through the REAL parse + routing path
    (main.go relays all change-stream op types, not just inserts —
    this is the first graded surface exercising non-insert
    envelopes). Deletes carry no fullDocument, per the MongoDB wire
    shape; the count of envelopes with a post-image per (topic, op)
    pins that the PERMISSIVE parse keeps delete events (null
    fullDocument is VALID, not corrupt) while still rejecting
    actually-malformed records.

    Narrow parse/projection into a tiny keyed agg — the relay plan
    shape with an observability rollup on top (the per-topic
    delivery-stats view the reference's log-scraping consumers
    build by hand)."""
    parsed = parse_change_events(_synthetic_mixed_ops(spark, sf_dir))
    from mongo_cdc_spark.cdc.transform import with_topic
    return (with_topic(parsed)
            .select("topic",
                    F.col("operationType").alias("operation_type"),
                    F.col("fullDocument").isNotNull().alias("has_doc"))
            .groupBy("topic", "operation_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("has_doc"), 1).otherwise(0))
                 .alias("n_with_fulldoc"))
            .orderBy("topic", "operation_type"))


@query("cdc_resume_gap_audit", sql="""
    WITH seq AS (
      SELECT lower(o_orderstatus) AS coll,
             ROW_NUMBER() OVER (PARTITION BY lower(o_orderstatus)
                                ORDER BY o_orderkey) AS s
      FROM orders
    ), delivered AS (
      SELECT coll, s FROM seq WHERE s % 97 <> 0
    ), diffs AS (
      SELECT coll, s,
             s - lag(s) OVER (PARTITION BY coll ORDER BY s) AS d
      FROM delivered
    )
    SELECT 'shop.' || coll AS topic,
           CAST(COUNT(*) AS BIGINT) AS n_delivered,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           CAST(SUM(CASE WHEN d > 1 THEN d - 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(MAX(CASE WHEN d > 1 THEN d - 1 ELSE 0 END) AS INT)
             AS max_gap_span
    FROM diffs GROUP BY coll ORDER BY topic
""")
def cdc_resume_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream continuity audit: every CDC source stamps events
    with a per-namespace monotone sequence (Mongo's clusterTime/resume
    ordinal, Kafka's offset); a consumer that sees ordinal jumps has
    LOST events — the at-least-once guarantee's blind spot that only
    sequence auditing catches. This operator replays that check:
    events carry a per-collection sequence number, a deterministic
    subset (every 97th) is 'lost in transit', and the audit detects
    per-topic gap count, total missing events, and the widest hole
    from the delivered ordinals alone — what an operator pages on and
    replays from the last-good resume token to heal.

    Plan: one per-namespace window (lag over delivered ordinals — the
    data-sized sort is keyed by collection; at 100 TB it partitions
    further by ordinal epoch since gaps are detectable within
    overlapping ranges), then a per-topic rollup. Integer arithmetic
    end to end."""
    o = load_table(spark, sf_dir, "orders")
    ns = F.lower("o_orderstatus")
    sw = Window.partitionBy("coll").orderBy("o_orderkey")
    seq = (o.select(ns.alias("coll"), "o_orderkey")
           .withColumn("s", F.row_number().over(sw)))
    delivered = seq.where(F.col("s") % 97 != 0)
    dw = Window.partitionBy("coll").orderBy("s")
    diffs = delivered.withColumn(
        "d", F.col("s") - F.lag("s").over(dw))
    gap = F.when(F.col("d") > 1, F.col("d") - 1).otherwise(0)
    return (diffs.groupBy("coll")
            .agg(F.count(F.lit(1)).alias("n_delivered"),
                 F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
                 .cast("bigint").alias("n_gaps"),
                 F.sum(gap).cast("bigint").alias("n_missing"),
                 F.max(gap).cast("int").alias("max_gap_span"))
            .select(F.concat(F.lit("shop."), F.col("coll"))
                    .alias("topic"),
                    F.col("n_delivered").cast("bigint")
                    .alias("n_delivered"),
                    "n_gaps", "n_missing", "max_gap_span")
            .orderBy("topic"))


def _evolving_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders rows → change-event JSON lines whose fullDocument SCHEMA
    EVOLVES: version = o_orderkey % 3 picks the field set (v0 base, v1
    adds o_totalprice, v2 additionally adds o_orderpriority) — the
    additive-field rollout shape a long-lived collection actually
    produces mid-stream."""
    o = load_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism)
    ver = F.col("o_orderkey") % 3
    doc = (F.when(ver == 0, F.to_json(F.struct(
               "o_orderkey", "o_orderstatus")))
           .when(ver == 1, F.to_json(F.struct(
               "o_orderkey", "o_orderstatus", "o_totalprice")))
           .otherwise(F.to_json(F.struct(
               "o_orderkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority"))))
    ev = F.to_json(F.struct(
        F.struct(F.concat(F.lit("se-"), F.col("o_orderkey"))
                 .alias("_data")).alias("_id"),
        F.lit("insert").alias("operationType"),
        F.struct(F.lit("shop").alias("db"),
                 F.lower("o_orderstatus").alias("coll")).alias("ns"),
        F.struct(F.col("o_orderkey").cast("string").alias("_id"))
         .alias("documentKey"),
        doc.alias("fullDocument"),
    ))
    return o.select(ev.alias("value"))


@query("cdc_schema_evolution_audit", sql="""
    WITH v AS (
      SELECT lower(o_orderstatus) AS coll,
             CASE o_orderkey % 3
               WHEN 0 THEN 'o_orderkey,o_orderstatus'
               WHEN 1 THEN 'o_orderkey,o_orderstatus,o_totalprice'
               ELSE 'o_orderkey,o_orderpriority,o_orderstatus,'
                    || 'o_totalprice'
             END AS schema_fields,
             o_orderkey
      FROM orders
    )
    SELECT coll, schema_fields,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_key,
           CAST(COUNT(*) OVER (PARTITION BY coll) AS BIGINT)
             AS coll_schemas_total
    FROM v GROUP BY coll, schema_fields
    ORDER BY coll, schema_fields
""")
def cdc_schema_evolution_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Schema-evolution audit over the live change stream: per
    collection, every DISTINCT fullDocument field-set observed (the
    schema fingerprint: sorted JSON keys), with event counts and
    first/last document keys per fingerprint — what a schema-registry
    compatibility check consumes, and the alarm that catches an
    unannounced field rollout or a producer regression dropping
    fields. Runs the synthetic evolving stream through the REAL parse
    path (cdc.transform.parse_change_events, main.go:104-108's
    skip-on-error decode) and the live monitor's own aggregation
    (cdc.transform.schema_fingerprints, a complete-mode streaming
    query with O(schemas) state), so the oracle (which derives the
    expected fingerprints from the generative rule) grades the whole
    decode + extraction chain that ships. Drain parity is pinned in
    tests/test_streaming.py.

    Scale: the parse is a narrow stage; the rollup shuffles
    (coll, fingerprint) keys — schema-grain (a handful of rows per
    collection at any stream size), map-side combined. The per-coll
    window runs over that schema-grain frame."""
    from mongo_cdc_spark.cdc.transform import schema_fingerprints
    per = schema_fingerprints(
        parse_change_events(_evolving_change_events(spark, sf_dir)))
    w = Window.partitionBy("coll")
    return (per
            .select("coll", "schema_fields", "n_events",
                    "first_key", "last_key",
                    F.count(F.lit(1)).over(w).cast("bigint")
                    .alias("coll_schemas_total"))
            .orderBy("coll", "schema_fields"))


# ------------------------------------------- merge-on-read CDC apply

_MOR_BUCKETS = 16


def _mor_bucket(key):
    """Portable md5-prefix bucket (same recipe as the shard oracles:
    Spark conv(hex) == DuckDB ('0x'||...)::BIGINT, bit-identical)."""
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
            .cast("long") % _MOR_BUCKETS).cast("int")


def _mor_frames(spark: SparkSession, sf_dir: str):
    """The deterministic synthetic MoR table shared by the
    merge-on-read queries: base = orders as string-cents documents;
    delta = two overlapping update generations (+30d on mod-5 keys,
    +45d on mod-10) then deletes (+60d on mod-7), commit seqs 1-3."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base0 = o.select(
        F.col("o_orderkey").cast("string").alias("doc_key"),
        cents.alias("cents"),
        F.col("o_orderdate").alias("updated_at"),
        F.col("o_orderkey").alias("k"))
    base = (base0
            .select("doc_key", F.col("cents").cast("string").alias("doc"),
                    "updated_at")
            .withColumn("bucket", _mor_bucket(F.col("doc_key"))))

    def _ev(cond, op, cents_expr, days, seq):
        return (base0.where(cond)
                .select("doc_key",
                        F.lit(op).alias("op"),
                        cents_expr.cast("string").alias("doc"),
                        (F.col("updated_at")
                         + F.expr(f"INTERVAL {days} DAYS"))
                        .alias("updated_at"),
                        F.lit(seq).cast("long").alias("seq"))
                .withColumn("bucket", _mor_bucket(F.col("doc_key"))))

    delta = (_ev(F.col("k") % 5 == 0, "update", F.col("cents") + 1000,
                 30, 1)
             .unionByName(_ev(F.col("k") % 10 == 0, "update",
                              F.col("cents") + 2000, 45, 2))
             .unionByName(_ev(F.col("k") % 7 == 0, "delete",
                              F.lit(None).cast("bigint"), 60, 3)))
    return base, delta


@query("cdc_merge_on_read_state", sql=f"""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS doc_key,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate AS updated_at,
             o_orderkey AS k
      FROM orders
    ), delta AS (
      SELECT doc_key, 'update' AS op, cents + 1000 AS cents,
             updated_at + INTERVAL 30 DAY AS updated_at, 1 AS seq
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT doc_key, 'update', cents + 2000,
             updated_at + INTERVAL 45 DAY, 2
      FROM base WHERE k % 10 = 0
      UNION ALL
      SELECT doc_key, 'delete', NULL,
             updated_at + INTERVAL 60 DAY, 3
      FROM base WHERE k % 7 = 0
    ), winners AS (
      SELECT * FROM (
        SELECT d.*, ROW_NUMBER() OVER (PARTITION BY doc_key
                      ORDER BY updated_at DESC, seq DESC) AS rn
        FROM delta d) AS r
      WHERE rn = 1
    ), merged AS (
      SELECT doc_key, cents FROM base
      WHERE doc_key NOT IN (SELECT doc_key FROM delta)
      UNION ALL
      SELECT doc_key, cents FROM winners
      WHERE op IN ('insert', 'update', 'replace')
    )
    SELECT CAST(bucket AS INT) AS bucket,
           COUNT(*) AS n_live,
           ROUND(SUM(cents) / 100.0, 2) AS total_price
    FROM (SELECT *,
                 ('0x' || substr(md5(doc_key), 1, 8))::BIGINT
                   % {_MOR_BUCKETS} AS bucket
          FROM merged) AS m
    GROUP BY bucket
    ORDER BY bucket
""")
def cdc_merge_on_read_state(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Merge-on-read CDC apply, batch-graded: a deterministic delta
    log synthesized over the orders base (two overlapping update
    generations at +30/+45 days on the mod-5/mod-10 keys, then
    deletes at +60 days on the mod-7 keys) resolved through the REAL
    cdc.apply.resolve_current_state — base rows masked by the delta's
    keys plus the newest delta row per key on (updated_at, seq).
    Output: the per-bucket live-row manifest the MoR reader would
    serve. The file-backed surface (merge_on_read_apply /
    read_merge_on_read / compact_merge_on_read) runs the same
    resolver; its append/compact lifecycle is pinned hermetically in
    tests/test_cdc_apply.py.

    Scale: the delta log makes each commit an O(batch) append instead
    of O(bucket) rewrites; the resolve is one doc_key-partitioned
    rank window over the delta plus a broadcast anti-join against
    the (batch-sized) delta key set — the read path's cost until the
    next compaction, by design."""
    from mongo_cdc_spark.cdc.apply import resolve_current_state

    base, delta = _mor_frames(spark, sf_dir)
    merged = resolve_current_state(base, delta)
    return (merged
            .groupBy(F.col("bucket").cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_live"),
                 F.round(F.sum(F.col("doc").cast("bigint")) / 100.0, 2)
                 .alias("total_price"))
            .orderBy("bucket"))


@query("cdc_mor_time_travel", sql=f"""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS doc_key,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate AS updated_at,
             o_orderkey AS k
      FROM orders
    ), delta AS (
      SELECT doc_key, 'update' AS op, cents + 1000 AS cents,
             updated_at + INTERVAL 30 DAY AS updated_at, 1 AS seq
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT doc_key, 'update', cents + 2000,
             updated_at + INTERVAL 45 DAY, 2
      FROM base WHERE k % 10 = 0
      UNION ALL
      SELECT doc_key, 'delete', NULL,
             updated_at + INTERVAL 60 DAY, 3
      FROM base WHERE k % 7 = 0
    ), seqs AS (
      SELECT unnest(generate_series(0, 3)) AS as_of
    ), dx AS (
      SELECT s.as_of, d.*
      FROM seqs s JOIN delta d ON d.seq <= s.as_of
    ), winners AS (
      SELECT * FROM (
        SELECT dx.*, ROW_NUMBER() OVER (
                 PARTITION BY as_of, doc_key
                 ORDER BY updated_at DESC, seq DESC) AS rn
        FROM dx) AS r
      WHERE rn = 1
    ), masked AS (
      SELECT DISTINCT as_of, doc_key FROM dx
    ), merged AS (
      SELECT s.as_of, b.cents
      FROM base b CROSS JOIN seqs s
      WHERE NOT EXISTS (SELECT 1 FROM masked m
                        WHERE m.as_of = s.as_of
                          AND m.doc_key = b.doc_key)
      UNION ALL
      SELECT as_of, cents FROM winners
      WHERE op IN ('insert', 'update', 'replace')
    )
    SELECT CAST(as_of AS INT) AS as_of_seq,
           COUNT(*) AS n_live,
           ROUND(SUM(cents) / 100.0, 2) AS total_price
    FROM merged
    GROUP BY as_of
    ORDER BY as_of_seq
""")
def cdc_mor_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the merge-on-read table: the table state AS OF
    each commit seq 0-3 (0 = base only, 1 = first update generation,
    2 = both, 3 = after the deletes), resolved by the SAME
    cdc.apply.resolve_current_state used by the MoR reader — the
    append-only delta log makes every historical snapshot
    reconstructible for free by filtering seq <= s, the
    Iceberg/Delta VERSION AS OF semantics. Output: the live-row count
    and total over the commit history (n_live dips at seq 3 as the
    deletes land).

    Scale: the as-of grid multiplies the DELTA (batch-sized) by the
    number of requested versions, never the base; per version the
    resolve is the usual key-partitioned rank + broadcast anti-join.
    A production reader asks for ONE version — this query audits the
    whole history in a single plan."""
    from mongo_cdc_spark.cdc.apply import resolve_current_state

    base, delta = _mor_frames(spark, sf_dir)
    out = []
    for s in range(4):
        st = resolve_current_state(base, delta.where(F.col("seq") <= s))
        out.append(st.select(F.lit(s).alias("as_of"),
                             F.col("doc").cast("bigint").alias("cents")))
    merged = out[0]
    for st in out[1:]:
        merged = merged.unionByName(st)
    return (merged.groupBy(F.col("as_of").cast("int").alias("as_of_seq"))
            .agg(F.count(F.lit(1)).alias("n_live"),
                 F.round(F.sum("cents") / 100.0, 2).alias("total_price"))
            .orderBy("as_of_seq"))


@query("cdc_mor_schema_drift", sql="""
    WITH o AS (SELECT o_orderkey AS k FROM orders)
    SELECT 0 AS seq,
           (SELECT COUNT(*) FROM o) AS n_docs,
           'id,price' AS schema_fields,
           'id,price' AS added,
           '' AS removed
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM o WHERE k % 5 = 0),
           'id,price,status', 'status', ''
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM o WHERE k % 10 = 0),
           'id,price_cents,status', 'price_cents', 'price'
    ORDER BY seq
""")
def cdc_mor_schema_drift(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Commit-over-commit schema drift on the MoR delta-log history:
    each merge_on_read_apply commit is an immutable seq-stamped
    upsert batch, so per-commit document schemas are FREE to audit
    until compaction folds the log — this operator diffs consecutive
    commits' key sets and reports what each rollout added and
    removed (here a deterministic three-generation evolution over
    orders: base {id, price}, a +status rollout on the mod-5 keys,
    then a price→price_cents rename on the mod-10 keys). The
    companion to cdc_schema_evolution_audit: that one inventories
    fingerprints over a stream; this one attributes drift to the
    COMMIT that introduced it — what a schema-registry compatibility
    gate actually alerts on.

    The Spark side derives every key set from the real JSON payloads
    (to_json → json_object_keys → explode), while the oracle replays
    the generative rule — so the grade cross-checks the extraction
    chain, not a reimplementation (the cdc_schema_evolution_audit
    precedent). Scale: the explode is narrow (|keys| per doc); the
    only shuffle is the (seq, key) distinct, schema-grain after
    map-side partial distinct; drift joins run on ≤|seqs|x|keys|
    rows."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    gen0 = o.select(
        F.lit(0).alias("seq"),
        F.to_json(F.struct(k.alias("id"),
                           F.col("o_totalprice").alias("price")))
        .alias("doc"))
    gen1 = o.where(k % 5 == 0).select(
        F.lit(1).alias("seq"),
        F.to_json(F.struct(k.alias("id"),
                           F.col("o_totalprice").alias("price"),
                           F.col("o_orderstatus").alias("status")))
        .alias("doc"))
    gen2 = o.where(k % 10 == 0).select(
        F.lit(2).alias("seq"),
        F.to_json(F.struct(k.alias("id"),
                           cents.alias("price_cents"),
                           F.col("o_orderstatus").alias("status")))
        .alias("doc"))
    log = gen0.unionByName(gen1).unionByName(gen2)
    # persisted: this frame feeds THREE join branches whose broadcast
    # exchanges materialize in parallel threads. A LAZY localCheckpoint
    # materialized concurrently deadlocks the JVM (RDD.markCheckpointed
    # vs RDDCheckpointData.checkpointRDD lock inversion — hit live in
    # round 9's first full-registry run); a cached frame takes no
    # checkpoint lock, so whichever consumer thread computes it first
    # is safe (round 12 replaced the eager checkpoint, which paid one
    # blocking job + partition serialization at build time).
    keys = (log.select("seq", F.explode(F.json_object_keys("doc"))
                       .alias("key"))
            .distinct()
            .persist())
    per = log.groupBy("seq").agg(F.count(F.lit(1)).alias("n_docs"))
    joined = F.concat_ws(",", F.sort_array(F.collect_set("key")))
    schema = keys.groupBy("seq").agg(joined.alias("schema_fields"))
    prev = keys.select((F.col("seq") + 1).alias("seq"), "key")
    added = (keys.join(prev, ["seq", "key"], "left_anti")
             .groupBy("seq").agg(joined.alias("added")))
    removed = (prev.join(keys, ["seq", "key"], "left_anti")
               .groupBy("seq").agg(joined.alias("removed")))
    return (per.join(schema, "seq", "left")
            .join(added, "seq", "left")
            .join(removed, "seq", "left")
            .select(F.col("seq").cast("int").alias("seq"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.coalesce("schema_fields", F.lit(""))
                    .alias("schema_fields"),
                    F.coalesce("added", F.lit("")).alias("added"),
                    F.coalesce("removed", F.lit("")).alias("removed"))
            .orderBy("seq"))
