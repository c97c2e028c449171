"""Materialize a collection snapshot from the change stream (CDC apply).

The reference stops at relaying events to Kafka (/root/reference/
main.go:145-154); the canonical downstream — maintaining a queryable
copy of the collection — is left to Kafka Connect sinks
(docker-compose.yml:87-113). This module is that downstream, Spark-first:
latest-event-per-key reduction + partitioned upsert into a parquet
snapshot.

Scale design: the snapshot is partitioned by a key-hash bucket, and each
micro-batch rewrites ONLY the buckets it touches (dynamic partition
overwrite) — update cost is O(touched buckets × bucket size), not
O(table). Bucket count sets the rewrite granularity: more buckets =
less write amplification per batch, more small files (compact
periodically). Whole-bucket overwrite is idempotent, so checkpointed
replay of a batch converges (exactly-once table state over an
at-least-once stream).

Each batch costs one narrow pass and one shuffle. The pass projects
the batch to its merge columns and its `bucket`, caches it, and
observes the touched buckets on a `noop` write. The shuffle
hash-partitions the batch together with the snapshot rows of those
buckets (a partition filter, so no other bucket is read) on `bucket`.
That partitioning already satisfies the merge window's clustering on
(bucket, doc_key), so the plan gets no second exchange, and the
window's sort on (bucket, ...) is the ordering the partitioned writer
needs, so it adds no sort. The write reads the touched buckets and
overwrites them with no materialization in between: dynamic overwrite
writes under `<snapshot>/.spark-staging-<jobId>/` and swaps a
`bucket=N` dir in only at job commit, after every task has finished
reading.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongo_cdc_spark.io import hadoop_fs

_UPSERT_OPS = ("insert", "update", "replace")
_SNAPSHOT_SCHEMA = ("doc_key string, doc string, updated_at timestamp, "
                    "bucket int")


def _newest_first(time_col: str, token_col: str) -> list:
    """The change-stream tie-break: latest clusterTime first, and the
    higher resume token (monotone within a change stream) first among
    equal clusterTimes."""
    return [F.col(time_col).desc(), F.col(token_col).desc()]


def _bucket(key, n_buckets: int):
    """The bucket of a document key column, pmod(xxhash64(key),
    n_buckets): the partition column of both the copy-on-write
    snapshot and the merge-on-read log."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def latest_change_per_key(events: DataFrame) -> DataFrame:
    """Reduce a batch of change events to one winner per document key,
    ordered by `_newest_first` on (clusterTime, _id._data).

    One shuffle on the document key; row_number (not groupBy+max+join)
    keeps it a single window pass."""
    w = (Window.partitionBy(F.col("documentKey._id"))
         .orderBy(*_newest_first("clusterTime", "_id._data")))
    return (events
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"))


def apply_batch_to_snapshot(spark: SparkSession, snapshot_path: str,
                            events: DataFrame, n_buckets: int = 16) -> None:
    """Merge one batch of change events into the parquet snapshot.

    Snapshot schema: (doc_key string, doc string [JSON post-image],
    updated_at timestamp, bucket int). Any key in the batch masks its
    snapshot row: the batch's newest event per key wins, a delete drops
    the key and an upsert replaces it. Only buckets present in the
    batch are rewritten (requires partitionOverwriteMode=dynamic, set
    per-write below)."""
    batch = events.select(
        F.col("documentKey._id").alias("doc_key"),
        F.col("operationType").alias("op"),
        F.col("fullDocument").alias("doc"),
        F.col("clusterTime").alias("updated_at"),
        F.col("_id._data").alias("token"),
        F.lit(1).alias("src"),
        _bucket(F.col("documentKey._id"), n_buckets).alias("bucket"),
    )
    batch.persist()
    try:
        seen = Observation()
        (batch.observe(seen, F.collect_set("bucket").alias("touched"))
         .write.format("noop").mode("overwrite").save())
        touched = seen.get["touched"]
        if not touched:
            return
        # Probe existence explicitly instead of catching read errors:
        # a broad except here would treat ANY failure (transient IO,
        # permissions, corrupt footer) as "first batch" and leave the
        # snapshot rows out of the merge — the dynamic overwrite would
        # then silently drop every pre-existing document in the
        # touched buckets. A real read error must fail the batch so the
        # streaming checkpoint retries it.
        fs, probe = hadoop_fs(spark, snapshot_path)
        merged = batch
        if fs.exists(probe):
            # the merge may read the files this write replaces: the
            # staging-dir commit swaps them only after every task read
            snap = (spark.read.schema(_SNAPSHOT_SCHEMA)
                    .parquet(snapshot_path)
                    .filter(F.col("bucket").isin(touched))
                    .withColumn("src", F.lit(0)))
            merged = snap.unionByName(batch, allowMissingColumns=True)
        # src desc: a batch row beats the snapshot row of its key
        w = (Window.partitionBy("bucket", "doc_key")
             .orderBy(F.col("src").desc(),
                      *_newest_first("updated_at", "token")))
        # the buckets that receive rows are gathered by the write itself
        obs = Observation()
        (merged.repartition("bucket")
         .withColumn("__rn", F.row_number().over(w))
         .filter((F.col("__rn") == 1)
                 & ((F.col("src") == 0) | F.col("op").isin(*_UPSERT_OPS)))
         .select("doc_key", "doc", "updated_at", "bucket")
         .observe(obs, F.collect_set("bucket").alias("nonempty"))
         .write.mode("overwrite")
         .partitionBy("bucket")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(snapshot_path))
        # dynamic overwrite only replaces partitions PRESENT in the
        # output — a bucket emptied by deletes writes no rows, so its
        # stale files must be removed explicitly
        nonempty = set(obs.get["nonempty"])
        for b in touched:
            if b not in nonempty:
                _, p = hadoop_fs(spark, f"{snapshot_path}/bucket={b}")
                if fs.exists(p):
                    fs.delete(p, True)
    finally:
        batch.unpersist()


def materialize_stream(events: DataFrame, snapshot_path: str,
                       checkpoint: str, n_buckets: int = 16) -> StreamingQuery:
    """Streaming CDC apply: change-event stream → maintained snapshot.

    foreachBatch + idempotent bucket overwrite = exactly-once table
    state; the checkpoint holds source offsets so a crash resumes
    without loss (the durability the reference lacks, main.go:95,103)."""
    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        apply_batch_to_snapshot(batch_df.sparkSession, snapshot_path,
                                batch_df, n_buckets)

    return (events.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint)
            .start())


def compact_snapshot(spark: SparkSession, snapshot_path: str) -> dict:
    """Compact the snapshot's small files. The apply path leaves exactly
    one file per bucket it rewrites (its shuffle puts each bucket in one
    task), but other writers (a `maxRecordsPerFile` cap, appends, skew
    splits) leave many, and scans then pay per-file open/footer costs.
    Rewrites each bucket partition into ONE file
    (content-identical — same rows, same schema; hash-partitioning on
    `bucket` puts each bucket's rows in exactly one task, and the task
    count equals the live bucket count so buckets compact in parallel)
    and reports before/after file counts.

    Run periodically OUT of the hot path (e.g. from a maintenance
    trigger), like any LSM-ish store's compaction. Two hazards guarded:

    - read-overwrite: the full frame is materialized with
      localCheckpoint BEFORE the overwrite. The staging-dir commit
      alone would make the overwrite safe (as in the apply path), but
      the checkpoint is also the READ POINT the lost-update guard
      below compares listings against, so it stays.
    - lost update vs a CONCURRENT apply: if a micro-batch commits to a
      bucket between this function's read and its overwrite, the
      overwrite would resurrect the pre-batch rows. So the per-bucket
      file listing (name, length, mtime) is snapshotted at read time
      and re-listed after materialization; buckets whose listing
      changed are EXCLUDED from the overwrite (dynamic overwrite only
      replaces partitions present in the output) and reported in
      `skipped_buckets` — they compact on the next pass. This shrinks
      the race to the re-list→commit window; a truly concurrent
      long-running apply should still pause around compaction (the
      skip makes a violated assumption lose compaction work, not
      data... unless a batch lands inside the residual window, which
      quiescing eliminates).

    At 100 TB scale, run it per-bucket-range to bound memory (the
    localCheckpoint holds only the buckets being compacted).
    """
    fs, root = hadoop_fs(spark, snapshot_path)
    if not fs.exists(root):
        return {"files_before": 0, "files_after": 0, "buckets": 0,
                "skipped_buckets": []}

    def _listing():
        """{bucket_id: frozenset((file, len, mtime))} — identity of each
        bucket partition's current on-disk state."""
        out = {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("bucket="):
                continue
            files = frozenset(
                (f.getPath().getName(), f.getLen(),
                 f.getModificationTime())
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet"))
            out[int(name.split("=", 1)[1])] = files
        return out

    before_listing = _listing()
    before = sum(len(v) for v in before_listing.values())
    buckets = len(before_listing)
    df = (spark.read.parquet(snapshot_path)
          .repartition(max(buckets, 1), "bucket")
          .localCheckpoint(eager=True))
    after_listing = _listing()
    # compare over the UNION of bucket ids: a bucket deleted between
    # the read and the re-list (retention/cleanup) must count as
    # changed too, or the checkpointed rows would resurrect it
    changed = sorted(b for b in (set(before_listing) | set(after_listing))
                     if after_listing.get(b) != before_listing.get(b))
    if changed:  # a concurrent apply touched these — leave them alone
        df = df.filter(~F.col("bucket").isin(changed))
    (df.write.mode("overwrite")
     .partitionBy("bucket")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(snapshot_path))
    after = sum(len(v) for v in _listing().values())
    return {"files_before": before, "files_after": after,
            "buckets": buckets, "skipped_buckets": changed}


# ================================================ merge-on-read (MoR)
# The copy-on-write path above (apply_batch_to_snapshot) rewrites every
# touched bucket per batch — O(bucket size) write amplification even
# for a single-row update. The merge-on-read surface below is the
# Delta/Iceberg-style alternative: a batch APPENDS its per-key winners
# to one O(batch)-sized log, delta/, and the read path reconstructs
# current state as (base rows whose key is in no delta row) UNION
# (newest delta row per key, unless it is a delete). Column pruning
# keeps the delta's doc payloads out of the base-row mask's scan. A
# periodic compaction folds everything back into a fresh base. Write
# cost per batch drops from O(touched buckets × bucket size) to
# O(batch); reads pay the resolve until the next compaction — the
# standard MoR trade.
#
# Compaction commits via VERSIONED base directories (base-1, base-2,
# ...): the new snapshot is written to a fresh base-(n+1) dir — never
# overwriting the dir it was read from — and becomes current the
# moment its _SUCCESS marker lands; old base + delta/ deletion is pure
# cleanup AFTER that commit point. Crash mid-write leaves a
# _SUCCESS-less dir readers ignore; crash mid-cleanup leaves the old
# log replaying onto the already-resolved new base, which is
# idempotent (the delta's winners re-mask and re-insert the identical
# rows; deletes of absent keys no-op). A table with no committed base
# reads an empty one.


def resolve_current_state(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Pure-frame MERGE resolution: current snapshot rows from a base
    frame (doc_key, doc, updated_at, bucket) and a delta log
    (doc_key, op, doc, updated_at, seq, bucket).

    The winning delta row per key is the newest by `_newest_first` on
    (updated_at, seq) — CDC semantics, seq being the monotone commit
    order that breaks updated_at ties. A key present in the delta
    ALWAYS masks its base row; the winner's op decides whether a
    replacement row exists (upsert) or not (delete).

    One shuffle on doc_key for the rank window (partitioned, bounded
    by per-key event counts); the base-side anti-join broadcasts the
    distinct delta keys (a batch is small next to the table), whose
    scan column pruning keeps free of the doc payloads."""
    w = (Window.partitionBy("doc_key")
         .orderBy(*_newest_first("updated_at", "seq")))
    winners = (delta
               .withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1)
               .drop("__rn"))
    survivors = base.join(
        F.broadcast(delta.select("doc_key").distinct()),
        "doc_key", "left_anti")
    fresh = (winners.filter(F.col("op").isin(*_UPSERT_OPS))
             .select("doc_key", "doc", "updated_at", "bucket"))
    return survivors.unionByName(fresh)


def merge_on_read_apply(spark: SparkSession, table_path: str,
                        events: DataFrame, batch_seq: int,
                        n_buckets: int = 16) -> None:
    """Append one batch of change events as a MoR delta commit.

    Layout under table_path: base-N/ (compacted snapshot, versioned
    by compaction) and delta/ (append-only log of resolved per-batch
    winners). A commit is one O(batch) append; nothing is rewritten.
    batch_seq must be monotone (foreachBatch's epoch id) — it
    totally orders commits, so replaying a checkpointed batch appends
    identical rows that the seq-deduped read path collapses
    (idempotent).

    A key's base-row mask and its winner come from the same delta
    row, so an append whose files land only in part leaves each key
    of the batch either fully applied or untouched — never masked
    without a winner, never doubled — and the replay completes it."""
    (latest_change_per_key(events).select(
        F.col("documentKey._id").alias("doc_key"),
        F.col("operationType").alias("op"),
        F.col("fullDocument").alias("doc"),
        F.col("clusterTime").alias("updated_at"),
        F.lit(batch_seq).cast("long").alias("seq"),
        _bucket(F.col("documentKey._id"), n_buckets).alias("bucket"))
     .write.mode("append").parquet(f"{table_path}/delta"))


_BASE_DIR_RE = re.compile(r"^base-(\d+)$")


def _base_versions(spark: SparkSession, table_path: str) -> list:
    """[(version, dirname)] of COMMITTED base snapshots, ascending.
    base-N dirs count only once their _SUCCESS marker exists — a
    compaction that crashed mid-write leaves a marker-less dir readers
    must ignore."""
    fs, root = hadoop_fs(spark, table_path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        m = _BASE_DIR_RE.match(name)
        if not m:
            continue
        _, marker = hadoop_fs(spark, f"{table_path}/{name}/_SUCCESS")
        if fs.exists(marker):
            out.append((int(m.group(1)), name))
    return sorted(out)


def read_merge_on_read(spark: SparkSession, table_path: str,
                       as_of: int | None = None) -> DataFrame:
    """Current state of a MoR table: base rows whose key is in no
    delta row, plus the newest delta row per key (see
    resolve_current_state). Checkpoint-replayed duplicate commits
    collapse because identical (doc_key, updated_at, seq, op) rows are
    deduplicated before the resolve. The base dir is the highest
    committed version (see _base_versions); with none, the base is
    empty.

    as_of: VERSION AS OF read — reconstruct the state after commit
    seq `as_of` by filtering the append-only delta log (every
    historical snapshot is free until the next compaction folds the
    log away)."""
    versions = _base_versions(spark, table_path)
    base = (spark.read.schema(_SNAPSHOT_SCHEMA)
            .parquet(f"{table_path}/{versions[-1][1]}") if versions
            else spark.createDataFrame([], _SNAPSHOT_SCHEMA))
    delta = _read_or_empty(spark, f"{table_path}/delta",
                           "doc_key string, op string, doc string, "
                           "updated_at timestamp, seq long, bucket int")
    if as_of is not None:
        delta = delta.where(F.col("seq") <= as_of)
    return resolve_current_state(
        base, delta.dropDuplicates(["doc_key", "updated_at", "seq", "op"]))


def compact_merge_on_read(spark: SparkSession, table_path: str) -> dict:
    """Fold the delta log into a FRESH versioned base (the MoR
    maintenance job), crash-safe at every step:

    1. resolve current state (reads base-N + delta);
    2. write it to base-(N+1)/ — a directory that did not exist, so
       no input is touched before the commit; the _SUCCESS marker
       Spark commits at the end IS the commit point (readers ignore
       marker-less dirs);
    3. cleanup: delete delta/ and every older base dir.

    A crash during (2) leaves the old base + log fully intact; a
    crash during (3) leaves the log replaying onto the new base,
    which is idempotent (same winners re-mask and re-insert identical
    rows), and the stale dirs are removed by the next compaction.
    Returns {'rows': n, 'base_dir': name} for the caller's
    bookkeeping; n is observed on the write itself."""
    old_versions = _base_versions(spark, table_path)
    next_name = (f"base-{old_versions[-1][0] + 1}" if old_versions
                 else "base-1")
    obs = Observation()
    (read_merge_on_read(spark, table_path).repartition("bucket")
     .observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite")
     .partitionBy("bucket").parquet(f"{table_path}/{next_name}"))
    # ---- committed; everything below is cleanup ----
    for sub in ("delta", *(name for _, name in old_versions)):
        fs, p = hadoop_fs(spark, f"{table_path}/{sub}")
        if fs.exists(p):
            fs.delete(p, True)
    return {"rows": obs.get["rows"], "base_dir": next_name}


def _read_or_empty(spark: SparkSession, path: str,
                   schema: str) -> DataFrame:
    """Read a parquet dir or return an empty typed frame if absent
    (same explicit existence probe as apply_batch_to_snapshot — read
    errors must raise, only absence means empty)."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)
