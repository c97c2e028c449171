"""CDC apply: change stream → maintained parquet snapshot.

Batch semantics (latest-per-key, delete wins, tie-break on resume
token) and the streaming materializer end-to-end, including that only
touched buckets are rewritten."""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.sql import functions as F

from mongo_cdc_spark.cdc.apply import (
    apply_batch_to_snapshot,
    latest_change_per_key,
    materialize_stream,
)
from mongo_cdc_spark.cdc.pipeline import read_change_stream_files
from mongo_cdc_spark.cdc.schema import CHANGE_EVENT_SCHEMA


def _ev(key, op="insert", doc=None, ts="2024-11-08T00:00:01Z", rt="rt1"):
    return {
        "_id": {"_data": rt}, "operationType": op, "clusterTime": ts,
        "ns": {"db": "shop", "coll": "orders"},
        "documentKey": {"_id": key},
        "fullDocument": doc,
    }


def _events_df(spark, events):
    return spark.read.schema(CHANGE_EVENT_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(e) for e in events]))


def _snapshot(spark, path):
    return {r.doc_key: r.doc
            for r in spark.read.parquet(path).collect()}


def test_latest_change_per_key_tiebreak(spark):
    df = _events_df(spark, [
        _ev("a", doc='{"v":1}', ts="2024-11-08T00:00:01Z", rt="r1"),
        _ev("a", op="update", doc='{"v":2}', ts="2024-11-08T00:00:05Z",
            rt="r2"),
        # same clusterTime as r2: higher resume token must win
        _ev("a", op="update", doc='{"v":3}', ts="2024-11-08T00:00:05Z",
            rt="r3"),
        _ev("b", doc='{"v":9}', rt="r4"),
    ])
    got = {r["documentKey"]["_id"]: json.loads(r["fullDocument"])
           for r in latest_change_per_key(df).collect()}
    assert got == {"a": {"v": 3}, "b": {"v": 9}}


def test_apply_upsert_then_delete(spark, tmp_path: Path):
    snap = str(tmp_path / "snap")
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
        _ev("b", doc='{"v":2}', rt="r2"),
    ]))
    assert _snapshot(spark, snap) == {"a": '{"v":1}', "b": '{"v":2}'}

    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev("a", op="update", doc='{"v":10}',
            ts="2024-11-08T00:01:00Z", rt="r3"),
        _ev("b", op="delete", doc=None,
            ts="2024-11-08T00:01:00Z", rt="r4"),
        _ev("c", doc='{"v":3}', ts="2024-11-08T00:01:00Z", rt="r5"),
    ]))
    assert _snapshot(spark, snap) == {"a": '{"v":10}', "c": '{"v":3}'}


def test_apply_rewrites_only_touched_buckets(spark, tmp_path: Path):
    """An update must not rewrite the parquet files of buckets its
    batch never touched (the O(touched) update-cost property)."""
    snap = tmp_path / "snap"
    keys = [f"k{i}" for i in range(40)]
    apply_batch_to_snapshot(spark, str(snap), _events_df(spark, [
        _ev(k, doc='{"v":0}', rt=f"r{i}") for i, k in enumerate(keys)
    ]), n_buckets=8)
    before = {p: p.stat().st_mtime
              for p in snap.glob("bucket=*/*.parquet")}

    target_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("k0")), F.lit(8)).cast("int")).first()[0]
    apply_batch_to_snapshot(spark, str(snap), _events_df(spark, [
        _ev("k0", op="update", doc='{"v":1}',
            ts="2024-11-08T00:09:00Z", rt="z1"),
    ]), n_buckets=8)

    untouched_same = [
        p for p, m in before.items()
        if p.exists() and p.stat().st_mtime == m
        and f"bucket={target_bucket}/" not in str(p)]
    assert untouched_same, "expected untouched bucket files to survive"
    got = _snapshot(spark, str(snap))
    assert got["k0"] == '{"v":1}' and len(got) == 40


def _preload(spark, snap, n_keys, n_buckets):
    """Insert k0..k{n_keys-1} with doc {"v":0}; return {bucket: keys}."""
    keys = [f"k{i}" for i in range(n_keys)]
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev(k, doc='{"v":0}', rt=f"r{i}") for i, k in enumerate(keys)
    ]), n_buckets=n_buckets)
    by_bucket = {}
    for r in spark.read.parquet(snap).select("doc_key", "bucket").collect():
        by_bucket.setdefault(r.bucket, []).append(r.doc_key)
    return by_bucket


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).select(
        "doc_key", "doc", "updated_at", "bucket").collect())


def test_apply_keeps_untouched_keys_of_rewritten_buckets(
        spark, tmp_path: Path):
    """Read-overwrite: the merge reads the very bucket files its write
    replaces. With every bucket touched, each bucket's untouched keys
    must survive with their old doc.

    AQE is off for the call: with it on, the shuffle that reads the
    snapshot runs as its own stage before the write command starts, so
    even a static overwrite (which deletes first) would pass. Off, only
    the dynamic overwrite's staging-dir commit keeps the read safe."""
    snap = str(tmp_path / "snap")
    by_bucket = _preload(spark, snap, 64, 4)
    assert len(by_bucket) == 4 and all(len(v) > 1
                                       for v in by_bucket.values())
    changed = {keys[0] for keys in by_bucket.values()}
    events = _events_df(spark, [
        _ev(k, op="update", doc='{"v":1}', ts="2024-11-08T00:05:00Z",
            rt=f"u{k}") for k in sorted(changed)
    ])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        apply_batch_to_snapshot(spark, snap, events, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    got = _snapshot(spark, snap)
    assert got == {k: '{"v":1}' if k in changed else '{"v":0}'
                   for keys in by_bucket.values() for k in keys}


def test_apply_removes_emptied_bucket_and_keeps_survivors(
        spark, tmp_path: Path):
    """A delete-only batch that empties a bucket removes its directory;
    one that leaves survivors in its bucket keeps them."""
    snap = tmp_path / "snap"
    by_bucket = _preload(spark, str(snap), 16, 4)
    emptied, partial = sorted(b for b, ks in by_bucket.items()
                              if len(ks) > 1)[:2]
    apply_batch_to_snapshot(spark, str(snap), _events_df(spark, [
        _ev(k, op="delete", ts="2024-11-08T00:05:00Z", rt=f"d{k}")
        for k in by_bucket[emptied]
    ]), n_buckets=4)
    assert not (snap / f"bucket={emptied}").exists()

    gone = by_bucket[partial][0]
    apply_batch_to_snapshot(spark, str(snap), _events_df(spark, [
        _ev(gone, op="delete", ts="2024-11-08T00:06:00Z", rt="d2"),
    ]), n_buckets=4)
    assert (snap / f"bucket={partial}").exists()
    assert _snapshot(spark, str(snap)) == {
        k: '{"v":0}' for b, ks in by_bucket.items() if b != emptied
        for k in ks if k != gone}


def test_apply_delete_only_first_batch(spark, tmp_path: Path):
    """A delete-only first batch writes no rows; the next batch must
    still merge into the (empty) snapshot it left behind."""
    snap = str(tmp_path / "snap")
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev("a", op="delete", rt="d1"),
    ]), n_buckets=4)
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev("b", doc='{"v":1}', ts="2024-11-08T00:05:00Z", rt="i1"),
    ]), n_buckets=4)
    assert _snapshot(spark, snap) == {"b": '{"v":1}'}


def test_apply_fails_on_an_unreadable_snapshot(spark, tmp_path: Path):
    """Only a missing snapshot means "first batch". A snapshot that
    exists but cannot be read must fail the batch (so the streaming
    checkpoint retries it), not be treated as empty and overwritten."""
    import pytest

    snap = tmp_path / "snap"
    by_bucket = _preload(spark, str(snap), 8, 2)
    bucket, keys = sorted(by_bucket.items())[0]
    for f in (snap / f"bucket={bucket}").glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        apply_batch_to_snapshot(spark, str(snap), _events_df(spark, [
            _ev(keys[0], op="update", doc='{"v":1}',
                ts="2024-11-08T00:05:00Z", rt="u1"),
        ]), n_buckets=2)
    assert all(f.read_bytes() == b"not a parquet file"
               for f in (snap / f"bucket={bucket}").glob("*.parquet"))


def test_apply_replayed_batch_is_idempotent(spark, tmp_path: Path):
    """Applying the same batch twice (a checkpointed replay) leaves an
    identical snapshot."""
    snap = str(tmp_path / "snap")
    by_bucket = _preload(spark, snap, 32, 4)
    keys = sorted(k for ks in by_bucket.values() for k in ks)
    batch = [
        _ev(keys[0], op="update", doc='{"v":7}',
            ts="2024-11-08T00:05:00Z", rt="x1"),
        _ev(keys[1], op="delete", ts="2024-11-08T00:05:00Z", rt="x2"),
        _ev("new", doc='{"v":8}', ts="2024-11-08T00:05:00Z", rt="x3"),
    ]
    apply_batch_to_snapshot(spark, snap, _events_df(spark, batch),
                            n_buckets=4)
    once = _rows(spark, snap)
    apply_batch_to_snapshot(spark, snap, _events_df(spark, batch),
                            n_buckets=4)
    assert _rows(spark, snap) == once
    assert len(once) == 32


def _last_execution_id(sql_store) -> int:
    """Id of the newest SQL execution the status store holds (it keeps
    the most recent ones, in id order), or -1."""
    executions = sql_store.executionsList()
    n = executions.size()
    return executions.apply(n - 1).executionId() if n else -1


def test_apply_runs_one_write_job_without_checkpoint(
        spark, tmp_path: Path):
    """A non-first apply is one narrow pass plus one shuffle: at most 3
    Spark jobs, none of them a localCheckpoint, and a write plan with
    exactly one shuffle exchange, no broadcast, and a snapshot scan
    pruned to the touched bucket directories (a partition filter, not
    a data filter)."""
    snap = str(tmp_path / "snap")
    _preload(spark, snap, 32, 4)
    events = _events_df(spark, [
        _ev(f"k{i}", op="update", doc='{"v":1}',
            ts="2024-11-08T00:05:00Z", rt=f"u{i}") for i in range(0, 32, 3)
    ])
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    last_before = _last_execution_id(sql_store)
    group = f"apply-jobs-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        apply_batch_to_snapshot(spark, snap, events, n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    names = [store.job(j).name() for j in ids]
    assert 0 < len(ids) <= 3, names
    assert not [n for n in names if "localCheckpoint" in n], names

    executions = sql_store.executionsList()
    plans = []
    for i in range(executions.size()):
        e = executions.apply(i)
        if e.executionId() <= last_before:
            continue
        nodes = sql_store.planGraph(e.executionId()).allNodes()
        plans.append(([nodes.apply(j).name() for j in range(nodes.size())],
                      e.physicalPlanDescription()))
    writes = [(p, d) for p, d in plans
              if "Execute InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1, plans
    nodes, described = writes[0]
    assert nodes.count("Exchange") == 1, nodes
    assert "BroadcastExchange" not in nodes, nodes
    assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(",
                     described), described


def test_apply_batch_wins_by_clustertime_then_resume_token(
        spark, tmp_path: Path):
    """The merge's tie-break, through a real apply: the newest batch
    event per key wins (higher resume token on a clusterTime tie), a
    delete drops the key, and any batch event beats the snapshot row
    of its key, however late that row's updated_at."""
    snap = str(tmp_path / "snap")
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        _ev("gone", doc='{"v":0}', rt="p1"),
        _ev("late", doc='{"v":0}', ts="2030-01-01T00:00:00Z", rt="p2"),
    ]), n_buckets=4)
    t1, t2 = "2024-11-08T00:05:00Z", "2024-11-08T00:06:00Z"
    apply_batch_to_snapshot(spark, snap, _events_df(spark, [
        # same clusterTime: r3 beats r2 whatever the arrival order
        _ev("tie", doc='{"v":1}', ts=t1, rt="r1"),
        _ev("tie", op="update", doc='{"v":3}', ts=t1, rt="r3"),
        _ev("tie", op="update", doc='{"v":2}', ts=t1, rt="r2"),
        # insert then delete: the key leaves the snapshot
        _ev("gone", doc='{"v":4}', ts=t1, rt="r4"),
        _ev("gone", op="delete", ts=t2, rt="r5"),
        # delete then insert: the insert stays
        _ev("back", op="delete", ts=t1, rt="r6"),
        _ev("back", doc='{"v":7}', ts=t2, rt="r7"),
        # an older batch update still replaces the snapshot row
        _ev("late", op="update", doc='{"v":8}', ts=t1, rt="r8"),
    ]), n_buckets=4)
    assert _snapshot(spark, snap) == {
        "tie": '{"v":3}', "back": '{"v":7}', "late": '{"v":8}'}


def test_materialize_stream_end_to_end(spark, tmp_path: Path):
    src = tmp_path / "src"
    src.mkdir()
    snap = str(tmp_path / "snap")
    q = materialize_stream(read_change_stream_files(spark, str(src)),
                          snap, checkpoint=str(tmp_path / "ckpt"),
                          n_buckets=4)
    batches = [
        [_ev("a", doc='{"v":1}', rt="r1"), _ev("b", doc='{"v":2}', rt="r2")],
        [_ev("a", op="delete", doc=None,
             ts="2024-11-08T00:02:00Z", rt="r3"),
         _ev("c", doc='{"v":5}', ts="2024-11-08T00:02:00Z", rt="r4")],
    ]
    for i, evs in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for e in evs:
                f.write(json.dumps(e) + "\n")
        q.processAllAvailable()
    q.stop()
    assert _snapshot(spark, snap) == {"b": '{"v":2}', "c": '{"v":5}'}


def test_compact_snapshot_reduces_files_preserves_content(
        spark, tmp_path: Path):
    """Many small batches accumulate files per bucket; compaction must
    collapse each bucket to one file with content-identical rows."""
    from mongo_cdc_spark.cdc.apply import compact_snapshot

    snap = str(tmp_path / "snap")
    for i in range(3):
        evs = [_ev(f"k{j}", doc=f'{{"v":{i * 10 + j}}}',
                   ts=f"2024-11-08T00:0{i}:00Z", rt=f"r{i}")
               for j in range(8)]
        apply_batch_to_snapshot(spark, snap, _events_df(spark, evs),
                                n_buckets=4)
    # the apply path's whole-bucket overwrite keeps ~1 file per bucket;
    # fragmentation in production comes from AQE skew-splits or bigger
    # writes — simulate it by rewriting with a tiny maxRecordsPerFile
    frag = spark.read.parquet(snap).localCheckpoint(eager=True)
    (frag.write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "dynamic")
     .option("maxRecordsPerFile", 1).parquet(snap))
    before = _snapshot(spark, snap)
    files_before = len(list(Path(snap).glob("bucket=*/*.parquet")))
    report = compact_snapshot(spark, snap)
    files_after = len(list(Path(snap).glob("bucket=*/*.parquet")))
    buckets = len(list(Path(snap).glob("bucket=*")))
    assert report["files_before"] == files_before
    assert report["files_after"] == files_after
    assert files_after == buckets < files_before
    assert _snapshot(spark, snap) == before  # content-identical
    # compaction is idempotent
    again = compact_snapshot(spark, snap)
    assert again["files_after"] == files_after
    assert _snapshot(spark, snap) == before


def test_compact_snapshot_skips_concurrently_modified_bucket(
        spark, tmp_path: Path, monkeypatch):
    """Lost-update guard: a micro-batch that commits to a bucket
    between compaction's read and its overwrite must NOT be discarded —
    the changed bucket is detected by the file-listing compare and
    excluded from the overwrite (reported in skipped_buckets)."""
    from mongo_cdc_spark.cdc.apply import compact_snapshot

    snap = str(tmp_path / "snap")
    evs = [_ev(f"k{j}", doc=f'{{"v":{j}}}', rt=f"r{j}") for j in range(8)]
    apply_batch_to_snapshot(spark, snap, _events_df(spark, evs), n_buckets=4)

    # patch the RUNTIME DataFrame class (pyspark 4 classic/connect
    # subclasses override the pyspark.sql.DataFrame base methods)
    DataFrame = type(spark.range(1))
    orig = DataFrame.localCheckpoint
    state = {"fired": False}

    def hooked(self, eager=True):
        ckpt = orig(self, eager)
        if not state["fired"]:
            # fire exactly once, INSIDE compact's read->overwrite window
            state["fired"] = True
            apply_batch_to_snapshot(
                spark, snap,
                _events_df(spark, [_ev("k0", doc='{"v":999}',
                                       ts="2024-11-08T01:00:00Z",
                                       rt="z9")]),
                n_buckets=4)
        return ckpt

    monkeypatch.setattr(DataFrame, "localCheckpoint", hooked)
    report = compact_snapshot(spark, snap)
    monkeypatch.setattr(DataFrame, "localCheckpoint", orig)

    assert state["fired"]
    assert report["skipped_buckets"], \
        "the concurrently-written bucket must be excluded from compaction"
    final = _snapshot(spark, snap)
    assert final["k0"] == '{"v":999}', "concurrent update was lost"
    assert {k: v for k, v in final.items() if k != "k0"} == \
        {f"k{j}": f'{{"v":{j}}}' for j in range(1, 8)}


def test_snapshot_diff_feed_converges_apply_store(spark, tmp_path: Path):
    """Cross-module integration: a snapshot_diff feed, replayed as
    change events through the CDC apply store, converges the store
    from the old snapshot to the new one exactly — diff generation
    and apply are mutual inverses."""
    from pyspark.sql import functions as F

    from mongo_cdc_spark.cdc.apply import apply_batch_to_snapshot
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.cdc_batch import snapshot_diff

    from tests.conftest import SF_DIR

    base = (load_table(spark, SF_DIR, "orders")
            .orderBy("o_orderkey").limit(200)
            .select(F.col("o_orderkey").cast("string").alias("k"),
                    F.round("o_totalprice", 2).alias("p"),
                    F.col("o_orderstatus").alias("st")))
    old = (base.filter(F.col("k").cast("long") % 3 != 0)
           .withColumn("p", F.when(F.col("k").cast("long") % 5 == 0,
                                   F.col("p") + 7.0).otherwise(F.col("p"))))
    new = base.filter(F.col("k").cast("long") % 4 != 1)

    def to_events(df, op_col, doc_cols, ts):
        doc = (F.to_json(F.struct(*doc_cols))
               if doc_cols else F.lit(None).cast("string"))
        return df.select(
            F.struct(F.concat(F.lit("rt-"), F.col("k")).alias("_data"))
             .alias("_id"),
            op_col.alias("operationType"),
            F.struct(F.col("k").alias("_id")).alias("documentKey"),
            doc.alias("fullDocument"),
            F.lit(ts).cast("timestamp").alias("clusterTime"))

    store = str(tmp_path / "snap")
    # seed the store with the OLD snapshot as plain inserts
    seed = to_events(old, F.lit("insert"),
                     [F.col("p"), F.col("st")], "2024-11-08 00:00:01")
    apply_batch_to_snapshot(spark, store, seed, n_buckets=4)

    # diff old -> new, replay the feed as change events
    feed = snapshot_diff(old, new, "k", ("p", "st"))
    upserts = to_events(
        feed.filter(F.col("op") != "delete")
            .select("k", F.col("new_p").alias("p"),
                    F.col("new_st").alias("st")),
        F.lit("update"), [F.col("p"), F.col("st")], "2024-11-08 00:00:02")
    deletes = to_events(
        feed.filter(F.col("op") == "delete").select("k"),
        F.lit("delete"), None, "2024-11-08 00:00:02")
    apply_batch_to_snapshot(spark, store, upserts.unionByName(deletes),
                            n_buckets=4)

    got = {r.doc_key: json.loads(r.doc)
           for r in spark.read.parquet(store).collect()}
    want = {r.k: {"p": r.p, "st": r.st} for r in new.collect()}
    assert got == want


# ----------------------------------------------- merge-on-read surface


def _mor_state(spark, path):
    from mongo_cdc_spark.cdc.apply import read_merge_on_read
    return {r.doc_key: r.doc
            for r in read_merge_on_read(spark, str(path))
            .collect()}


def test_mor_apply_read_lifecycle(spark, tmp_path: Path):
    """Appends only, no base rewrite; read resolves base+delta."""
    from mongo_cdc_spark.cdc.apply import (compact_merge_on_read,
                                           merge_on_read_apply)

    t = tmp_path / "mor"
    # batch 0: three inserts
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
        _ev("b", doc='{"v":2}', rt="r2"),
        _ev("c", doc='{"v":3}', rt="r3"),
    ]), batch_seq=0)
    assert _mor_state(spark, t) == {"a": '{"v":1}', "b": '{"v":2}',
                                    "c": '{"v":3}'}
    # batch 1: update a, delete b — base/ still absent, only appends
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", op="update", doc='{"v":10}',
            ts="2024-11-08T00:00:09Z", rt="r4"),
        _ev("b", op="delete", ts="2024-11-08T00:00:09Z", rt="r5"),
    ]), batch_seq=1)
    assert not (t / "base").exists()
    assert _mor_state(spark, t) == {"a": '{"v":10}', "c": '{"v":3}'}

    # compaction folds the delta into a fresh VERSIONED base (base-1;
    # the _SUCCESS marker is the commit point) and clears the log
    stats = compact_merge_on_read(spark, str(t))
    assert stats["rows"] == 2
    assert stats["base_dir"] == "base-1"
    assert (t / "base-1" / "_SUCCESS").exists()
    assert not (t / "delta").exists()
    assert _mor_state(spark, t) == {"a": '{"v":10}', "c": '{"v":3}'}

    # post-compaction commits keep working against the new base
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("c", op="delete", ts="2024-11-08T00:00:30Z", rt="r6"),
        _ev("d", doc='{"v":4}', ts="2024-11-08T00:00:30Z", rt="r7"),
    ]), batch_seq=2)
    assert _mor_state(spark, t) == {"a": '{"v":10}', "d": '{"v":4}'}


def test_mor_conflict_policies(spark, tmp_path: Path):
    """The newest writer of a key wins across commits."""
    from mongo_cdc_spark.cdc.apply import merge_on_read_apply

    t = tmp_path / "mor_pol"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("k", doc='{"v":"old"}', ts="2024-11-08T00:00:01Z", rt="r1"),
    ]), batch_seq=0)
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("k", op="update", doc='{"v":"new"}',
            ts="2024-11-08T00:00:05Z", rt="r2"),
    ]), batch_seq=1)
    assert _mor_state(spark, t) == {"k": '{"v":"new"}'}


def test_mor_commit_appends_one_log(spark, tmp_path: Path, spark_jobs):
    """A commit is one append of delta/: at most 2 Spark jobs (the
    winner window's shuffle map and the write), and no other log."""
    from mongo_cdc_spark.cdc.apply import merge_on_read_apply

    t = tmp_path / "mor_log"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
        _ev("b", doc='{"v":2}', rt="r2"),
    ]), batch_seq=0)
    ev = _events_df(spark, [
        _ev("a", op="update", doc='{"v":3}',
            ts="2024-11-08T00:00:09Z", rt="r3"),
        _ev("a", op="update", doc='{"v":4}',
            ts="2024-11-08T00:00:09Z", rt="r4"),
        _ev("c", doc='{"v":5}', ts="2024-11-08T00:00:09Z", rt="r5"),
    ])
    _, jobs = spark_jobs(
        lambda: merge_on_read_apply(spark, str(t), ev, batch_seq=1))
    assert 0 < jobs <= 2
    assert sorted(p.name for p in t.iterdir()) == ["delta"]
    assert _mor_state(spark, t) == {"a": '{"v":4}', "b": '{"v":2}',
                                    "c": '{"v":5}'}


def test_mor_mask_scans_no_doc_payload(spark, tmp_path: Path):
    """The base-row mask of a MoR read (current and as_of) scans the
    delta log without its doc column: column pruning keeps the
    payloads out of the broadcast side."""
    from mongo_cdc_spark.cdc.apply import (compact_merge_on_read,
                                           merge_on_read_apply,
                                           read_merge_on_read)

    t = tmp_path / "mor_mask"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
        _ev("b", doc='{"v":2}', rt="r2"),
    ]), batch_seq=0)
    compact_merge_on_read(spark, str(t))
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", op="update", doc='{"v":3}',
            ts="2024-11-08T00:00:09Z", rt="r3"),
    ]), batch_seq=1)
    for as_of in (None, 0):
        plan = (read_merge_on_read(spark, str(t), as_of=as_of)
                ._jdf.queryExecution().executedPlan().toString())
        lines = plan.splitlines()
        at = next(i for i, ln in enumerate(lines)
                  if "BroadcastExchange" in ln)
        depth = lines[at].index("BroadcastExchange")
        subtree = [lines[at]]
        for ln in lines[at + 1:]:
            if len(ln) - len(ln.lstrip(" :+-")) <= depth:
                break
            subtree.append(ln)
        schemas = [re.search(r"ReadSchema: struct<([^>]*)>", ln).group(1)
                   for ln in subtree if "FileScan parquet" in ln]
        assert len(schemas) == 1, subtree
        fields = [f.split(":")[0] for f in schemas[0].split(",")]
        assert "doc_key" in fields and "doc" not in fields, schemas


def test_mor_replayed_batch_is_idempotent(spark, tmp_path: Path):
    """A checkpoint-replayed commit appends byte-identical rows; the
    seq-deduped read path must collapse them to the same state."""
    from mongo_cdc_spark.cdc.apply import merge_on_read_apply

    t = tmp_path / "mor_replay"
    batch = [_ev("x", doc='{"v":1}', rt="r1"),
             _ev("y", doc='{"v":2}', rt="r2")]
    merge_on_read_apply(spark, str(t), _events_df(spark, batch),
                        batch_seq=0)
    before = _mor_state(spark, t)
    merge_on_read_apply(spark, str(t), _events_df(spark, batch),
                        batch_seq=0)  # same epoch replayed
    assert _mor_state(spark, t) == before


def test_mor_resolver_matches_cow_apply(spark, tmp_path: Path):
    """MoR and copy-on-write must converge to the same table state
    from the same event stream."""
    from mongo_cdc_spark.cdc.apply import merge_on_read_apply

    batches = [
        [_ev("a", doc='{"v":1}', rt="r1"),
         _ev("b", doc='{"v":2}', rt="r2")],
        [_ev("a", op="update", doc='{"v":3}',
             ts="2024-11-08T00:00:10Z", rt="r3"),
         _ev("c", doc='{"v":4}', ts="2024-11-08T00:00:10Z", rt="r4")],
        [_ev("b", op="delete", ts="2024-11-08T00:00:20Z", rt="r5")],
    ]
    cow = tmp_path / "cow"
    mor = tmp_path / "mor_conv"
    for i, b in enumerate(batches):
        apply_batch_to_snapshot(spark, str(cow), _events_df(spark, b))
        merge_on_read_apply(spark, str(mor), _events_df(spark, b),
                            batch_seq=i)
    assert _snapshot(spark, str(cow)) == _mor_state(spark, mor)


def test_mor_time_travel_as_of(spark, tmp_path: Path):
    """VERSION AS OF reads reconstruct each commit's state from the
    append-only log."""
    from mongo_cdc_spark.cdc.apply import merge_on_read_apply

    t = tmp_path / "mor_tt"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
        _ev("b", doc='{"v":2}', rt="r2"),
    ]), batch_seq=0)
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", op="update", doc='{"v":9}',
            ts="2024-11-08T00:00:09Z", rt="r3"),
    ]), batch_seq=1)
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("b", op="delete", ts="2024-11-08T00:00:20Z", rt="r4"),
    ]), batch_seq=2)

    def _at(s):
        from mongo_cdc_spark.cdc.apply import read_merge_on_read
        return {r.doc_key: r.doc
                for r in read_merge_on_read(spark, str(t),
                                            as_of=s).collect()}

    assert _at(0) == {"a": '{"v":1}', "b": '{"v":2}'}
    assert _at(1) == {"a": '{"v":9}', "b": '{"v":2}'}
    assert _at(2) == {"a": '{"v":9}'}
    # as_of at the newest commit equals the plain (latest) read
    assert _at(2) == _mor_state(spark, t)


def test_mor_crashed_compaction_dir_is_ignored(spark, tmp_path: Path):
    """A base-N dir WITHOUT its _SUCCESS marker (compaction crashed
    mid-write) must be invisible: reads resolve from the previous
    committed base, and the next compaction claims a fresh version."""
    from mongo_cdc_spark.cdc.apply import (compact_merge_on_read,
                                           merge_on_read_apply)

    t = tmp_path / "mor_crash"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("a", doc='{"v":1}', rt="r1"),
    ]), batch_seq=0)
    stats = compact_merge_on_read(spark, str(t))
    assert stats["base_dir"] == "base-1"

    # simulate a compaction that died mid-write: partial dir, no marker
    fake = t / "base-2" / "bucket=0"
    fake.mkdir(parents=True)
    (fake / "part-00000.parquet").write_bytes(b"torn")
    assert _mor_state(spark, t) == {"a": '{"v":1}'}  # still base-1

    # the next commit + compaction supersede it with a committed base-3
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("b", doc='{"v":2}', ts="2024-11-08T00:00:09Z", rt="r2"),
    ]), batch_seq=1)
    stats = compact_merge_on_read(spark, str(t))
    # version counter moves past the torn dir's number iff the torn
    # dir is older; either way the new dir is committed and readable
    assert (t / stats["base_dir"] / "_SUCCESS").exists()
    assert _mor_state(spark, t) == {"a": '{"v":1}', "b": '{"v":2}'}


def test_mor_partial_append_applies_whole_keys(spark, tmp_path: Path):
    """An append that lands only in part (some of a batch's winner
    rows in delta/, the rest lost in a crash) leaves every key at its
    new or its pre-batch value — none vanishes, none repeats — and the
    checkpointed replay of the same batch_seq converges."""
    from mongo_cdc_spark.cdc.apply import (compact_merge_on_read,
                                           merge_on_read_apply,
                                           read_merge_on_read)

    t = tmp_path / "mor_partial"
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev(k, doc=f'{{"v":"{k}0"}}', rt=f"r{k}")
        for k in ("a", "b", "c", "d")
    ]), batch_seq=0)
    compact_merge_on_read(spark, str(t))
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev("d", op="update", doc='{"v":"d1"}',
            ts="2024-11-08T00:00:05Z", rt="s0"),
    ]), batch_seq=1)
    pre = _mor_state(spark, t)
    assert pre == {"a": '{"v":"a0"}', "b": '{"v":"b0"}',
                   "c": '{"v":"c0"}', "d": '{"v":"d1"}'}

    t2 = "2024-11-08T00:00:09Z"
    batch = [
        _ev("a", op="update", doc='{"v":"a1"}', ts=t2, rt="s1"),
        _ev("a", op="update", doc='{"v":"a2"}', ts=t2, rt="s2"),
        _ev("b", op="update", doc='{"v":"b2"}', ts=t2, rt="s3"),
        _ev("c", op="delete", ts=t2, rt="s4"),
        _ev("d", op="delete", ts=t2, rt="s5"),
        _ev("e", doc='{"v":"e2"}', ts=t2, rt="s6"),
    ]
    post = {"a": '{"v":"a2"}', "b": '{"v":"b2"}', "e": '{"v":"e2"}'}
    # the winner row of a key depends on that key's events only, so
    # committing a subset of the keys appends exactly the subset of
    # the full batch's delta rows a torn append would leave
    landed = {"a", "c", "e"}
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        e for e in batch if e["documentKey"]["_id"] in landed
    ]), batch_seq=2)

    keys = [r.doc_key for r in
            read_merge_on_read(spark, str(t)).select("doc_key").collect()]
    assert len(keys) == len(set(keys))
    torn = _mor_state(spark, t)
    for k in pre.keys() | post.keys():
        want = post if k in landed else pre
        assert torn.get(k) == want.get(k), k

    merge_on_read_apply(spark, str(t), _events_df(spark, batch),
                        batch_seq=2)
    assert _mor_state(spark, t) == post


def test_mor_compaction_rows_match_new_base(spark, tmp_path: Path):
    """compact_merge_on_read's row count is the row count of the base
    it commits."""
    from mongo_cdc_spark.cdc.apply import (compact_merge_on_read,
                                           merge_on_read_apply)

    t = tmp_path / "mor_rows"
    keys = [f"k{i}" for i in range(40)]
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev(k, doc='{"v":0}', rt=f"r{i}") for i, k in enumerate(keys)
    ]), batch_seq=0)
    merge_on_read_apply(spark, str(t), _events_df(spark, [
        _ev(k, op="delete", ts="2024-11-08T00:00:09Z", rt=f"d{i}")
        for i, k in enumerate(keys) if i % 7 == 0
    ] + [_ev("new", doc='{"v":1}', ts="2024-11-08T00:00:09Z", rt="n")]),
        batch_seq=1)
    stats = compact_merge_on_read(spark, str(t))
    written = spark.read.parquet(str(t / stats["base_dir"])).count()
    assert stats["rows"] == written == 40 - 6 + 1
