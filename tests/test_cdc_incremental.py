"""Incremental materialized-view maintenance from change events:
delta algebra (insert/update/delete/group-move), exactly-once batch
folding, and the streaming end-to-end."""

from __future__ import annotations

import json
from pathlib import Path

from mongo_cdc_spark.cdc.incremental import (
    CHANGE_EVENT_SCHEMA_PREIMAGE,
    apply_deltas_to_view,
    maintain_view_stream,
    parse_change_events_with_preimage,
    view_deltas,
)


def _ev(key, op="insert", doc=None, pre=None,
        ts="2024-11-08T00:00:01Z", rt="r1"):
    return {
        "_id": {"_data": rt}, "operationType": op, "clusterTime": ts,
        "ns": {"db": "shop", "coll": "orders"},
        "documentKey": {"_id": key},
        "fullDocument": doc, "fullDocumentBeforeChange": pre,
    }


def _events_df(spark, events):
    return spark.read.schema(CHANGE_EVENT_SCHEMA_PREIMAGE).json(
        spark.sparkContext.parallelize([json.dumps(e) for e in events]))


BATCH0 = [
    _ev("d1", doc='{"seg":"A","amt":10.0}', rt="r1"),
    _ev("d2", doc='{"seg":"A","amt":5.0}', rt="r2"),
    _ev("d3", doc='{"seg":"B","amt":7.0}', rt="r3"),
]
# d2 moves A→B (amt 5→6), d1 deleted: A loses both members, B gains one
BATCH1 = [
    _ev("d2", op="update", doc='{"seg":"B","amt":6.0}',
        pre='{"seg":"A","amt":5.0}', ts="2024-11-08T00:01:00Z", rt="r4"),
    _ev("d1", op="delete", pre='{"seg":"A","amt":10.0}',
        ts="2024-11-08T00:01:00Z", rt="r5"),
]


def _view(spark, path):
    return {r.g: (r.cnt, round(r.total, 6))
            for r in spark.read.parquet(path).collect()}


def test_view_deltas_algebra(spark):
    got = {r.g: (r.d_cnt, r.d_sum)
           for r in view_deltas(_events_df(spark, BATCH1),
                                "seg", "amt").collect()}
    assert got == {"A": (-2, -15.0), "B": (1, 6.0)}


def test_apply_folds_and_drops_empty_groups(spark, tmp_path: Path):
    view = str(tmp_path / "view")
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH0), 0,
                         "seg", "amt")
    assert _view(spark, view) == {"A": (2, 15.0), "B": (1, 7.0)}
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH1), 1,
                         "seg", "amt")
    # group A emptied → dropped; B = d3(7) + moved d2(6)
    assert _view(spark, view) == {"B": (2, 13.0)}


def test_non_first_batch_reads_the_view_once(spark, tmp_path: Path,
                                             spark_jobs):
    """A non-first batch reads the view once, for both its applied batch
    id and the merge: one schema-inference job, 7 jobs in all (8 when
    the view was read twice)."""
    view = str(tmp_path / "view")
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH0), 0,
                         "seg", "amt")
    events = _events_df(spark, BATCH1)
    _, jobs = spark_jobs(lambda: apply_deltas_to_view(
        spark, view, events, 1, "seg", "amt"))
    assert 0 < jobs <= 7
    assert _view(spark, view) == {"B": (2, 13.0)}


def test_apply_is_idempotent_under_replay(spark, tmp_path: Path):
    view = str(tmp_path / "view")
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH0), 0,
                         "seg", "amt")
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH1), 1,
                         "seg", "amt")
    before = _view(spark, view)
    # at-least-once foreachBatch: same batch id re-delivered, and a
    # stale batch re-delivered out of order — both must be no-ops
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH1), 1,
                         "seg", "amt")
    apply_deltas_to_view(spark, view, _events_df(spark, BATCH0), 0,
                         "seg", "amt")
    assert _view(spark, view) == before


def test_maintain_view_stream_end_to_end(spark, tmp_path: Path):
    src = tmp_path / "src"
    src.mkdir()
    view = str(tmp_path / "view")
    raw = spark.readStream.text(str(src))
    q = maintain_view_stream(
        parse_change_events_with_preimage(raw), view,
        str(tmp_path / "ckpt"), "seg", "amt")
    try:
        for i, batch in enumerate((BATCH0, BATCH1)):
            with open(src / f"b{i}.json", "w") as f:
                for e in batch:
                    f.write(json.dumps(e) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()
    assert _view(spark, view) == {"B": (2, 13.0)}
