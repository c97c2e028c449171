"""Streaming analytics tests (M2): event-time windows + watermarks,
streaming dedup, stream-static and stream-stream joins, custom state.

All hermetic: JSON file-stream sources in tmp_path, memory/foreachBatch
sinks, processAllAvailable() for deterministic drains."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from mongo_cdc_spark.io import load_table
from mongo_cdc_spark.streaming import (
    read_events_stream,
    session_window_stats,
    stream_static_enrich,
    stream_stream_self_join,
    streaming_dedup,
    tumbling_window_counts,
    user_session_state,
)

BASE = "2024-01-01T{:02d}:{:02d}:00Z"


def _ev(eid, hour, minute, user=1, etype="click", value=1.0):
    return {"event_id": eid, "ts": BASE.format(hour, minute),
            "user_id": user, "event_type": etype, "value": value,
            "props": "{}"}


def _write(path: Path, name: str, events):
    with open(path / name, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _drain(q):
    q.processAllAvailable()
    q.stop()


def _collect_stream(df, tmp_path, mode="append"):
    out = []
    q = (df.writeStream.outputMode(mode)
         .foreachBatch(lambda b, i: out.append(b.toPandas()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    _drain(q)
    return pd.concat(out) if out else pd.DataFrame()


def _collect_batched(df, tmp_path, src, batches, mode="append"):
    """Deterministic multi-batch drive: write one file, drain, repeat —
    the file source's mtime ordering is racy when files pre-exist, so
    watermark-order-sensitive tests must feed batches explicitly."""
    out = []
    q = (df.writeStream.outputMode(mode)
         .foreachBatch(lambda b, i: out.append(b.toPandas()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    for i, events in enumerate(batches):
        _write(src, f"batch_{i}.json", events)
        q.processAllAvailable()
    q.stop()
    return pd.concat(out) if out else pd.DataFrame()


def test_tumbling_window_closes_on_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: three events inside hour 0; batch 2 advances the watermark
    # far past hour 0; batch 3 gives the engine a batch in which the
    # now-closed hour-0 window is emitted (append-mode emission happens
    # on the batch AFTER the watermark passes the window end)
    got = _collect_batched(
        tumbling_window_counts(read_events_stream(spark, str(src))),
        tmp_path, src, [
            [_ev(1, 0, 5), _ev(2, 0, 10, etype="view"), _ev(3, 0, 20)],
            [_ev(4, 6, 0)],
            [_ev(5, 12, 0)],
        ])
    hour0 = got[got.window_start.astype(str).str.contains("00:00:00")]
    assert dict(zip(hour0.event_type, hour0.n)) == {"click": 2, "view": 1}


def test_late_event_past_watermark_dropped(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    got = _collect_batched(
        tumbling_window_counts(read_events_stream(spark, str(src))),
        tmp_path, src, [
            [_ev(1, 0, 5)],
            [_ev(2, 6, 0)],    # watermark → 05:30, hour-0 closes
            [_ev(3, 0, 7)],    # late: past the watermark
            [_ev(4, 12, 0)],   # flush remaining windows
        ])
    hour0 = got[got.window_start.astype(str).str.contains("00:00:00")]
    # the late event did not reopen or increment the closed hour-0 window
    assert hour0.n.sum() == 1


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    got = _collect_batched(
        streaming_dedup(read_events_stream(spark, str(src))), tmp_path, src,
        [
            [_ev(1, 0, 5), _ev(1, 0, 5), _ev(2, 0, 6)],
            [_ev(1, 0, 5), _ev(3, 0, 7)],  # dup of batch 1
        ])
    assert sorted(got.event_id) == [1, 2, 3]


def test_stream_static_enrich(spark, tmp_path, sf_dir):
    src = tmp_path / "src"
    src.mkdir()
    customers = load_table(spark, sf_dir, "customer")
    some_key = customers.select("c_custkey").first()[0]
    _write(src, "a.json", [_ev(1, 0, 5, user=some_key),
                           _ev(2, 0, 6, user=10 ** 12)])  # no such customer
    got = _collect_stream(
        stream_static_enrich(read_events_stream(spark, str(src)), customers),
        tmp_path)
    by_id = got.set_index("event_id")
    assert isinstance(by_id.loc[1, "c_name"], str)      # enriched
    assert pd.isna(by_id.loc[2, "c_name"])              # left join kept it


def test_stream_stream_join_within_interval(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "a.json", [
        _ev(10, 0, 0, user=7, etype="click"),
        _ev(11, 0, 20, user=7, etype="purchase", value=99.0),
        _ev(12, 2, 0, user=7, etype="purchase", value=5.0),  # click too old
        _ev(13, 0, 1, user=8, etype="purchase"),             # no click
    ])
    events = read_events_stream(spark, str(src))
    other = read_events_stream(spark, str(src))
    got = _collect_stream(
        stream_stream_self_join(events, other), tmp_path)
    assert set(zip(got.buy_id, got.click_id)) == {(11, 10)}


def test_stream_stream_left_outer_emits_unmatched_on_watermark(
        spark, tmp_path):
    """A purchase with no click in its interval is held back until the
    watermark proves no match can arrive, then emitted with null click
    columns."""
    src = tmp_path / "src"
    src.mkdir()
    events = read_events_stream(spark, str(src))
    other = read_events_stream(spark, str(src))
    joined = stream_stream_self_join(events, other, how="left_outer")
    # Each later batch carries BOTH a click and a purchase: the branch
    # filters are pushed down into the file scan below the watermark
    # node, so each side's watermark only advances on events surviving
    # its own filter — clicks alone would leave the buys-side watermark
    # (and therefore the global min) pinned, and the outer row would
    # never flush.
    got = _collect_batched(joined, tmp_path, src, [
        [_ev(10, 0, 0, user=7, etype="click"),
         _ev(11, 0, 20, user=7, etype="purchase", value=99.0),
         _ev(13, 0, 1, user=8, etype="purchase")],   # no click for user 8
        # advance the watermark far past buy_ts + interval + watermark
        # so the unmatched purchase's state expires...
        [_ev(30, 5, 0, user=1, etype="click"),
         _ev(31, 5, 10, user=1, etype="purchase")],
        # ...and one more batch to flush the outer emission
        [_ev(40, 9, 0, user=1, etype="click"),
         _ev(41, 9, 10, user=1, etype="purchase")],
    ])
    matched = {(int(b), int(c)) for b, c in zip(got.buy_id, got.click_id)
               if pd.notna(c)}
    outer = {int(b) for b, c in zip(got.buy_id, got.click_id) if pd.isna(c)}
    assert {(11, 10), (31, 30)} <= matched
    assert 13 in outer


def test_session_window_merges_events(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # user 1: events 5 min apart (one session), then a 30-min gap (new
    # one); the watermark then advances via a DIFFERENT user so user 1's
    # sessions close, and a final batch delivers the emissions
    got = _collect_batched(
        session_window_stats(read_events_stream(spark, str(src))),
        tmp_path, src, [
            [_ev(1, 0, 0), _ev(2, 0, 5), _ev(3, 0, 45)],
            [_ev(4, 6, 0, user=99)],
            [_ev(5, 12, 0, user=99)],
        ])
    u1 = got[got.user_id == 1].sort_values("session_start")
    assert list(u1.n_events) == [2, 1]


def test_user_session_state_closes_on_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: two users' events; batches 2-3 advance the watermark past
    # last_event + 30 min gap so both sessions time out and emit
    got = _collect_batched(
        user_session_state(read_events_stream(spark, str(src))),
        tmp_path, src, [
            [_ev(1, 0, 0, user=1, value=2.0),
             _ev(2, 0, 1, user=1, value=3.0),
             _ev(3, 0, 2, user=2, value=10.0)],
            [_ev(4, 6, 0, user=99)],
            [_ev(5, 12, 0, user=99)],
        ])
    by_user = got.set_index("user_id")
    assert by_user.loc[1, "n_events"] == 2
    assert by_user.loc[1, "total_value"] == 5.0
    assert by_user.loc[2, "n_events"] == 1
    assert str(by_user.loc[1, "session_start"]).startswith("2024-01-01 00:00")
    assert str(by_user.loc[1, "session_end"]).startswith("2024-01-01 00:01")


def test_streaming_dedup_matches_batch_replay_twin(spark, tmp_path):
    """The REAL dropDuplicatesWithinWatermark stream over producer-retry
    duplicates must emit exactly the rows the graded batch replay twin
    (relational.streaming_dedup_within_watermark_replay) derives: one
    row per event_id, event-time-first wins. Duplicates arrive in a
    later micro-batch but inside the watermark horizon, so keyed state
    drops them."""
    src = tmp_path / "src"
    src.mkdir()
    originals = [_ev(i, 0, i, user=i % 3) for i in range(1, 8)]
    dups = [dict(e, ts=BASE.format(0, 30)) for e in originals[::2]]
    got = _collect_batched(
        streaming_dedup(read_events_stream(spark, str(src)),
                        watermark="1 hour"),
        tmp_path, src, [originals, dups, [_ev(99, 3, 0)]])
    # batch-twin semantics on the identical doubled data: first by
    # event time per event_id
    all_rows = originals + dups + [_ev(99, 3, 0)]
    expect = {}
    for e in sorted(all_rows, key=lambda e: (e["event_id"], e["ts"])):
        expect.setdefault(e["event_id"], pd.Timestamp(e["ts"]))
    assert {(int(r.event_id), pd.Timestamp(r.ts, tz="UTC"))
            for _, r in got.iterrows()} == set(expect.items())


def test_transform_with_state_v2_running_stats(spark, tmp_path):
    """State API v2 (transformWithStateInPandas, RocksDB-backed):
    per-user lifetime counters accumulate across micro-batches —
    batch 2's Update row for user 1 must reflect batch 1's state; the
    MapState-backed distinct-type count grows only on new types.

    The v2 API's state-server protocol client requires protobuf, which
    this container does not ship (no pip installs allowed) — skipped
    here, runnable as-is wherever pyspark's [connect] extras are
    present."""
    import pytest
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state client needs protobuf")
    from mongo_cdc_spark.streaming import (
        ROCKSDB_PROVIDER, user_running_stats_v2)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        src = tmp_path / "src"
        src.mkdir()
        got = _collect_batched(
            user_running_stats_v2(read_events_stream(spark, str(src))),
            tmp_path, src, [
                [_ev(1, 0, 0, user=1, etype="click", value=2.0),
                 _ev(2, 0, 1, user=1, etype="view", value=3.0),
                 _ev(3, 0, 2, user=2, etype="click", value=1.0)],
                [_ev(4, 1, 0, user=1, etype="click", value=5.0)],
            ], mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    u1 = got[got.user_id == 1].sort_values("n_events")
    assert list(u1.n_events) == [2, 3]
    assert list(u1.total_value) == [5.0, 10.0]
    assert list(u1.n_types) == [2, 2]  # batch 2 adds no new type
    u2 = got[got.user_id == 2]
    assert list(u2.n_events) == [1] and list(u2.n_types) == [1]


class _Ctx:
    key = None


class _FakeValueState:
    """In-memory stand-in for the v2 ValueState handle, keyed by the
    driver-controlled current grouping key."""

    def __init__(self, ctx):
        self.ctx, self.d = ctx, {}

    def exists(self):
        return self.ctx.key in self.d

    def get(self):
        return self.d[self.ctx.key]

    def update(self, v):
        self.d[self.ctx.key] = v


class _FakeMapState:
    def __init__(self, ctx):
        self.ctx, self.d = ctx, {}

    def _m(self):
        return self.d.setdefault(self.ctx.key, {})

    def containsKey(self, k):
        return k in self._m()

    def getValue(self, k):
        return self._m()[k]

    def updateValue(self, k, v):
        self._m()[k] = v

    def keys(self):
        return iter(self._m().keys())


class _FakeHandle:
    def __init__(self, ctx):
        self.ctx = ctx

    def getValueState(self, name, schema):
        return _FakeValueState(self.ctx)

    def getMapState(self, name, kschema, vschema):
        return _FakeMapState(self.ctx)


def test_running_user_stats_v2_logic_matches_batch_replay(spark, sf_dir):
    """Correctness signal for the State API v2 processor without the
    protobuf state client: drive RunningUserStats.handleInputRows
    directly over real micro-batch chunks of the events fixture with
    in-memory state handles, then assert each user's FINAL emitted row
    equals the oracle-graded batch twin streaming_userstats_v2_replay.
    This pins the processor's accumulation logic (lifetime count,
    null-as-zero sum, MapState distinct-type cardinality) to the same
    semantics the driver hash-checks against DuckDB."""
    from mongo_cdc_spark.operators.relational import (
        streaming_userstats_v2_replay)
    from mongo_cdc_spark.streaming.stateful_v2 import RunningUserStats

    events = (load_table(spark, sf_dir, "events")
              .select("event_id", "user_id", "event_type", "value")
              .orderBy("event_id").toPandas())

    ctx = _Ctx()
    proc = RunningUserStats()
    proc.init(_FakeHandle(ctx))
    final = {}
    n_batches = 4
    for chunk in [events.iloc[b::n_batches] for b in range(n_batches)]:
        for user_id, pdf in chunk.groupby("user_id"):
            ctx.key = (int(user_id),)
            rows = list(proc.handleInputRows(
                (int(user_id),), iter([pdf]), None))
            final[int(user_id)] = rows[-1].iloc[0].to_dict()
    proc.close()

    expect = {r["user_id"]: r for r in (
        streaming_userstats_v2_replay(spark, sf_dir)
        .toPandas().to_dict("records"))}
    assert set(final) == set(expect)
    for uid, row in final.items():
        e = expect[uid]
        assert int(row["n_events"]) == int(e["n_events"]), uid
        assert round(float(row["total_value"]), 4) == \
            round(float(e["total_value"]), 4), uid
        assert int(row["n_types"]) == int(e["n_types"]), uid


def test_rocksdb_state_store_accumulates_across_restart(spark, tmp_path):
    """The RocksDB state store (ROCKSDB_STATE_CONF — the provider a
    100 TB deployment must run, since HDFS-backed state lives on-heap)
    works end-to-end in this environment: a stateful streaming
    aggregation checkpoints its state in RocksDB, and a SECOND query
    started from the same checkpoint restores that state and keeps
    accumulating — proving both the provider wiring and changelog
    checkpointing, not just config acceptance."""
    import json as _json

    from pyspark.sql import functions as F

    from mongo_cdc_spark.session import ROCKSDB_STATE_CONF

    key = "spark.sql.streaming.stateStore.providerClass"
    chg = ("spark.sql.streaming.stateStore.rocksdb."
           "changelogCheckpointing.enabled")
    prev = {k: spark.conf.get(k, None) for k in (key, chg)}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")

        def run_batch(fname, rows):
            (src / fname).write_text(
                "\n".join(_json.dumps(r) for r in rows))
            out = []
            q = (spark.readStream.schema("k INT, v INT").json(str(src))
                 .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                 .writeStream.outputMode("update")
                 .foreachBatch(lambda b, i: out.extend(b.collect()))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return {r.k: r.n for r in out}

        first = run_batch("a.json", [{"k": 1, "v": i} for i in range(5)])
        assert first == {1: 5}
        # new query instance, same checkpoint: counts must CONTINUE
        second = run_batch("b.json", [{"k": 1, "v": i} for i in range(3)]
                           + [{"k": 2, "v": 0}])
        assert second == {1: 8, 2: 1}, \
            "RocksDB state was not restored across query restart"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stream_interval_join_matches_batch_replay_twin(spark, tmp_path,
                                                        sf_dir):
    """The REAL stream-stream interval join over the fixture events
    must emit exactly the pairs the graded batch replay twin
    (relational.streaming_interval_join_replay) derives via the
    bucketed equi-join plan."""
    from mongo_cdc_spark.operators.relational import (
        streaming_interval_join_replay)

    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").toPandas()
    rows = [{"event_id": int(r.event_id),
             "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
             "user_id": int(r.user_id), "event_type": r.event_type,
             "value": float(r.value), "props": r.props or "{}"}
            for r in ev.itertuples()]
    stream = read_events_stream(spark, str(src))
    got = _collect_batched(
        stream_stream_self_join(stream, stream, within="30 minutes"),
        tmp_path, src, [rows])
    want = (streaming_interval_join_replay(spark, sf_dir)
            .select("buy_id", "click_id").toPandas())
    assert (set(zip(got.buy_id.astype(int), got.click_id.astype(int)))
            == set(zip(want.buy_id, want.click_id)))
    assert len(got) == len(want)


def test_stream_interval_left_join_matches_batch_replay_twin(
        spark, tmp_path, sf_dir):
    """The left-outer stream-stream join must emit exactly the rows of
    the graded batch twin: matched pairs PLUS one null-extended row
    per purchase with no qualifying click. A far-future sentinel
    click (user -1, joins nothing) is fed as a second batch so the
    watermark provably passes every purchase's join interval and the
    outer rows actually emit."""
    from mongo_cdc_spark.operators.relational import (
        streaming_interval_left_join_replay)

    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").toPandas()
    rows = [{"event_id": int(r.event_id),
             "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
             "user_id": int(r.user_id), "event_type": r.event_type,
             "value": float(r.value), "props": r.props or "{}"}
            for r in ev.itertuples()]
    # BOTH event types needed: each join side's watermark advances
    # only on events surviving its own type filter (see the
    # stream_stream_self_join docstring), so a click-only sentinel
    # would leave the purchase-side watermark at the last fixture
    # purchase and the final unmatched purchases would never close.
    sentinel = [{"event_id": -1, "ts": "2099-01-01T00:00:00Z",
                 "user_id": -1, "event_type": et, "value": 0.0,
                 "props": "{}"} for et in ("click", "purchase")]
    stream = read_events_stream(spark, str(src))
    got = _collect_batched(
        stream_stream_self_join(stream, stream, within="30 minutes",
                                how="left_outer"),
        tmp_path, src, [rows, sentinel])
    got = got[got.buy_id >= 0]  # drop any sentinel-purchase row
    want = (streaming_interval_left_join_replay(spark, sf_dir)
            .select("buy_id", "click_id").toPandas())

    def keyset(df):
        return {(int(b), None if pd.isna(c) else int(c))
                for b, c in zip(df.buy_id, df.click_id)}

    assert keyset(got) == keyset(want)
    assert len(got) == len(want)


def test_streaming_ohlc_matches_batch_replay_twin(spark, tmp_path):
    from mongo_cdc_spark.streaming import tumbling_ohlc_bars
    events = [
        _ev(1, 9, 0, value=10.0), _ev(2, 9, 15, value=13.5),
        _ev(3, 9, 59, value=7.25), _ev(4, 10, 1, value=3.0),
        _ev(5, 10, 30, value=9.0),
        # second type interleaved in the same windows
        _ev(6, 9, 5, etype="view", value=100.0),
        _ev(7, 9, 45, etype="view", value=90.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    # append mode emits a bar only once the watermark passes window
    # end — feed a flush batch far in the future to close hour 9-10,
    # then compare the CLOSED windows only
    flush = [_ev(99, 15, 0, value=1.0)]
    stream = read_events_stream(spark, str(src))
    got = _collect_batched(tumbling_ohlc_bars(stream), tmp_path, src,
                           [events, flush], mode="append")
    got = (got[got.window_start.dt.hour <= 10]
           .sort_values(["event_type", "window_start"])
           .reset_index(drop=True))
    # open = first by (ts, event_id); close = last; envelope exact
    click_9 = got[(got.event_type == "click")
                  & (got.window_start.dt.hour == 9)].iloc[0]
    assert click_9.open == 10.0 and click_9.close == 7.25
    assert click_9.high == 13.5 and click_9.low == 7.25
    assert click_9.volume == 3
    view_9 = got[(got.event_type == "view")
                 & (got.window_start.dt.hour == 9)].iloc[0]
    assert view_9.open == 100.0 and view_9.close == 90.0
    # parity with the batch run of the same operator (what the graded
    # twin streaming_ohlc_replay executes) over the drained source rows
    batch = (spark.read.schema(stream.schema).json(str(src))
             .filter("event_id != 99"))
    twin = (tumbling_ohlc_bars(batch)
            .toPandas()
            .sort_values(["event_type", "window_start"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, twin, check_dtype=False)


def test_streaming_schema_fingerprints_match_batch(spark, tmp_path):
    """The live schema-evolution monitor (complete-mode streaming agg
    over parsed change events) must drain to exactly the batch
    computation over the same lines — including the additive-field
    rollout and a corrupt line dropped by skip-on-error."""
    import json as _json

    from mongo_cdc_spark.cdc.pipeline import read_change_stream_files
    from mongo_cdc_spark.cdc.transform import (parse_change_events,
                                               schema_fingerprints)

    def line(key, coll, doc):
        return _json.dumps({
            "_id": {"_data": f"se-{key}"}, "operationType": "insert",
            "ns": {"db": "shop", "coll": coll},
            "documentKey": {"_id": str(key)},
            "fullDocument": _json.dumps(doc)})

    lines = [
        line(1, "o", {"a": 1, "b": "x"}),
        line(2, "o", {"a": 2, "b": "y", "c": 3.5}),     # field added
        line(3, "o", {"a": 3, "b": "z"}),
        line(4, "p", {"a": 4}),
        "this is not json",                              # dropped
        line(5, "p", {"a": 5, "d": True}),
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.jsonl").write_text("\n".join(lines) + "\n")

    stream = read_change_stream_files(spark, str(src))
    q = (schema_fingerprints(stream)
         .writeStream.format("memory").queryName("schemas")
         .outputMode("complete").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.coll, r.schema_fields):
           (r.n_events, r.first_key, r.last_key)
           for r in spark.sql("select * from schemas").collect()}
    raw = spark.read.text(str(src))
    want = {(r.coll, r.schema_fields):
            (r.n_events, r.first_key, r.last_key)
            for r in schema_fingerprints(
                parse_change_events(raw)).collect()}
    assert got == want
    assert got[("o", "a,b")] == (2, 1, 3)
    assert got[("o", "a,b,c")] == (1, 2, 2)
    assert got[("p", "a")] == (1, 4, 4)
    assert got[("p", "a,d")] == (1, 5, 5)


def test_stream_static_enrich_windowed_matches_batch(spark, tmp_path):
    """The enrich-then-rollup pipeline the registry grades as
    streaming_static_enrich_replay must produce the same frame when
    the SAME operators run over a drained file stream."""
    from pyspark.sql import functions as F

    events = [
        _ev(1, 9, 0, user=1, etype="purchase", value=10.0),
        _ev(2, 9, 30, user=2, etype="purchase", value=5.5),
        _ev(3, 10, 10, user=1, etype="purchase", value=2.0),
        _ev(4, 9, 40, user=999999, etype="purchase", value=7.0),
        _ev(5, 9, 45, user=1, etype="click", value=99.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", events)
    cust = spark.createDataFrame(
        [(1, "c1", "BUILDING"), (2, "c2", "MACHINERY")],
        "c_custkey long, c_name string, c_mktsegment string")

    def pipe(ev):
        return (stream_static_enrich(
            ev.filter(F.col("event_type") == "purchase"), cust)
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
                     .alias("segment"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("revenue"))
            .select(F.col("w.start").alias("ws"), "segment",
                    "n", "revenue"))

    stream = read_events_stream(spark, str(src))
    got = (_collect_stream(pipe(stream), tmp_path, mode="complete")
           .sort_values(["ws", "segment"]).reset_index(drop=True))
    want = (pipe(spark.read.schema(stream.schema).json(str(src)))
            .toPandas()
            .sort_values(["ws", "segment"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)
    # the unmatched user lands in the UNKNOWN bucket, not dropped
    assert (got.segment == "UNKNOWN").sum() == 1
    assert got[got.segment == "UNKNOWN"].revenue.iloc[0] == 7.0


def test_trending_topk_stream_matches_batch_replay(spark, tmp_path):
    """The windowed counts run as a REAL stream (complete mode);
    ranking each drained window's slice in the sink must equal the
    registry's streaming_trending_topk_replay batch twin."""
    from pyspark.sql import functions as F

    events = [
        _ev(1, 9, 0, etype="click"), _ev(2, 9, 5, etype="click"),
        _ev(3, 9, 10, etype="view"), _ev(4, 9, 15, etype="view"),
        _ev(5, 9, 20, etype="view"), _ev(6, 9, 25, etype="error"),
        _ev(7, 9, 30, etype="signup"),
        _ev(8, 10, 0, etype="error"), _ev(9, 10, 5, etype="error"),
        _ev(10, 10, 10, etype="click"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", events)
    stream = read_events_stream(spark, str(src))
    counts = (_collect_stream(
        tumbling_window_counts(stream), tmp_path, mode="complete"))
    # sink-side ranking of each window's bounded slice
    counts["rank"] = (counts
                      .sort_values(["n", "event_type"],
                                   ascending=[False, True])
                      .groupby("window_start").cumcount() + 1)
    got = (counts[counts["rank"] <= 3]
           .sort_values(["window_start", "rank"])
           .reset_index(drop=True))
    batch = spark.read.schema(stream.schema).json(str(src))
    from pyspark.sql import Window as W
    rw = W.partitionBy("window_start").orderBy(F.desc("n"), "event_type")
    want = (tumbling_window_counts(batch)
            .withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= 3)
            .toPandas()
            .sort_values(["window_start", "rank"])
            .reset_index(drop=True))
    got = got[want.columns].reset_index(drop=True)
    got["rank"] = got["rank"].astype(want["rank"].dtype)
    pd.testing.assert_frame_equal(got, want)
    # hour 9's top type is view (3 events)
    h9 = want[want.window_start.astype(str).str.contains("09:00")]
    assert h9.iloc[0].event_type == "view" and h9.iloc[0].n == 3


def test_first_touch_state_and_retention_curve_replay(spark, tmp_path):
    """first_touch_cohorts runs as a REAL update-mode stream; its
    drained state + the activity dedup, pushed through the sink-side
    curve arithmetic, must equal streaming_retention_curve_replay's
    hand-computed expectation on the same events."""
    from mongo_cdc_spark.streaming.analytics import first_touch_cohorts

    def _dev(eid, day, user):
        return {"event_id": eid, "ts": f"2024-01-0{day}T09:00:00Z",
                "user_id": user, "event_type": "click", "value": 1.0,
                "props": "{}"}

    # u1 first D1 active D1,D2,D4; u2 first D2 active D2,D3; u3 D3 only
    events = [_dev(1, 1, 1), _dev(2, 2, 1), _dev(3, 4, 1),
              _dev(4, 2, 2), _dev(5, 3, 2),
              _dev(6, 3, 3)]
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", events)
    stream = read_events_stream(spark, str(src))
    out = _collect_stream(first_touch_cohorts(stream), tmp_path,
                          mode="update")
    # last emitted row per user is the final state
    state = {int(r.user_id): r.cohort.day
             for _, r in out.groupby("user_id").tail(1).iterrows()}
    assert state == {1: 1, 2: 2, 3: 3}

    # sink-side curve over the drained state + batch activity dedup
    batch = spark.read.schema(stream.schema).json(str(src))
    ud = (batch.selectExpr("user_id", "date_trunc('day', ts) AS day")
          .distinct().toPandas())
    first = ud.groupby("user_id")["day"].min().rename("cohort")
    ud = ud.join(first, on="user_id")
    ud["o"] = (ud["day"] - ud["cohort"]).dt.days
    maxd = ud["day"].max()
    curve = {}
    for o in range(8):
        elig = first[(maxd - first).dt.days >= o]
        if len(elig) == 0:
            continue
        active = ud[(ud["o"] == o)]["user_id"].nunique()
        curve[o] = (len(elig), active, round(active / len(elig), 6))
    assert curve == {0: (3, 3, 1.0), 1: (3, 2, 0.666667),
                     2: (2, 0, 0.0), 3: (1, 1, 1.0)}

    # the registered replay twin computes the same columns on the
    # fixture — schema + maturity-monotonicity sanity
    from mongo_cdc_spark.operators.relational import (
        streaming_retention_curve_replay)
    rows = streaming_retention_curve_replay(
        spark, "/root/testdata/sf0.001").collect()
    assert [r["day_offset"] for r in rows] == sorted(
        r["day_offset"] for r in rows)
    for r in rows:
        assert 0 <= r["retention"] <= 1.0
        assert r["n_active"] <= r["n_eligible"]
    # n_eligible shrinks (weakly) as the offset grows — the triangle
    assert all(a["n_eligible"] >= b["n_eligible"]
               for a, b in zip(rows, rows[1:]))


def test_variant_window_counts_stream_matches_batch(spark, tmp_path):
    """variant_window_counts runs as a REAL update-mode stream; its
    drained per-(window, variant) state must equal the batch
    aggregation the replay twin builds from, and the twin's
    cumulative uplift must replay from those frames."""
    import hashlib

    from mongo_cdc_spark.streaming.analytics import (
        read_events_stream, variant_window_counts)

    def _ev(eid, day, user, etype, value):
        return {"event_id": eid, "ts": f"2024-01-0{day}T09:00:00Z",
                "user_id": user, "event_type": etype, "value": value,
                "props": "{}"}

    events = [_ev(1, 1, 1, "click", 1.0),
              _ev(2, 1, 2, "purchase", 10.50),
              _ev(3, 2, 1, "purchase", 5.25),
              _ev(4, 2, 3, "click", 1.0),
              _ev(5, 3, 2, "purchase", 2.00),
              _ev(6, 3, 4, "click", 1.0)]
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", events)
    stream = read_events_stream(spark, str(src))
    out = _collect_stream(variant_window_counts(stream), tmp_path,
                          mode="update")
    # final state: last emitted row per (window, variant)
    out["day"] = out["w"].map(lambda w: w["start"].day)
    state = {(r.day, r.t): (r.n_ev, r.n_pur, r.cents)
             for _, r in out.groupby(["day", "t"]).tail(1).iterrows()}

    def _t(user):
        return 0 if hashlib.md5(
            str(user).encode()).hexdigest()[0] < "8" else 1

    want = {}
    for e in events:
        day = int(e["ts"][8:10])
        key = (day, _t(e["user_id"]))
        n, p, c = want.get(key, (0, 0, 0))
        pur = e["event_type"] == "purchase"
        want[key] = (n + 1, p + int(pur),
                     c + (round(e["value"] * 100) if pur else 0))
    assert state == want

    # the registered replay twin: schema + internal consistency on
    # the fixture (monotone cumulative counts, day-ordered)
    from mongo_cdc_spark.operators.quality import (
        streaming_uplift_monitor_replay)
    rows = streaming_uplift_monitor_replay(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    for a, b in zip(rows, rows[1:]):
        assert a["day"] < b["day"]
        assert a["events_treat"] <= b["events_treat"]
        assert a["events_control"] <= b["events_control"]
        assert a["purchases_treat"] <= b["purchases_treat"]
        assert a["purchases_control"] <= b["purchases_control"]


def test_streaming_session_window_matches_batch_replay_twin(
        spark, tmp_path):
    """The streaming session_window aggregation, drained, must equal
    the batch session_window over the same rows — the formulation the
    graded replay twin (timeseries.streaming_session_window_replay)
    rolls up. Sessions: two merged events, a >=10-min gap starting a
    new one, and a second user interleaved."""
    from pyspark.sql import functions as F

    from mongo_cdc_spark.streaming import (read_events_stream,
                                           session_window_stats)

    events = [
        _ev(1, 9, 0, user=1, value=2.0), _ev(2, 9, 5, user=1, value=3.0),
        _ev(3, 9, 30, user=1, value=1.0),     # 25-min gap: new session
        _ev(4, 9, 2, user=2, value=10.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    flush = [_ev(99, 15, 0, user=9, value=1.0)]
    stream = read_events_stream(spark, str(src))
    got = _collect_batched(session_window_stats(stream), tmp_path, src,
                           [events, flush], mode="append")
    got = (got[got.user_id != 9]
           .sort_values(["user_id", "session_start"])
           .reset_index(drop=True))
    batch = (spark.read.schema(stream.schema).json(str(src))
             .filter("event_id != 99"))
    twin = (session_window_stats(batch)
            .toPandas()
            .sort_values(["user_id", "session_start"])
            .reset_index(drop=True))
    twin = twin[twin.user_id != 9].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, twin, check_dtype=False)
    # merge semantics: user 1 = [2 events], [1 event]; end = last+10min
    u1 = got[got.user_id == 1]
    assert list(u1.n_events) == [2, 1]
    assert ((u1.session_end - u1.session_start).dt.total_seconds()
            >= 600).all()


_REWIRED_TWINS = [
    ("timeseries", "streaming_ohlc_replay",
     "mongo_cdc_spark.streaming.analytics", "tumbling_ohlc_bars"),
    ("relational", "streaming_trending_topk_replay",
     "mongo_cdc_spark.streaming.analytics", "tumbling_window_counts"),
    ("quality", "streaming_uplift_monitor_replay",
     "mongo_cdc_spark.streaming.analytics", "variant_window_counts"),
    ("relational", "streaming_retention_curve_replay",
     "mongo_cdc_spark.streaming.analytics", "first_touch_cohorts"),
    ("relational", "window_session_events",
     "mongo_cdc_spark.streaming.analytics", "session_window_stats"),
    ("cdc_batch", "cdc_schema_evolution_audit",
     "mongo_cdc_spark.cdc.transform", "schema_fingerprints"),
]


@pytest.mark.parametrize("module,twin,op_module,op", _REWIRED_TWINS,
                         ids=[t[1] for t in _REWIRED_TWINS])
def test_replay_twin_runs_its_streaming_operator(
        spark, sf_dir, monkeypatch, module, twin, op_module, op):
    """Each graded replay twin must build its plan through the streaming
    operator it stands for, so the oracle grades the code that ships:
    with the operator patched to raise, the twin raises too. A twin
    that re-types the operator's aggregation would not."""
    import importlib

    class Called(Exception):
        pass

    def boom(*args, **kwargs):
        raise Called(op)

    monkeypatch.setattr(importlib.import_module(op_module), op, boom)
    query = getattr(importlib.import_module(
        f"mongo_cdc_spark.operators.{module}"), twin)
    with pytest.raises(Called):
        query(spark, sf_dir)
