"""CDC relay tests: golden key-envelope bytes (main.go:123-131 layout),
Ext-JSON value, dynamic topic routing, skip-on-corrupt-record, and the
end-to-end streaming pipeline over a file-stream source."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from mongo_cdc_spark.cdc.pipeline import (
    read_change_stream_files,
    relay_foreach_batch,
)
from mongo_cdc_spark.cdc.schema import CHANGE_EVENT_SCHEMA
from mongo_cdc_spark.cdc.transform import parse_change_events, to_kafka_records


def _event(db="shop", coll="orders", op="insert", key='{"$oid": "abc"}',
           full='{"qty": 3, "price": 9.5}', rt="rt1",
           ts="2024-11-08T00:00:01Z"):
    return {
        "_id": {"_data": rt}, "operationType": op, "clusterTime": ts,
        "ns": {"db": db, "coll": coll}, "documentKey": {"_id": key},
        "fullDocument": full,
    }


@pytest.fixture()
def batch_events(spark):
    import datetime as dt
    rows = [(
        ("rt1",), "insert",
        dt.datetime(2024, 11, 8, 0, 0, 1),
        ("shop", "orders"), ('{"$oid": "abc"}',), '{"qty": 3}',
    )]
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def test_topic_is_db_dot_coll(batch_events):
    rec = to_kafka_records(batch_events).collect()[0]
    assert rec.topic == "shop.orders"


def test_key_is_connect_envelope_golden(batch_events):
    """Byte-layout parity with the reference's KeySchema struct
    (main.go:16-24,123-131): schema first, payload second, payload is the
    Ext-JSON string of documentKey."""
    rec = to_kafka_records(batch_events).collect()[0]
    k = json.loads(rec.key)
    assert list(k) == ["schema", "payload"]
    assert k["schema"] == {"type": "string", "optional": False}
    assert json.loads(k["payload"]) == {"_id": '{"$oid": "abc"}'}


def test_value_is_canonical_ext_json(batch_events):
    rec = to_kafka_records(batch_events).collect()[0]
    v = json.loads(rec.value)
    assert v["operationType"] == "insert"
    assert v["ns"] == {"db": "shop", "coll": "orders"}
    # fullDocument inlined as a subdocument with canonical number wrappers
    assert v["fullDocument"]["qty"] == {"$numberInt": "3"}
    # output columns are exactly what the Kafka sink consumes
    assert set(to_kafka_records(batch_events).columns) == {
        "topic", "key", "value"}


def test_parse_skips_corrupt_and_incomplete(spark):
    lines = [
        json.dumps(_event()),            # good
        "{definitely not json",          # corrupt -> skip (main.go:105-108)
        json.dumps({"operationType": "insert"}),  # missing ns/key -> skip
        json.dumps(_event(db="d2", coll="c2", rt="rt2")),  # good
    ]
    raw = spark.createDataFrame([(ln,) for ln in lines], "value string")
    parsed = parse_change_events(raw)
    got = parsed.select("ns.db", "ns.coll").collect()
    assert sorted((r.db, r.coll) for r in got) == [
        ("d2", "c2"), ("shop", "orders")]


def test_parse_keep_corrupt_routes_dlq(spark):
    raw = spark.createDataFrame([("{bad",), (json.dumps(_event()),)],
                                "value string")
    kept = parse_change_events(raw, keep_corrupt=True).collect()
    assert len(kept) == 2 and kept[0]["_corrupt_record"] == "{bad"
    assert kept[1]["_corrupt_record"] is None and kept[1].ns.db == "shop"


def test_streaming_end_to_end(spark, tmp_path: Path):
    """File-stream source → parse → transform → foreachBatch sink; the
    hermetic equivalent of the reference's full main() loop."""
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "events.json", "w") as f:
        f.write(json.dumps(_event(rt="rt1")) + "\n")
        f.write("{corrupt line\n")
        f.write(json.dumps(_event(db="iot", coll="metrics", key="7",
                                  full='{"v": 1}', rt="rt2")) + "\n")

    batches = []
    df = read_change_stream_files(spark, str(src)).filter(
        "ns.db is not null and ns.coll is not null "
        "and documentKey._id is not null")
    q = relay_foreach_batch(df, lambda b, i: batches.append(b.toPandas()),
                            checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    import pandas as pd
    out = pd.concat(batches)
    assert sorted(out.topic) == ["iot.metrics", "shop.orders"]
    for key in out.key:
        env = json.loads(key)
        assert env["schema"] == {"type": "string", "optional": False}


def test_streaming_checkpoint_resume(spark, tmp_path: Path):
    """New data after a restart is processed exactly once from the
    checkpoint — the durability the reference lacks (main.go:95,103
    re-subscribes from 'now' on crash)."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    with open(src / "a.json", "w") as f:
        f.write(json.dumps(_event(rt="rt1")) + "\n")

    def run_once():
        seen = []
        df = read_change_stream_files(spark, str(src)).filter(
            "documentKey._id is not null")
        q = relay_foreach_batch(
            df, lambda b, i: seen.append(b.toPandas()), checkpoint=ckpt)
        q.processAllAvailable()
        q.stop()
        import pandas as pd
        return pd.concat(seen) if seen else pd.DataFrame(columns=["value"])

    first = run_once()
    with open(src / "b.json", "w") as f:
        f.write(json.dumps(_event(db="d2", coll="c2", rt="rt2")) + "\n")
    second = run_once()

    n_first = len(first[first.value.str.len() > 0]) if len(first) else 0
    assert n_first == 1
    vals = [json.loads(v) for v in second.value if v]
    assert len(vals) == 1 and vals[0]["_id"]["_data"] == "rt2"


def test_relay_with_dlq_routes_rejects(spark, tmp_path: Path):
    """Valid events reach the main sink; corrupt/incomplete ones land in
    the DLQ with their payload preserved (vs the reference's
    log-and-drop, main.go:105-108)."""
    from mongo_cdc_spark.cdc.pipeline import relay_with_dlq

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "events.json", "w") as f:
        f.write(json.dumps(_event(rt="rt1")) + "\n")
        f.write("{corrupt line\n")
        missing_ns = _event(rt="rt2")
        del missing_ns["ns"]
        f.write(json.dumps(missing_ns) + "\n")
        f.write(json.dumps(_event(db="iot", coll="m", rt="rt3")) + "\n")

    good, bad = [], []
    q = relay_with_dlq(
        read_change_stream_files(spark, str(src), keep_corrupt=True),
        lambda b, i: good.append(b.toPandas()),
        lambda b, i: bad.append(b.toPandas()),
        checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    import pandas as pd
    good_df = pd.concat(good)
    bad_df = pd.concat(bad)
    assert sorted(good_df.topic) == ["iot.m", "shop.orders"]
    assert len(bad_df) == 2
    # the corrupt line's raw text is preserved for replay
    assert any(bad_df._corrupt_record.fillna("").str.startswith("{corrupt"))


def test_relay_topic_rates_windows(spark, tmp_path: Path):
    """Per-topic windowed counts over the relay stream (observability)."""
    from mongo_cdc_spark.cdc.pipeline import relay_topic_rates

    src = tmp_path / "src"
    src.mkdir()
    out = []
    df = relay_topic_rates(read_change_stream_files(spark, str(src)),
                           size="1 minute", watermark="2 minutes")
    q = (df.writeStream.outputMode("append")
         .foreachBatch(lambda b, i: out.append(b.toPandas()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    batches = [
        [_event(rt="r1", ts="2024-11-08T00:00:01Z"),
         _event(rt="r2", ts="2024-11-08T00:00:30Z"),
         _event(db="iot", coll="m", rt="r3", ts="2024-11-08T00:00:45Z")],
        [_event(rt="r4", ts="2024-11-08T00:10:00Z")],
        [_event(rt="r5", ts="2024-11-08T00:20:00Z")],
    ]
    for i, evs in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for e in evs:
                f.write(json.dumps(e) + "\n")
        q.processAllAvailable()
    q.stop()

    import pandas as pd
    got = pd.concat(out)
    w0 = got[got.window_start.astype(str).str.contains("00:00:00")]
    assert dict(zip(w0.topic, w0.n_events)) == {"shop.orders": 2, "iot.m": 1}


def test_file_source_skips_corrupt_by_default(spark, tmp_path: Path):
    """Relaying the file source DIRECTLY (no explicit filter) must drop
    undecodable lines and null-ns events at the source — the
    reference's skip-on-error (main.go:104-108); an empty-topic record
    reaching the sink is the bug this pins down."""
    src = tmp_path / "src"
    src.mkdir()
    missing_ns = _event(rt="rt2")
    del missing_ns["ns"]
    with open(src / "events.json", "w") as f:
        f.write(json.dumps(_event(rt="rt1")) + "\n")
        f.write("NOT JSON {{{\n")
        f.write(json.dumps(missing_ns) + "\n")

    out = []
    q = relay_foreach_batch(
        read_change_stream_files(spark, str(src)),
        lambda b, i: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert [r.topic for r in out] == ["shop.orders"]
    assert all(r.topic for r in out)


# One event per operation type: a non-ASCII db name, int32/int64 edges,
# integral and fractional doubles, an overflowing double, -0.0, and a
# delete without a post-image; plus a corrupt line the parse must skip.
_GOLDEN_LINES = [
    json.dumps(_event(key="7", ts="2024-11-08T00:00:01Z", full=(
        '{"qty": 3, "big": 4294967296, "price": 9.5, "whole": 2.0}'))),
    json.dumps(_event(db="café", coll="menu", op="update", rt="rt2",
                      ts="2024-11-08T00:00:02Z", full=(
                          '{"name": "crème", "n": -2147483648, '
                          '"tags": [1, 2.5e-3, 1e400]}'))),
    json.dumps(_event(op="replace", key="8", rt="rt3",
                      ts="2024-11-08T00:00:03Z", full=(
                          '{"qty": 2147483648, "nested": '
                          '{"d": 9223372036854775807, "x": -0.0}}'))),
    json.dumps(_event(op="delete", key="9", rt="rt4", full=None,
                      ts="2024-11-08T00:00:04Z")),
    "{not json",
]

# (topic, key, value) as the relay produced them before its key and
# value encoders were merged into one UDF: the wire format is pinned.
_GOLDEN_RECORDS = [
    ('shop.orders',
     '{"schema":{"type":"string","optional":false},"payload":"{\\"_id\\":\\"7\\"}"}',
     '{"_id":{"_data":"rt1"},"operationType":"insert","clusterTime":"2024-11-08T00:00:01.000Z","ns":{"db":"shop","coll":"orders"},"documentKey":{"_id":"7"},"fullDocument":{"qty":{"$numberInt":"3"},"big":{"$numberLong":"4294967296"},"price":{"$numberDouble":"9.5"},"whole":{"$numberDouble":"2.0"}}}'),
    ('café.menu',
     '{"schema":{"type":"string","optional":false},"payload":"{\\"_id\\":\\"{\\\\\\"$oid\\\\\\": \\\\\\"abc\\\\\\"}\\"}"}',
     '{"_id":{"_data":"rt2"},"operationType":"update","clusterTime":"2024-11-08T00:00:02.000Z","ns":{"db":"caf\\u00e9","coll":"menu"},"documentKey":{"_id":"{\\"$oid\\": \\"abc\\"}"},"fullDocument":{"name":"cr\\u00e8me","n":{"$numberInt":"-2147483648"},"tags":[{"$numberInt":"1"},{"$numberDouble":"0.0025"},{"$numberDouble":"Infinity"}]}}'),
    ('shop.orders',
     '{"schema":{"type":"string","optional":false},"payload":"{\\"_id\\":\\"8\\"}"}',
     '{"_id":{"_data":"rt3"},"operationType":"replace","clusterTime":"2024-11-08T00:00:03.000Z","ns":{"db":"shop","coll":"orders"},"documentKey":{"_id":"8"},"fullDocument":{"qty":{"$numberLong":"2147483648"},"nested":{"d":{"$numberLong":"9223372036854775807"},"x":{"$numberDouble":"-0.0"}}}}'),
    ('shop.orders',
     '{"schema":{"type":"string","optional":false},"payload":"{\\"_id\\":\\"9\\"}"}',
     '{"_id":{"_data":"rt4"},"operationType":"delete","clusterTime":"2024-11-08T00:00:04.000Z","ns":{"db":"shop","coll":"orders"},"documentKey":{"_id":"9"}}'),
]


@pytest.fixture()
def golden_raw(spark):
    return spark.createDataFrame([(ln,) for ln in _GOLDEN_LINES],
                                 "value string")


def _executed_plan(df) -> str:
    """The executed physical plan of `df` (the final plan under AQE)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_relay_golden_bytes(golden_raw):
    rows = to_kafka_records(parse_change_events(golden_raw)).collect()
    got = sorted((r.topic, r.key, r.value) for r in rows)
    assert got == sorted(_GOLDEN_RECORDS)


@pytest.mark.parametrize("build", ["records", "key_envelope"])
def test_relay_plan_parses_once_with_no_python_eval(golden_raw, build):
    """Each event is decoded once by from_json and once by the Java
    Ext-JSON UDF, with no Python eval node anywhere in the plan: the key
    and the value share one UDF call per row (whole-stage codegen
    evaluates the common subexpression once)."""
    from mongo_cdc_spark.cdc.transform import (
        connect_key_envelope, with_topic)

    parsed = parse_change_events(golden_raw)
    df = (to_kafka_records(parsed) if build == "records"
          else connect_key_envelope(with_topic(parsed)))
    plan = _executed_plan(df)
    assert plan.count("from_json(") == 1
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert plan.count(node) == 0, node
    jvm = df.sparkSession._jvm
    codegen = jvm.org.apache.spark.sql.execution.debug.package \
        .codegenString(df._jdf.queryExecution().executedPlan())
    assert codegen.count("/* udf */") == 1



_FOREIGN_SESSION = """
import sys
from pyspark.sql import SparkSession
sys.path.insert(0, sys.argv[1])
from mongo_cdc_spark.cdc.transform import parse_change_events, to_kafka_records
spark = (SparkSession.builder.master("local[1]")
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false").getOrCreate())
raw = spark.createDataFrame([(sys.argv[2],)], "value string")
print(to_kafka_records(parse_change_events(raw)).collect()[0].value)
spark.stop()
"""


def test_relay_runs_in_a_session_get_spark_did_not_start(tmp_path):
    """A caller's own SparkSession lacks the Ext-JSON jar on its
    classpath; the relay adds the jar on first use instead of failing
    to load the UDF class."""
    import os
    import subprocess
    import sys

    line = json.dumps(_event(full='{"qty": 3, "price": 9.5}'))
    env = dict(os.environ, TMPDIR=str(tmp_path))
    done = subprocess.run(
        [sys.executable, "-c", _FOREIGN_SESSION,
         str(Path(__file__).resolve().parent.parent), line],
        capture_output=True, text=True, timeout=300, env=env)
    assert done.returncode == 0, done.stderr[-2000:]
    value = json.loads(done.stdout.strip().splitlines()[-1])
    assert value["fullDocument"] == {"qty": {"$numberInt": "3"},
                                     "price": {"$numberDouble": "9.5"}}
