"""The ``relay_drain`` workload: a pre-written backlog of change events
drained through ``cdc.transform.parse_change_events`` and
``cdc.pipeline.relay_foreach_batch``, the plan ``read_change_stream_kafka``
feeds downstream.

The sink stands in for Kafka: per batch it counts records per topic and
sums a 32-bit hash of each (topic, key, value), so the delivered counts
can be checked against the generator and a change to the wire format
shows in the checksum.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

from cdcbench import gen
from cdcbench.harness import execute, median, plan_profile

# 60k events in 4 files, one task each: a drain is one 60k-event
# micro-batch, big enough that per-record parse and UDF work is most of
# it (see ``ablation``) rather than per-trigger and per-task start-up.
DRAIN_FILES = 4
DRAIN_FILES_PER_TRIGGER = 4
DRAIN_EVENTS = 60_000
DRAIN_KEYS = 20_000
COLD_LINES = 3_000         # per file of the short cold drain
WARM_DRAINS = 1
MIN_DRAINS = 3


class CountingSink:
    """foreachBatch sink: writes each batch through Spark's no-op sink
    in one pass, observing per-topic counts and a checksum of the
    emitted records on the way; keeps, per batch, the counts and the
    checksum."""

    def __init__(self, topics):
        self.topics = sorted(topics)
        self.batches: dict[int, tuple[dict[str, int], int]] = {}

    def observed(self, records, observation):
        """``records`` with the sink's counters attached."""
        from pyspark.sql import functions as F
        h = F.xxhash64("topic", "key", "value").bitwiseAND(F.lit(0xFFFFFFFF))
        per_topic = [F.count_if(F.col("topic") == t).alias(t)
                     for t in self.topics]
        return records.observe(observation, F.count(F.lit(1)).alias("__n"),
                               F.sum(h).alias("__h"), *per_topic)

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import Observation
        obs = Observation(f"relay-{batch_id}")
        (self.observed(batch_df, obs)
         .write.format("noop").mode("overwrite").save())
        got = obs.get
        topics = {t: got[t] for t in self.topics if got[t]}
        other = got["__n"] - sum(topics.values())
        if other:
            topics["<other>"] = other
        self.batches[batch_id] = (topics, (got["__h"] or 0) % 2 ** 64)

    def delivered(self) -> int:
        return sum(sum(t.values()) for t, _ in self.batches.values())

    def per_topic(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for topics, _ in self.batches.values():
            for k, v in topics.items():
                out[k] = out.get(k, 0) + v
        return out

    def checksum(self) -> int:
        return sum(h for _, h in self.batches.values()) % 2 ** 64


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def trigger_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger durations (p50) and counts from ``recentProgress``,
    over the triggers that took in data."""
    ps = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not ps:
        return {}

    def p50(*keys):
        return median([sum(p["durationMs"].get(k, 0) for k in keys)
                       for p in ps])
    return {"trigger.latest_offset_ms": p50("latestOffset", "getBatch"),
            "trigger.query_planning_ms": p50("queryPlanning"),
            "trigger.commit_ms": p50("walCommit", "commitOffsets"),
            "trigger.add_batch_ms": p50("addBatch"),
            "trigger.batches": len(ps),
            "trigger.rows_per_batch": median([p["numInputRows"] for p in ps])}


def write_backlog(seed: int, out: Path, cold: Path) -> gen.ChangeStream:
    """Write the backlog to ``out``, and the first ``COLD_LINES`` of each
    of its first micro-batch's files to ``cold``."""
    cs = gen.ChangeStream(seed, DRAIN_KEYS)
    out.mkdir(parents=True)
    cold.mkdir(parents=True)
    for i in range(DRAIN_FILES):
        lines = cs.events(DRAIN_EVENTS // DRAIN_FILES)
        gen.write_lines(out / f"part-{i:04d}.json", lines)
        if i < DRAIN_FILES_PER_TRIGGER:
            gen.write_lines(cold / f"part-{i:04d}.json", lines[:COLD_LINES])
    return cs


def drain(spark, backlog: Path, ckpt: Path):
    """One drain of the backlog: text stream -> parse_change_events ->
    relay_foreach_batch until every file is processed. Returns
    (wall seconds, sink, query)."""
    from mongo_cdc_spark.cdc.pipeline import relay_foreach_batch
    from mongo_cdc_spark.cdc.transform import parse_change_events
    sink = CountingSink(gen.TOPICS)
    t0 = time.perf_counter()
    raw = (spark.readStream
           .option("maxFilesPerTrigger", DRAIN_FILES_PER_TRIGGER)
           .text(str(backlog)))
    q = relay_foreach_batch(parse_change_events(raw), sink, str(ckpt))
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
    finally:
        q.stop()
    return wall, sink, q


def _check_drain(sink: CountingSink, cs: gen.ChangeStream,
                 checksum: int | None) -> int:
    """Events missing, extra or misrouted in one drain; every event
    counts as failed if the records differ from the first drain's."""
    got, want = sink.per_topic(), cs.per_topic
    bad = sum(abs(got.get(k, 0) - want.get(k, 0))
              for k in set(got) | set(want))
    if checksum is not None and sink.checksum() != checksum:
        bad = max(bad, cs.delivered)
    return bad


def relay_drain(ctx) -> dict:
    s, spark = ctx.session, ctx.session.spark
    backlog = ctx.work / "backlog"
    with ctx.setup.span("input_gen"):
        cs = write_backlog(ctx.seed, backlog, ctx.work / "cold")
    with ctx.setup.span("warm"):
        # a short cold drain starts the Python workers and compiles the
        # hot paths; then whole drains while the JIT ramps
        drain(spark, ctx.work / "cold", ctx.work / "cold-ckpt")
        checksum = None
        for i in range(WARM_DRAINS):
            _, sink, _ = drain(spark, backlog, ctx.work / f"warm{i}")
            ctx.checked(_check_drain(sink, cs, checksum),
                        cs.delivered + cs.rejected)
            checksum = sink.checksum()
    ctx.setup_done()
    ctx.detail(checksum=f"{checksum:016x}", delivered=cs.delivered,
               rejected=cs.rejected)

    def one_drain(tag: str, traced: bool):
        """(wall seconds, recentProgress if traced)"""
        wall, sink, q = drain(spark, backlog, ctx.work / tag)
        ctx.checked(_check_drain(sink, cs, checksum),
                    cs.delivered + cs.rejected)
        return wall, _progress(q) if traced else []

    if not ctx.trace:
        walls = []
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or len(walls) < MIN_DRAINS:
            walls.append(one_drain(f"drain{len(walls)}", traced=False)[0])
        ctx.detail(drains=len(walls),
                   events_per_s=cs.delivered / median(walls))
        return {"wall_ms": 1e3 * median(walls)}

    # the traced run: drains without, with, with and without tracing,
    # so a JIT ramp still under way affects both alike
    first = s.last_stage_id()
    plain, traced = [], []
    for i in range(4):
        (traced if i in (1, 2) else plain).append(
            one_drain(f"alt{i}", traced=i in (1, 2)))
    traced_wall = median(r[0] for r in traced)
    progress = [p for r in traced for p in r[1]]
    layer = {f"spark.{k}": v for k, v in s.stage_totals(after=first).items()}
    layer.update(trigger_metrics(progress))
    layer.update(ablation(ctx, backlog, traced_wall,
                          _bookkeeping_s(progress) / len(traced)))
    layer["trace.overhead_frac"] = (
        traced_wall / median(r[0] for r in plain) - 1)
    layer["drain.events_per_s_1core"] = one_core_drain(ctx, backlog)
    ctx.layer(layer)
    return {}


def _bookkeeping_s(progress: list[dict]) -> float:
    """Trigger time outside the sink call: offsets, planning, WAL and
    commit, summed over the triggers."""
    return sum(p["durationMs"].get("triggerExecution", 0)
               - p["durationMs"].get("addBatch", 0) for p in progress) / 1e3


def ablation(ctx, backlog: Path, drain_wall_s: float,
             bookkeeping_s: float) -> dict[str, float]:
    """Self time of each transform layer, by timing successive prefixes
    of the relay as batch jobs, one job per micro-batch's worth of files
    (as the drain takes them), best of 3 per prefix. The last prefix adds
    the sink's counters and no-op write. Whatever a drain spends beyond
    the prefixes and its trigger bookkeeping (offsets, planning, WAL,
    commit) is ``layer.unaccounted_frac`` of the (traced) drain's wall
    time."""
    from mongo_cdc_spark.cdc.transform import (connect_key_envelope,
                                               parse_change_events,
                                               to_kafka_records, with_topic)
    spark = ctx.session.spark
    files = sorted(str(p) for p in backlog.iterdir())
    groups = [files[i:i + DRAIN_FILES_PER_TRIGGER]
              for i in range(0, len(files), DRAIN_FILES_PER_TRIGGER)]
    sink = CountingSink(gen.TOPICS)
    prefixes = [
        ("scan", lambda raw: raw),
        ("parse", parse_change_events),
        ("route", lambda raw: with_topic(parse_change_events(raw))),
        ("key_udf", lambda raw: connect_key_envelope(
            with_topic(parse_change_events(raw)))),
        ("value_udf", lambda raw: to_kafka_records(parse_change_events(raw))),
        ("sink", lambda raw: sink.observed(
            to_kafka_records(parse_change_events(raw)), "ablation")),
    ]
    walls, qes = {}, {}
    for name, build in prefixes:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            for g in groups:
                qes[name] = execute(build(spark.read.text(g)))
            reps.append(time.perf_counter() - t0)
        walls[name] = min(reps)
    out, prev = {}, 0.0
    for name, _ in prefixes:
        out[f"layer.{name}_ms"] = 1e3 * (walls[name] - prev)
        prev = walls[name]
    prof = plan_profile(qes["value_udf"])          # the last group's job
    out.update({"udf.python_total_ms": prof["python_total_ms"],
                "udf.python_boot_ms": prof["python_boot_ms"],
                "udf.python_init_ms": prof["python_init_ms"],
                "udf.bytes_to_python": prof["bytes_to_python"],
                "udf.bytes_from_python": prof["bytes_from_python"],
                "plan.from_json_evals": prof["from_json_evals"],
                "plan.python_eval_nodes": prof["python_eval_nodes"]})
    out["layer.unaccounted_frac"] = (
        (drain_wall_s - walls["sink"] - bookkeeping_s) / drain_wall_s)
    return out


def one_core_drain(ctx, backlog: Path) -> float:
    """Events/s of one warm drain of the backlog's first file at
    local[1], in a fresh process (one JVM per session)."""
    small = ctx.work / "backlog1"
    small.mkdir()
    first = min(backlog.iterdir())
    shutil.copy(first, small / first.name)
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("run.py")),
         "--one-core-drain", str(small), "--driver-mem", ctx.driver_mem],
        env=env, capture_output=True, text=True, timeout=120)
    if out.returncode != 0:
        raise RuntimeError(f"one-core drain failed:\n{out.stderr[-2000:]}")
    last = out.stdout.strip().splitlines()[-1]
    return float(json.loads(last)["events_per_s"])


def one_core_main(backlog: Path, session) -> dict:
    """The ``--one-core-drain`` process: a cold drain, then a timed one."""
    drain(session.spark, backlog, backlog.parent / "one-core-warm")
    wall, sink, _ = drain(session.spark, backlog, backlog.parent / "one-core")
    return {"events_per_s": sink.delivered() / wall}
