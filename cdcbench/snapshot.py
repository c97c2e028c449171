"""The ``cdc_apply`` workload: change-event batches over a fixed key
space merged by ``cdc.apply.apply_batch_to_snapshot`` into a parquet
snapshot that setup preloads with every key."""

from __future__ import annotations

import json
import time
from pathlib import Path

from cdcbench import gen
from cdcbench.harness import execute, job_group, median

# Every batch touches all buckets, so each call reads and rewrites the
# whole snapshot: 100k keys make that rewrite a visible share of a call
# (see ``traced_batches``) next to the call's fixed job and planning cost.
APPLY_KEYS = 100_000
APPLY_BATCH = 10_000
WARM_BATCHES = 1
MIN_BATCHES = 3
N_BUCKETS = 16


def _events(spark, path: Path):
    from mongo_cdc_spark.cdc.transform import parse_change_events
    return parse_change_events(spark.read.text(str(path)))


def _files(snap: Path) -> dict[str, tuple[int, int]]:
    return {str(p.relative_to(snap)): (p.stat().st_mtime_ns, p.stat().st_size)
            for p in snap.glob("bucket=*/*.parquet")}


class Applier:
    """Feeds numbered batch files to ``apply_batch_to_snapshot``."""

    def __init__(self, ctx, cs: gen.ChangeStream):
        self.ctx, self.cs = ctx, cs
        self.spark = ctx.session.spark
        self.snap = ctx.work / "snapshot"
        self.n = 0
        self.events = 0

    def next_file(self, lines: list[str]) -> Path:
        path = self.ctx.work / "batches" / f"b{self.n:05d}.json"
        path.parent.mkdir(exist_ok=True)
        gen.write_lines(path, lines)
        self.n += 1
        self.events += len(lines)
        return path

    def apply(self, path: Path) -> float:
        from mongo_cdc_spark.cdc.apply import apply_batch_to_snapshot
        t0 = time.perf_counter()
        apply_batch_to_snapshot(self.spark, str(self.snap),
                                _events(self.spark, path), N_BUCKETS)
        return time.perf_counter() - t0


def check_snapshot(spark, snap: Path, cs: gen.ChangeStream) -> int:
    """Keys whose snapshot row differs from the generator's state
    (missing, extra, or a different post-image)."""
    rows = spark.read.parquet(str(snap)).select("doc_key", "doc").collect()
    got = {r["doc_key"]: r["doc"] for r in rows}
    bad = len(rows) - len(got)                    # duplicate keys
    for key in set(got) | set(cs.state):
        want = cs.doc(key)
        have = got.get(key)
        if want is None or have is None or json.loads(have) != want:
            bad += 1
    return bad


def cdc_apply(ctx) -> dict:
    s, spark = ctx.session, ctx.session.spark
    with ctx.setup.span("input_gen"):
        cs = gen.ChangeStream(ctx.seed, APPLY_KEYS)
        ap = Applier(ctx, cs)
        preload = ap.next_file(cs.insert_all())
        warm = [ap.next_file(cs.events(APPLY_BATCH))
                for _ in range(WARM_BATCHES)]
    with ctx.setup.span("warm"):
        ap.apply(preload)
        for path in warm:
            ap.apply(path)
    ctx.setup_done()

    walls = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(walls) < MIN_BATCHES:
        path = ap.next_file(cs.events(APPLY_BATCH))
        walls.append(ap.apply(path))
    ctx.detail(batches=len(walls), batch_events=APPLY_BATCH,
               keys=APPLY_KEYS, events_per_s=APPLY_BATCH / median(walls))
    if ctx.trace:
        ctx.layer(traced_batches(ctx, ap, median(walls)))
    ctx.checked(check_snapshot(spark, ap.snap, cs), ap.events)
    return {"wall_ms": 1e3 * median(walls)}


def traced_batches(ctx, ap: Applier, untraced_wall: float) -> dict:
    """Apply three more batches with tracing: job counts and stage totals
    per batch, file churn in the snapshot, and the batch's read, parse and
    ``latest_change_per_key`` reduction run alone (``apply.reduce_ms``;
    the rest of the call is ``apply.rewrite_ms``)."""
    import pyarrow.parquet as pq

    from mongo_cdc_spark.cdc.apply import latest_change_per_key
    s = ctx.session
    rows, walls, reduce_ms, jobs = [], [], [], []
    touched, written, first = [], [], s.last_stage_id()
    for i in range(3):
        path = ap.next_file(ap.cs.events(APPLY_BATCH))
        before = _files(ap.snap)
        with job_group(s.sc, f"apply{i}"):
            walls.append(ap.apply(path))
        jobs.append(s.group_jobs(f"apply{i}"))
        after = _files(ap.snap)
        new = [f for f in after if before.get(f) != after[f]]
        touched.append(len({f.split("/")[0] for f in new}
                           | {f.split("/")[0] for f in before
                              if f not in after}))
        written.append(sum(after[f][1] for f in new))
        rows.append(sum(pq.read_metadata(ap.snap / f).num_rows for f in new))
        t0 = time.perf_counter()
        execute(latest_change_per_key(_events(ap.spark, path)))
        reduce_ms.append(1e3 * (time.perf_counter() - t0))
    totals = s.stage_totals(after=first)
    return {**{f"spark.{k}": v for k, v in totals.items()},
            "apply.reduce_ms": median(reduce_ms),
            "apply.rewrite_ms": 1e3 * median(walls) - median(reduce_ms),
            "apply.rows_rewritten_per_event": median(rows) / APPLY_BATCH,
            "apply.bytes_written": median(written),
            "apply.touched_buckets": median(touched),
            "apply.snapshot_files": len(_files(ap.snap)),
            "apply.jobs_per_batch": median(jobs),
            "trace.overhead_frac": median(walls) / untraced_wall - 1}
