"""Benchmark entry point.

    python3 cdcbench/run.py --workload relay_drain --seed 1 --seconds 6 \
        --trace 0

Runs one workload in this process against the ``mongo_cdc_spark`` package
of the checkout this file sits in, and prints one JSON result line last:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run (see ``metrics.py``). Inputs are made
from ``--seed`` under ``.cdcbench_work/`` in the checkout, which is
removed on exit.

Exits with 2, printing no result, when the checkout has no
``mongo_cdc_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("relay_drain", "cdc_apply", "analytics_mix")


class Context:
    """What a workload needs: the session, its seed and time budget, a
    scratch directory, and the sinks for its results."""

    def __init__(self, args, session, work: Path, t_start: float):
        from cdcbench.harness import Timer
        self.session = session
        self.seed, self.seconds, self.trace = args.seed, args.seconds, \
            bool(args.trace)
        self.driver_mem = args.driver_mem
        self.work = work
        self.setup = Timer()
        self.t_start = t_start
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.details: dict = {}
        self.layers: dict[str, float] = {}

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def checked(self, failed: int, attempted: int) -> None:
        """Count ``attempted`` checked events or queries, ``failed`` of
        them wrong."""
        self.failed += failed
        self.attempted += attempted

    def detail(self, **kv) -> None:
        self.details.update(kv)

    def layer(self, metrics: dict[str, float]) -> None:
        self.layers.update(metrics)


def _cpus(value: str) -> int:
    return len(os.sched_getaffinity(0)) if value == "nproc" else int(value)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc",
                    help="local[N] cores; 'nproc' = this process's CPUs")
    ap.add_argument("--driver-mem", default="4g")
    ap.add_argument("--one-core-drain", type=Path, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / "mongo_cdc_spark" / "__init__.py").is_file():
        print(f"no mongo_cdc_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload is None and args.one_core_drain is None:
        ap.error("--workload is required")
    # Python workers are spawned by the JVM and import the program by name
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # keep Spark's and Python's scratch files inside the checkout
    scratch = ROOT / ".cdcbench_work"
    scratch.mkdir(exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(scratch)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch}"

    from cdcbench import metrics
    from cdcbench.harness import Session

    if args.one_core_drain is not None:
        from cdcbench.relay import one_core_main
        session = Session(1, args.driver_mem, "cdcbench-1core")
        try:
            print(json.dumps(one_core_main(args.one_core_drain, session)))
        finally:
            session.stop()
        return 0

    from cdcbench import mix, relay, snapshot
    run = {"relay_drain": relay.relay_drain, "cdc_apply": snapshot.cdc_apply,
           "analytics_mix": mix.analytics_mix}[args.workload]
    session = Session(_cpus(args.cpus), args.driver_mem,
                      f"cdcbench-{args.workload}")
    work = scratch / f"{args.workload}-{os.getpid()}"
    try:
        work.mkdir(parents=True)
        ctx = Context(args, session, work, t_start)
        e2e = run(ctx)
        e2e["setup_s"] = ctx.setup_s
        jvm_mb, py_mb = session.peak_rss_mb()
        details = dict(ctx.details, workload=args.workload, seed=args.seed,
                       failed_frac=ctx.failed / max(ctx.attempted, 1))
        if args.trace:
            layer = {k: 0.0 for k in metrics.PER_LAYER}
            layer.update(ctx.layers)
            layer.update({
                "setup.spark_start_s": session.start_s,
                "setup.input_gen_s": ctx.setup.total("input_gen"),
                "setup.warm_s": ctx.setup.total("warm"),
                "mem.jvm_peak_rss_mb": jvm_mb,
                "mem.py_workers_peak_rss_mb": py_mb})
            out = metrics.result(layer, metrics.PER_LAYER, ctx.attempted,
                                 ctx.failed, ctx.failed == 0)
        else:
            out = metrics.result(e2e, metrics.END_TO_END, ctx.attempted,
                                 ctx.failed, ctx.failed == 0)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass                  # Spark left files there; .gitignore'd
    print(json.dumps({"detail": details}), flush=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
