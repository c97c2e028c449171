"""Full-registry scale sweep: run EVERY __spark_entry__.queries() entry
at one or two SFs in one session, timing each, and flag outliers. The
per-query bench covers the headline subset; this sweep is the
net that catches accidental quadratics and session-level failures the
bench misses — it found the 1 GB default driver heap OOM, the
countDistinct×percentile_approx Expand pathology (151 s), and the
Generate-pushdown shingle re-inline (21 s) in round 3.

    python tools/scale_sweep.py [sf_dir] [slow_threshold_sec] [base_sf_dir]

With a base_sf_dir (default /root/testdata/sf0.01 when it exists) every
query ALSO runs at the smaller SF and the per-query scaling ratio
t(sf)/t(base) is reported — the slope check: a query whose time grows
faster than (SF ratio x slack) is flagged even if its absolute time is
still comfortable. Fixed per-query overhead (session, planning, Arrow
worker startup) makes small-SF times a floor, so the gate subtracts a
fixed-cost allowance before computing the ratio.

Exit code 1 if any query errors, exceeds the threshold (default 30 s),
or scales super-linearly past the slack.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from mongo_cdc_spark.session import get_spark  # noqa: E402

# Per-query fixed overhead (planning, task dispatch, Arrow pool) that
# does not scale with data; subtracted before the slope ratio so a
# 0.3 s -> 0.5 s query is not misread as "scaling".
FIXED_SEC = 0.5
# A query is slope-flagged when (t_big - FIXED) > SF_ratio * SLACK *
# max(t_base - FIXED, FLOOR) AND t_big > ABS_MIN. SLACK absorbs
# constant factors (shuffle rounding, AQE decisions differing between
# SFs); FLOOR keeps sub-fixed-cost base times from exploding the ratio
# (a 0.3s base clamped to 0.05 made every linear query look 40x);
# ABS_MIN ignores queries too fast to matter.
SLACK = 3.0
FLOOR = 0.15
ABS_MIN = 2.0

# Declared exemptions: queries whose cost is inherently output-bound,
# where super-linear time tracks super-linear RESULT size by contract.
SLOPE_OK = {
    # exact cosine-threshold pairs: the ground-truth twin of the LSH/
    # IVF-PQ scale path. Verified-pair count is quadratic on isotropic
    # data by definition of the operator (docstring declares it); cost
    # is linear in verified pairs. On clustered real-world embeddings
    # the triangle-inequality pruning restores sub-quadratic behavior
    # (proven on a clustered fixture in tests/test_similarity.py).
    "similarity_threshold_pairs",
}


def _sf_of(sf_dir: str) -> float | None:
    """Scale factor parsed from an 'sfX' directory name; None when the
    name doesn't follow the convention (the slope check then reports
    itself as skipped rather than gating on a garbage ratio)."""
    try:
        return float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        return None


def _run_all(spark, sf_dir: str, reps: int):
    """Best-of-reps per query through bench.time_query: single-shot
    local timings swing with scheduler noise and one transient stall
    (GC, a slow first Arrow worker) would flag an innocent query; the
    minimum is the steady-state estimate, same protocol as bench.py."""
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        secs, err = bench.time_query(spark, name, fn, sf_dir, reps)
        if err:
            errors[name] = err
            print(f"{name} ERROR {err}", flush=True)
        if secs:
            times[name] = min(secs)
            print(f"{name} {times[name]}s", flush=True)
    return times, errors


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    slow = float(sys.argv[2]) if len(sys.argv) > 2 else 30.0
    base_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    if not Path(base_dir).is_dir() or base_dir == sf_dir:
        base_dir = None
    reps = bench.bench_reps()
    spark = get_spark("scale_sweep")
    bench._warm_session(spark, base_dir or sf_dir)

    base_times: dict[str, float] = {}
    base_errors: dict[str, str] = {}
    if base_dir:
        print(f"== base pass @ {base_dir} (best of {reps}) ==")
        base_times, base_errors = _run_all(spark, base_dir, reps)
        if base_errors:
            print(f"== base errors == {base_errors}")

    print(f"== main pass @ {sf_dir} (best of {reps}) ==")
    times, errors = _run_all(spark, sf_dir, reps)

    print("\n== slowest ==")
    for k, v in sorted(times.items(), key=lambda x: -x[1])[:10]:
        print(f"{k} {v}s")

    slope_flags: dict[str, str] = {}
    sf_main, sf_base = _sf_of(sf_dir), _sf_of(base_dir) if base_dir else None
    if base_dir and (sf_main is None or not sf_base):
        print(f"\n== slope check SKIPPED: cannot derive SF ratio from "
              f"{sf_dir!r} vs {base_dir!r} (need sfX-named dirs) ==")
    elif base_dir:
        sf_ratio = sf_main / sf_base

        def _flagged(k: str) -> bool:
            big = max(times[k] - FIXED_SEC, 0.0)
            small = max(base_times[k] - FIXED_SEC, FLOOR)
            return (big > sf_ratio * SLACK * small
                    and times[k] > ABS_MIN and k not in SLOPE_OK)

        print(f"\n== slope check (SF ratio {sf_ratio:g}, "
              f"slack {SLACK}, fixed {FIXED_SEC}s) ==")
        candidates = []
        for k in sorted(times):
            if k not in base_times:
                continue
            small = max(base_times[k] - FIXED_SEC, FLOOR)
            ratio = max(times[k] - FIXED_SEC, 0.0) / small
            line = (f"{k} base={base_times[k]}s main={times[k]}s "
                    f"ratio={ratio:.1f}x")
            if _flagged(k):
                candidates.append(k)
                print(f"SLOPE? {line}", flush=True)
            else:
                print(line, flush=True)

        # Adjudicate before flagging: round-8's sole flag was a
        # sub-second query whose ONE main-SF sample hit an ambient
        # spike (0.6s base, 5.66s spike -> 34x after fixed-cost
        # subtraction; an isolated best-of-3 measured it flat). A
        # genuine quadratic survives re-timing; a spike does not.
        # time_query re-times in a clean-cache state; an error here
        # was already recorded by the main pass.
        for k in candidates:
            secs, _ = bench.time_query(spark, k, entrymod.queries()[k],
                                       sf_dir, reps)
            times[k] = min([times[k], *secs])
            small = max(base_times[k] - FIXED_SEC, FLOOR)
            ratio = max(times[k] - FIXED_SEC, 0.0) / small
            line = (f"{k} base={base_times[k]}s main={times[k]}s "
                    f"ratio={ratio:.1f}x (after re-time)")
            if _flagged(k):
                slope_flags[k] = line
                print(f"SLOPE {line}", flush=True)
            else:
                print(f"cleared {line}", flush=True)

    over = {k: v for k, v in times.items() if v > slow}
    print(f"\n== total == {round(sum(times.values()), 1)}s "
          f"over {len(times)} queries")
    if errors:
        print(f"== errors == {errors}")
    if over:
        print(f"== over {slow}s == {over}")
    if slope_flags:
        print(f"== super-linear (> SFx{SLACK}) == {list(slope_flags)}")
    # base-pass errors gate too: a query that crashes only at the small
    # SF has no slope ratio, so green output would otherwise hide both
    # the crash and any super-linear scaling for that query
    return 1 if (errors or base_errors or over or slope_flags) else 0


if __name__ == "__main__":
    sys.exit(main())
