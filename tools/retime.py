"""Isolated re-time of selected bench labels (VERDICT r11 task #2).

Runs the named bench.py HEADLINE labels in ONE fresh warmed session
through bench.time_query — bench.py's own per-query protocol
(best-of-$SPARK_GRAFT_BENCH_REPS, default 2, clearCache between
labels), minus the other 300 queries. This is the adjudication
instrument: when a driver BENCH_rN row regresses vs BENCH_r(N-1),
re-time the label here on both code versions (git stash for the A/B)
before calling it ambient. Pointed at a tools/scale_probe.py synth dir
it is also the synthetic-scale probe.

    python tools/retime.py [sf_dir] label1 label2 ...
    SPARK_GRAFT_BENCH_REPS=3 python tools/retime.py sf0.1 binseg hits

Prints one JSON line {label: best_sec, ...} plus per-rep stderr lines;
exits 1 if any label errored (the error is on stderr).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and (os.sep in args[0] or args[0].startswith("sf")):
        sf_dir = args.pop(0)
        if not os.sep in sf_dir:
            sf_dir = f"/root/testdata/{sf_dir}"
    if not args:
        print("usage: retime.py [sf_dir] label ...", file=sys.stderr)
        return 2

    import bench
    from mongo_cdc_spark.session import get_spark

    by_label = dict(bench.HEADLINE)
    unknown = [a for a in args if a not in by_label]
    if unknown:
        print(f"unknown labels: {unknown}", file=sys.stderr)
        return 2

    reps = bench.bench_reps()
    spark = get_spark("retime")
    bench._warm_session(spark, sf_dir)
    out: dict[str, float] = {}
    failed = False
    for name in args:
        secs, err = bench.time_query(spark, name, by_label[name], sf_dir, reps)
        if secs:
            out[name] = min(secs)
        failed = failed or err is not None
    print(json.dumps(out))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
