"""bench.time_query: the one timed noop-write loop bench.py,
tools/retime.py and tools/scale_sweep.py share."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import bench


def test_time_query_isolates_errors_and_times_every_rep(spark, sf_dir):
    """A query that fails (while building its plan, or inside a Spark
    job) is returned as an error, not raised; the next query is still
    timed on the same session, once per rep."""
    from pyspark.sql import functions as F

    def build_fails(spark, sf_dir):
        raise RuntimeError("no plan")

    def job_fails(spark, sf_dir):
        return spark.range(4).select(F.raise_error(F.lit("bad row")))

    def ok(spark, sf_dir):
        return spark.range(100).selectExpr("sum(id)")

    secs, err = bench.time_query(spark, "build_fails", build_fails,
                                 sf_dir, 2)
    assert secs == [] and err == "RuntimeError: no plan"
    secs, err = bench.time_query(spark, "job_fails", job_fails, sf_dir, 2)
    assert secs == [] and "bad row" in err
    secs, err = bench.time_query(spark, "ok", ok, sf_dir, 3)
    assert err is None and len(secs) == 3
    assert all(s >= 0 for s in secs)


def test_retime_runs_a_python_udf_query_from_outside_the_checkout(
        sf_dir, tmp_path):
    """The JVM-spawned Python workers import the engine by name; run
    from another directory with no PYTHONPATH, a tool's Arrow-UDF query
    must still find the package (get_spark puts it on the workers'
    path)."""
    repo = Path(bench.__file__).resolve().parent
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_BENCH_REPS="1")
    done = subprocess.run(
        [sys.executable, str(repo / "tools" / "retime.py"), sf_dir,
         "knn_sq8_search"],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "knn_sq8_search" in done.stdout.splitlines()[-1]
