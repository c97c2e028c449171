"""bench.time_query: the one timed noop-write loop bench.py,
tools/retime.py and tools/scale_sweep.py share."""

from __future__ import annotations

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
