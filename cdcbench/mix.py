"""The ``analytics_mix`` workload: passes over a fixed list of registry
queries (``metrics.MIX_QUERIES``) on seeded fixture tables. The cold
pass in setup collects each query's result; after the timed passes, each
is checked against its DuckDB oracle."""

from __future__ import annotations

import sys
import time
from pathlib import Path

from cdcbench import gen
from cdcbench.harness import execute, job_group, median, plan_profile
from cdcbench.metrics import MIX_QUERIES

MIX_SF = 0.01
WARM_PASSES = 1          # after the cold pass, while the JIT ramps
MIN_PASSES = 3


def oracle_failures(tables: Path, results: dict, oracles: dict) -> int:
    """Queries whose result (a pandas frame) differs from the DuckDB
    oracle (row count, columns or the order-insensitive value hash), or
    is empty."""
    import duckdb

    from mongo_cdc_spark.io import TABLES
    from tools.oracle_check import value_hash
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory='{tables.parent / 'duckdb'}'")
        con.sql("SET memory_limit='2GB'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS FROM '{tables}/{t}.parquet'")
        bad = 0
        for name in MIX_QUERIES:
            sdf = results[name]
            odf = con.sql(oracles[name]).df()
            if (len(sdf) == 0 or len(sdf) != len(odf)
                    or sorted(sdf.columns) != sorted(odf.columns)
                    or value_hash(sdf) != value_hash(odf)):
                print(f"oracle mismatch: {name} ({len(sdf)} vs "
                      f"{len(odf)} rows)", file=sys.stderr)
                bad += 1
        return bad
    finally:
        con.close()


def analytics_mix(ctx) -> dict:
    import __spark_entry__ as entry
    s, spark = ctx.session, ctx.session.spark
    tables = ctx.work / "tables"
    with ctx.setup.span("input_gen"):
        gen.write_tables(tables, ctx.seed, MIX_SF)
    queries, oracles = entry.queries(), entry.oracle_sql()

    def one_pass(traced: bool, tag: str = ""):
        """Wall seconds per query, and per-query profiles if traced."""
        walls, prof = {}, {}
        for name in MIX_QUERIES:
            spark.catalog.clearCache()
            group = f"{name}-traced{tag}" if traced else name
            t0 = time.perf_counter()
            with job_group(s.sc, group):
                qe = execute(queries[name](spark, str(tables)))
            walls[name] = time.perf_counter() - t0
            if traced:
                p = plan_profile(qe)
                tot = s.stage_totals(stage_ids=s.group_stages(group))
                prof[name] = {"wall_ms": 1e3 * walls[name],
                              "planning_ms": p["planning_ms"],
                              "task_run_ms": tot["task_run_ms"],
                              "shuffle_bytes": tot["shuffle_bytes"],
                              "python_eval_ms": p["python_total_ms"],
                              "python_eval_nodes": p["python_eval_nodes"]}
        return walls, prof

    with ctx.setup.span("warm"):
        results = {}
        for name in MIX_QUERIES:
            spark.catalog.clearCache()
            results[name] = queries[name](spark, str(tables)).toPandas()
        for _ in range(WARM_PASSES):
            one_pass(traced=False)
    ctx.setup_done()

    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        passes.append(sum(one_pass(traced=False)[0].values()))
    pass_s = median(passes)
    ctx.detail(passes=len(passes), mix_s=pass_s, sf=MIX_SF)
    if ctx.trace:
        # passes without, with, with and without tracing, so a JIT ramp
        # still under way affects both alike; the per-query profiles are
        # the last traced pass's
        first = s.last_stage_id()
        plain, traced, prof = [], [], {}
        for i in range(4):
            walls, p = one_pass(traced=i in (1, 2), tag=str(i))
            (traced if i in (1, 2) else plain).append(sum(walls.values()))
            prof = p or prof
        layer = {f"{q}.{k}": v for q, m in prof.items() for k, v in m.items()}
        layer.update({f"spark.{k}": v
                      for k, v in s.stage_totals(after=first).items()})
        layer["trace.overhead_frac"] = median(traced) / median(plain) - 1
        ctx.layer(layer)
    ctx.checked(oracle_failures(tables, results, oracles), len(MIX_QUERIES))
    return {"wall_ms": 1e3 * pass_s}
