"""The benchmark's metric catalogue: names, units, and for each per-layer
metric the end-to-end metric (and workload) it should move.

``BENCHMARK.json`` lists the same names and units; the benchmark's tests
check that the two agree and that every per-layer metric has an entry in
``MOVES``.

Every workload reports every end-to-end metric:

* ``wall_ms``: median wall time of the workload's unit of work, which has
  a fixed size for a seed. ``relay_drain``: one drain of the whole
  backlog (so it is the inverse of the relay's throughput).
  ``cdc_apply``: one ``apply_batch_to_snapshot`` call. ``analytics_mix``:
  one pass over ``MIX_QUERIES``.
* ``setup_s``: JVM start, input generation and warm-up (the cold first
  drain, batches or pass, and the snapshot preload).

The result's ``detail`` line adds what follows from them or is checked
alongside: events per second, batches and passes measured, and
``failed_frac``.

Per-layer metrics come from the traced run (``--trace 1``). Every
workload prints all of them; a layer the workload does not reach reads 0,
which is the prediction for the workloads that bypass it.
"""

from __future__ import annotations

END_TO_END = {
    "wall_ms": "ms",
    "setup_s": "s",
}

MIX_QUERIES = ("q9_product_profit", "events_sessionization",
               "knn_bruteforce_cosine", "cdc_op_mix_stats")
_QUERY_METRICS = {"wall_ms": "ms", "planning_ms": "ms", "task_run_ms": "ms",
                  "shuffle_bytes": "bytes", "python_eval_ms": "ms",
                  "python_eval_nodes": "count"}

# name -> (unit, end-to-end metric it should move, workload it moves on)
MOVES: dict[str, tuple[str, str, str]] = {
    # session
    "setup.spark_start_s": ("s", "setup_s", "all"),
    "setup.input_gen_s": ("s", "setup_s", "all"),
    "setup.warm_s": ("s", "setup_s", "all"),
    "mem.jvm_peak_rss_mb": ("MiB", "setup_s", "all"),
    "mem.py_workers_peak_rss_mb": ("MiB", "setup_s", "all"),
    "trace.overhead_frac": ("frac", "wall_ms", "all"),
    # executor time over the traced window
    "spark.task_run_ms": ("ms", "wall_ms", "all"),
    "spark.task_cpu_ms": ("ms", "wall_ms", "all"),
    "spark.shuffle_bytes": ("bytes", "wall_ms", "cdc_apply"),
    # streaming trigger (cdc.pipeline micro-batches)
    "trigger.latest_offset_ms": ("ms", "wall_ms", "relay_drain"),
    "trigger.query_planning_ms": ("ms", "wall_ms", "relay_drain"),
    "trigger.commit_ms": ("ms", "wall_ms", "relay_drain"),
    "trigger.add_batch_ms": ("ms", "wall_ms", "relay_drain"),
    "trigger.batches": ("count", "wall_ms", "relay_drain"),
    "trigger.rows_per_batch": ("count", "wall_ms", "relay_drain"),
    # transform (cdc.transform, cdc.extjson) by prefix ablation
    "layer.scan_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.parse_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.route_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.key_udf_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.value_udf_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.sink_ms": ("ms", "wall_ms", "relay_drain"),
    "layer.unaccounted_frac": ("frac", "wall_ms", "relay_drain"),
    "udf.python_total_ms": ("ms", "wall_ms", "relay_drain"),
    "udf.python_boot_ms": ("ms", "wall_ms", "relay_drain"),
    "udf.python_init_ms": ("ms", "wall_ms", "relay_drain"),
    "udf.bytes_to_python": ("bytes", "wall_ms", "relay_drain"),
    "udf.bytes_from_python": ("bytes", "wall_ms", "relay_drain"),
    "plan.from_json_evals": ("count", "wall_ms", "relay_drain"),
    "plan.python_eval_nodes": ("count", "wall_ms", "relay_drain"),
    "drain.events_per_s_1core": ("1/s", "wall_ms", "relay_drain"),
    # snapshot apply (cdc.apply)
    "apply.reduce_ms": ("ms", "wall_ms", "cdc_apply"),
    "apply.rewrite_ms": ("ms", "wall_ms", "cdc_apply"),
    "apply.rows_rewritten_per_event": ("count", "wall_ms", "cdc_apply"),
    "apply.bytes_written": ("bytes", "wall_ms", "cdc_apply"),
    "apply.touched_buckets": ("count", "wall_ms", "cdc_apply"),
    "apply.snapshot_files": ("count", "wall_ms", "cdc_apply"),
    "apply.jobs_per_batch": ("count", "wall_ms", "cdc_apply"),
}
# operators, per query of the mix
for _q in MIX_QUERIES:
    for _m, _u in _QUERY_METRICS.items():
        MOVES[f"{_q}.{_m}"] = (_u, "wall_ms", "analytics_mix")
PER_LAYER = {name: unit for name, (unit, _, _) in MOVES.items()}


def result(metrics: dict[str, float], units: dict[str, str],
           attempted: int, failed: int, correct: bool) -> dict:
    """The result line: every metric of ``units``, with its unit."""
    if set(units) != set(metrics):
        raise KeyError(f"not measured: {sorted(set(units) - set(metrics))}; "
                       f"undeclared: {sorted(set(metrics) - set(units))}")
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}
