"""Session, timing and tracing helpers shared by the workloads.

Tracing reads what Spark already records, around the benchmark's calls
into the program: stage metrics from the status store, SQL metrics and
planning phases of a ``QueryExecution``, and ``recentProgress`` from a
streaming query. The workloads read them only in the traced run
(``--trace 1``) and keep them in memory until the result line is
printed.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas",
                     "FlatMapCoGroupsInPandas", "AggregateInPandas",
                     "WindowInPandas")


def median(xs) -> float:
    return float(statistics.median(list(xs)))


class Session:
    """One SparkSession for the whole run, started through the program's
    ``session.get_spark`` with the benchmark's core count and heap."""

    def __init__(self, cpus: int, driver_mem: str, app: str):
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
        from mongo_cdc_spark.session import get_spark
        t0 = time.perf_counter()
        # console progress bars would interleave with the result line
        self.spark = get_spark(app, extra_conf={
            "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self._proc = self.sc._gateway.proc

    @property
    def jvm_pid(self) -> int:
        return self._proc.pid

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        self.spark.stop()
        gw = self.sc._gateway
        gw.shutdown()
        if self._proc.stdin is not None:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)

    # ---- stage metrics --------------------------------------------------

    def _stages(self):
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        lst = store.stageList(None, False, False,
                              gw.new_array(gw.jvm.double, 0), None)
        return [lst.apply(i) for i in range(lst.size())]

    def last_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def stage_totals(self, after: int = -1,
                     stage_ids: set[int] | None = None) -> dict[str, float]:
        """Summed executor run/CPU time and shuffle bytes over the stages
        with id > ``after`` (and in ``stage_ids``, if given)."""
        tot = {"task_run_ms": 0.0, "task_cpu_ms": 0.0, "shuffle_bytes": 0}
        for s in self._stages():
            sid = s.stageId()
            if sid <= after or (stage_ids is not None
                                and sid not in stage_ids):
                continue
            tot["task_run_ms"] += s.executorRunTime()
            tot["task_cpu_ms"] += s.executorCpuTime() / 1e6
            tot["shuffle_bytes"] += s.shuffleWriteBytes()
        return tot

    def group_jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_stages(self, group: str) -> set[int]:
        st, ids = self.sc.statusTracker(), set()
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return ids

    # ---- memory ---------------------------------------------------------

    def peak_rss_mb(self) -> tuple[float, float]:
        """(JVM VmHWM, summed VmHWM of the JVM's Python worker
        descendants), in MiB."""
        children: dict[int, list[int]] = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d.name))
        todo, workers = list(children.get(self.jvm_pid, [])), []
        while todo:
            p = todo.pop()
            workers.append(p)
            todo.extend(children.get(p, []))
        return (_hwm_mb(self.jvm_pid),
                sum(_hwm_mb(p) for p in workers))


def _hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ---- plans -------------------------------------------------------------


def plan_nodes(plan):
    """Every node of an executed physical plan, looking through adaptive
    plans and their query stages (a reused exchange is not entered: its
    work is counted where it ran)."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        out.append(p)
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(p.plan())
            continue
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def node_metrics(node) -> dict[str, float]:
    m, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m[kv._1()] = kv._2().value()
    return m


def plan_profile(qe) -> dict[str, float]:
    """Python eval time and bytes, node counts and planning time of one
    executed ``QueryExecution``."""
    plan = qe.executedPlan()
    nodes = plan_nodes(plan)
    prof = {"python_eval_nodes": 0, "python_total_ms": 0.0,
            "python_boot_ms": 0.0, "python_init_ms": 0.0,
            "bytes_to_python": 0, "bytes_from_python": 0,
            "from_json_evals": sum(
                n.verboseStringWithOperatorId().count("from_json(")
                for n in nodes
                if not n.nodeName().startswith("AdaptiveSparkPlan"))}
    for n in nodes:
        if any(n.nodeName().startswith(p) for p in PYTHON_EVAL_NODES):
            m = node_metrics(n)
            prof["python_eval_nodes"] += 1
            prof["python_total_ms"] += m.get("pythonTotalTime", 0)
            prof["python_boot_ms"] += m.get("pythonBootTime", 0)
            prof["python_init_ms"] += m.get("pythonInitTime", 0)
            prof["bytes_to_python"] += m.get("pythonDataSent", 0)
            prof["bytes_from_python"] += m.get("pythonDataReceived", 0)
    phases, it = 0, qe.tracker().phases().iterator()
    while it.hasNext():
        phases += it.next()._2().durationMs()
    prof["planning_ms"] = float(phases)
    return prof


def execute(df):
    """Run a batch DataFrame to completion without collecting it; return
    its ``QueryExecution`` so the executed plan can be inspected."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe


@contextmanager
def job_group(sc, name: str):
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class Timer:
    """Wall-clock spans: ``with t.span(name): ...`` adds the duration in
    seconds to ``t.total(name)``."""

    def __init__(self):
        self._totals: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._totals[name] = (self._totals.get(name, 0.0)
                                  + time.perf_counter() - t0)

    def total(self, name: str) -> float:
        return self._totals.get(name, 0.0)
