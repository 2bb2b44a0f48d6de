"""Counters read from outside the engine, at the boundaries of its layers.

Everything here reads public Spark state (status tracker, status store,
QueryExecution, SQL metrics, storage info) or ``/proc``; nothing calls
into the engine's own modules.
"""

from __future__ import annotations

import os

MB = 1e6

# SQL metrics summed over an executed plan: those of the Python exec
# nodes (MapInPandas, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, ...)
# and the file scans' "size of files read".
PLAN_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonDataSent": "python.sent_mb",
    "pythonDataReceived": "python.received_mb",
    "filesSize": "sources.input_mb",
}


def proc_status_kb(pid: int | str, field: str) -> int:
    """One ``kB`` field of /proc/<pid>/status (e.g. VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(f"{field} not in /proc/{pid}/status")


def proc_write_bytes(pid: int | str) -> int:
    """Bytes the process caused to be sent to the storage layer."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    raise KeyError(f"write_bytes not in /proc/{pid}/io")


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Wait until the status store has seen every posted event, so job,
    stage and storage reads made right after an action are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group) or [])


def stage_totals(spark, job_ids: list[int]) -> dict:
    """Jobs, stages, tasks and task metrics of the given jobs.

    Stages that were skipped (their shuffle output was reused) are not
    counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
         "spill_mb", "failed_tasks", "output_mb"),
        0,
    )
    out["jobs"] = len(job_ids)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage never submitted (skipped)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += sd.diskBytesSpilled() / MB
        out["output_mb"] += sd.outputBytes() / MB
    return out


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time of the frame's own
    QueryExecution (read after the action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name, metric in (("analysis", "analysis_s"), ("optimization", "optimization_s"),
                         ("planning", "planning_s")):
        out[metric] = phases.apply(name).durationMs() / 1e3 if phases.contains(name) else 0.0
    return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _plan_nodes(plan):
    """Every physical node of an executed plan: through adaptive plans,
    query stages, reused exchanges and subqueries, each node once."""
    seen: set[int] = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        ident = node.id()
        if ident in seen:
            continue
        seen.add(ident)
        yield node
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def plan_metrics(df) -> dict:
    """PLAN_METRICS summed over the nodes of the frame's executed plan."""
    out = dict.fromkeys(PLAN_METRICS.values(), 0.0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics = node.metrics()
        for jname, name in PLAN_METRICS.items():
            if not metrics.contains(jname):
                continue
            m = metrics.apply(jname)
            kind = m.metricType()
            scale = {"nsTiming": 1e9, "timing": 1e3, "size": MB}.get(kind, 1.0)
            out[name] += m.value() / scale
    return out


def storage(spark) -> dict:
    """Cached or checkpointed RDDs still holding blocks, and their size."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    rdds, size = 0, 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            rdds += 1
            size += info.memSize() + info.diskSize()
    return {"rdds": rdds, "mb": size / MB}


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def written_files(tmp_dir: str, warehouse_dir: str) -> int:
    """Files under the engine's temp roots and the session warehouse."""
    roots = [os.path.join(tmp_dir, n) for n in temp_roots(tmp_dir)] + [warehouse_dir]
    return sum(len(files) for root in roots for _dir, _subdirs, files in os.walk(root))


def temp_roots(tmp_dir: str) -> list[str]:
    """Engine temp roots (``cps_*``) present under the run's temp dir."""
    try:
        return sorted(n for n in os.listdir(tmp_dir) if n.startswith("cps_"))
    except FileNotFoundError:
        return []
