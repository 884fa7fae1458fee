"""Spark's own job, stage and SQL metrics for one op, read over py4j.

Stages come from ``AppStatusStore.lastStageAttempt`` and Python-worker
metrics from the SQL status store; both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import statistics
from typing import Dict, List

from py4j.protocol import Py4JJavaError

MB = 1e6
_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_MEGABYTES = {"B": 1 / MB, "KiB": 2**10 / MB, "MiB": 2**20 / MB, "GiB": 2**30 / MB, "TiB": 2**40 / MB}
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "in_mb",
    "data returned from Python workers": "out_mb",
}


def drain_listener_bus(spark) -> None:
    """Wait until the status stores have seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _epoch_s(option) -> float:
    return option.get().getTime() / 1e3 if option.isDefined() else float("nan")


def _stage(store, sd) -> dict:
    tasks = store.taskList(sd.stageId(), sd.attemptId(), 1 << 20)
    durations, peaks = [], []
    for k in range(tasks.size()):
        t = tasks.apply(k)
        if t.duration().isDefined():
            durations.append(t.duration().get() / 1e3)
        if t.taskMetrics().isDefined():
            peaks.append(t.taskMetrics().get().peakExecutionMemory() / MB)
    return {
        "id": sd.stageId(),
        "start": _epoch_s(sd.submissionTime()),
        "end": _epoch_s(sd.completionTime()),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
        "shuffle_write_records": sd.shuffleWriteRecords(),
        "shuffle_write_s": sd.shuffleWriteTime() / 1e9,
        "shuffle_read_mb": sd.shuffleReadBytes() / MB,
        "shuffle_read_records": sd.shuffleReadRecords(),
        "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
        "spill_mb": sd.diskBytesSpilled() / MB,
        "peak_exec_mb": max(peaks, default=0.0),
        "task_skew": max(durations) / statistics.median(durations) if durations and min(durations) > 0 else 1.0,
    }


def _seq(seq) -> list:
    return [seq.apply(k) for k in range(seq.size())]


def group_jobs(spark, group: str) -> List[dict]:
    """Every job of one job group, with its completed stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        stages = []
        for sid in _seq(jd.stageIds()):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted
                continue
            if sd.status().toString() == "COMPLETE":
                stages.append(_stage(store, sd))
        jobs.append({
            "id": jid,
            "start": _epoch_s(jd.submissionTime()),
            "end": _epoch_s(jd.completionTime()),
            "stages": stages,
        })
    return jobs


def parse_metric(text: str) -> float:
    """A SQL metric string -- ``"1.7 s"``, ``"23.7 MiB"`` or the multi-task
    form ``"total (min, med, max ...)\\n1.7 s (...)"`` -- in seconds or MB."""
    value, unit = text.splitlines()[-1].split(" (")[0].replace(",", "").split()
    scale = _SECONDS.get(unit) or _MEGABYTES.get(unit)
    if scale is None:
        raise ValueError(f"unknown metric unit in {text!r}")
    return float(value) * scale


def python_nodes(spark, job_ids: List[int]) -> List[dict]:
    """The Python plan nodes of every SQL execution that ran one of
    ``job_ids``, with their worker metrics and ``exchanges``: how many
    Exchange nodes lie between the node and the plan root."""
    ss = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(ss.executionsList()):
        if not any(ex.jobs().contains(j) for j in job_ids):
            continue
        eid = ex.executionId()
        graph = ss.planGraph(eid)
        values = ss.executionMetrics(eid)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        parent = {e.fromId(): e.toId() for e in _seq(graph.edges())}
        for nid, node in nodes.items():
            metrics: Dict[str, float] = {}
            for m in _seq(node.metrics()):
                key = PYTHON_METRICS.get(m.name())
                value = values.get(m.accumulatorId())
                if key:
                    metrics[key] = parse_metric(value.get()) if value.isDefined() else 0.0
            if "run_s" not in metrics:
                continue
            exchanges, up = 0, parent.get(nid)
            while up is not None:
                exchanges += nodes[up].name() == "Exchange"
                up = parent.get(up)
            out.append({"execution": eid, "name": node.name(), "exchanges": exchanges, **metrics})
    return out
