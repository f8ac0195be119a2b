"""Read Spark's own statistics after each action, through py4j.

Jobs and stages come from the application status store
(``SparkContext.statusStore``), per-plan-node metrics from the SQL status
store (``SharedState.statusStore``). Both are filled by listeners even with
``spark.ui.enabled=false``. The listener bus is asynchronous, so every read
first waits for it to drain.
"""

from __future__ import annotations

import re

_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """Numeric value of a SQL metric as the status store renders it:
    ``"1,234"``, ``"12.3 MiB"``, or ``"total (min, med, max ...)\\n1.2 s
    (...)"``. Sizes come back in bytes, times in seconds."""
    if text is None:
        return None
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if m is None:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def _is_busy_time(name: str) -> bool:
    """Time metrics that count a node's own work. Python-worker start and
    initialisation times are left out: they overlap the run time and
    read several times the action's wall time."""
    if "Python workers" in name:
        return name == "time to run Python workers"
    return "time" in name or name == "duration"


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    """Incremental reader: each ``collect()`` returns the jobs and SQL
    executions that finished since the previous call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._drain()
        self._last_job = max((j.jobId() for j in _iter(self._app.jobsList(None))),
                             default=-1)
        self._last_exec = max(
            (e.executionId() for e in _iter(self._sql.executionsList())),
            default=-1,
        )
        self._seen_stages: set[int] = set()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self._app.lastStageAttempt(sid)
        except Exception:  # py4j error: a stage skipped before it ever ran
            return None
        return {
            "stage": sid,
            "tasks": st.numTasks(),
            "failed_tasks": st.numFailedTasks(),
            "task_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }

    def _jobs(self) -> list[dict]:
        jobs = []
        for j in _iter(self._app.jobsList(None)):
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            stages = []
            for sid in _iter(j.stageIds()):
                if sid in self._seen_stages:
                    continue
                st = self._stage(sid)
                if st is not None:
                    self._seen_stages.add(sid)
                    stages.append(st)
            sub, done = j.submissionTime(), j.completionTime()
            jobs.append({
                "job": jid,
                "name": j.name(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "tasks": sum(s["tasks"] for s in stages),
                "stages": stages,
            })
        if jobs:
            self._last_job = max(j["job"] for j in jobs)
        return sorted(jobs, key=lambda j: j["job"])

    def _executions(self) -> list[dict]:
        out = []
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            values = {}
            for kv in _iter(self._sql.executionMetrics(eid)):
                values[kv._1()] = kv._2()
            nodes = []
            for n in _iter(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _iter(n.metrics()):
                    v = parse_metric(values.get(m.accumulatorId()))
                    if v is not None:
                        metrics[m.name()] = v
                nodes.append({
                    "name": n.name(), "desc": n.desc()[:2000],
                    "metrics": metrics,
                    "time_s": sum(v for k, v in metrics.items()
                                  if _is_busy_time(k)),
                })
            out.append({"execution": eid, "description": e.description()[:200],
                        "start": e.submissionTime() / 1e3, "nodes": nodes})
        if out:
            self._last_exec = max(x["execution"] for x in out)
        return out

    def collect(self) -> dict:
        self._drain()
        return {"jobs": self._jobs(), "executions": self._executions()}


def node_total(executions, metric: str, name_has: str = "",
               desc_has: str = "") -> float:
    """Sum of ``metric`` over the plan nodes whose name contains
    ``name_has`` and whose description contains ``desc_has``."""
    return sum(
        n["metrics"].get(metric, 0.0)
        for e in executions
        for n in e["nodes"]
        if name_has in n["name"] and desc_has in n["desc"]
    )


def top_nodes(executions, k: int = 3) -> list[tuple[str, float]]:
    """The ``k`` plan nodes with the most time (summed over their
    time-valued metrics), as ``(name, seconds)``."""
    by_name: dict[str, float] = {}
    for e in executions:
        for n in e["nodes"]:
            # a codegen stage's duration covers the nodes fused into it
            if n["time_s"] > 0 and not n["name"].startswith("WholeStageCodegen"):
                by_name[n["name"]] = by_name.get(n["name"], 0.0) + n["time_s"]
    return sorted(by_name.items(), key=lambda kv: -kv[1])[:k]


def stage_total(jobs, key: str) -> float:
    return sum(s[key] for j in jobs for s in j["stages"])
