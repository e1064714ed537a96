"""Read-only probes of the running system, from outside the package:
CPU time of the whole process tree from /proc, Spark's status stores
(jobs, stages, SQL plan metrics) and streaming progress records.
"""

from __future__ import annotations

import json
import os

_CLK = os.sysconf("SC_CLK_TCK")

#: SQL plan metric names of a Python exec node (MapInPandas) -> layer name.
#: While workers are reused, "time to initialize" grows by about the
#: time between ops (measured), so it reads as the worker's age.
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.exec_ms",
    "data sent to Python workers": "python.bytes_to",
    "data returned from Python workers": "python.bytes_from",
}

STREAM_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution",
)


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, CPU ticks of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # exited while the tree was being read
        return None
    # fields after the command: state ppid ... utime(12) stime cutime cstime
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _procs() -> dict[int, tuple[int, int]]:
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (s := _stat(pid)) is not None:
            out[int(pid)] = s
    return out


def _subtree(procs: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds used so far by this process and every descendant: the
    driver Python, the JVM and the Python workers. A worker that exits
    is counted through its parent's reaped-children time, so the total
    only grows."""
    procs = _procs()
    return sum(procs[p][1] for p in _subtree(procs, os.getpid()) if p in procs) / _CLK


def descendants() -> list[int]:
    return _subtree(_procs(), os.getpid())[1:]


class StatusStore:
    """Snapshots and deltas of Spark's own status stores (they stay
    populated with the UI off). One JSON round trip per list read."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._accums = jvm.org.apache.spark.util.AccumulatorContext

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) so far."""
        jobs = self._app.jobsList(None)  # newest first
        execs = self._sql.executionsList()  # oldest first
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def _jobs_after(self, first_job: int) -> list[dict]:
        jobs, out = self._app.jobsList(None), []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= first_job:
                break
            out.append(self._json(job))
        return out

    def since(self, snap: tuple[int, int]) -> dict[str, float]:
        """Scheduler, executor, shuffle and Python-node numbers of every
        job and SQL execution started after `snap`."""
        first_job, first_exec = snap
        jobs = self._jobs_after(first_job)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
             "shuffle.read_bytes", "shuffle.write_bytes", "spill_bytes",
             "output_bytes", "input_records"), 0.0)
        out["jobs"] = float(len(jobs))
        for sid in {s for j in jobs for s in j["stageIds"]}:
            st = self._json(self._app.lastStageAttempt(sid))
            if st["status"] != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"]
            out["exec.run_s"] += st["executorRunTime"] / 1e3
            out["exec.cpu_s"] += st["executorCpuTime"] / 1e9
            out["exec.gc_s"] += st["jvmGcTime"] / 1e3
            out["shuffle.read_bytes"] += st["shuffleReadBytes"]
            out["shuffle.write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["diskBytesSpilled"]
            out["output_bytes"] += st["outputBytes"]
            out["input_records"] += st["inputRecords"]
        out.update(self._python_nodes(first_exec))
        return out

    def _python_nodes(self, first_exec: int) -> dict[str, float]:
        """Python-boundary metrics of the Python exec node run after
        `first_exec`, read as raw accumulator values (the stored strings
        are rounded). Chained nodes overlap in time, so with several
        nodes the busiest one is reported, never a sum."""
        execs = self._sql.executionsList()
        best: dict[str, float] = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for i in reversed(range(execs.size())):  # ordered by execution id
            e = execs.apply(i)
            if e.executionId() <= first_exec:
                break
            node: dict[str, float] = {}
            for m in self._json(e.metrics()):
                name = PYTHON_METRICS.get(m["name"])
                acc = self._accums.get(m["accumulatorId"]) if name else None
                if acc is not None and acc.isDefined():
                    node[name] = float(acc.get().value())
            if node.get("python.exec_ms", -1) > best["python.exec_ms"]:
                best.update(node)
        return best


def progress(query) -> dict[str, float]:
    """Trigger phase durations (ms) summed over the query's progress
    records."""
    out = dict.fromkeys((f"stream.{p}_ms" for p in STREAM_PHASES), 0.0)
    for p in query.recentProgress:
        for k, v in (p.durationMs or {}).items():
            if k in STREAM_PHASES:
                out[f"stream.{k}_ms"] += float(v)
    return out
