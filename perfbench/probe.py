"""Measurement from outside the program: process-tree CPU and RSS from
/proc, and per-job-group Spark metrics from the Spark driver's status store."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage() -> tuple[float, float]:
    """(CPU seconds, RSS MB) of this process and all its descendants:
    the Python driver, its JVM and the Python workers. CPU includes reaped children
    (cutime/cstime), so it never goes backwards."""
    cpu = rss = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        cpu += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        rss += pages
    return cpu / _TICK, rss * _PAGE / 2**20


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_metric(text: str) -> float:
    """Bytes from the SQL store's rendering, e.g.
    'total (min, med, max ...)\\n463.0 KiB (113.7 KiB, ...)'."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value) * _UNITS[unit]


class StatusReader:
    """Sums the completed stages of every job in a Spark job group."""

    STAGE_FIELDS = (
        "executorCpuTime",
        "inputRecords",
        "outputBytes",
        "shuffleWriteBytes",
        "diskBytesSpilled",
        "jvmGcTime",
    )
    PYTHON_METRICS = {
        "data sent to Python workers": "python_bytes_sent",
        "data returned from Python workers": "python_bytes_received",
    }

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = -1
        self._exec_jobs: dict[int, set[int]] = {}

    def group(self, name: str, python: bool = False) -> dict:
        """Totals over the group's completed stages; with ``python``, also
        the bytes its SQL executions sent to and got from Python workers."""
        job_ids = set(self._sc.statusTracker().getJobIdsForGroup(name))
        out = dict.fromkeys(self.STAGE_FIELDS, 0)
        out.update(jobs=len(job_ids), task_failures=0)
        stage_ids = set()
        for j in job_ids:
            jd = self._store.job(j)
            out["task_failures"] += jd.numFailedTasks()
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for s in stage_ids:
            d = self._store.lastStageAttempt(s)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its work is counted where it ran
            for f in self.STAGE_FIELDS:
                out[f] += getattr(d, f)()
        if python:
            out.update(self._python_bytes(job_ids))
        return out

    def _python_bytes(self, job_ids: set[int]) -> dict:
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > self._exec_seen:
                jobs = e.jobs().keySet().iterator()
                ids = set()
                while jobs.hasNext():
                    ids.add(int(jobs.next()))
                self._exec_jobs[e.executionId()] = ids
        self._exec_seen = max(self._exec_jobs, default=-1)
        out = dict.fromkeys(self.PYTHON_METRICS.values(), 0.0)
        for eid, ids in self._exec_jobs.items():
            if not ids or not ids <= job_ids:
                continue
            values = self._sql.executionMetrics(eid)
            seen = set()
            metrics = self._sql.execution(eid).get().metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = self.PYTHON_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _size_metric(v.get())
        return out
