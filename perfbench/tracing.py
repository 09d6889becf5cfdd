"""Per-layer measurement from outside the engine.

Nothing here changes what a query does. The numbers come from three
places Spark already keeps:

- the application status store (jobs, stages, task metrics) and the SQL
  status store (SQL metrics of Python-worker nodes), which exist with the
  UI disabled;
- the QueryExecution phase tracker (analysis, optimization, planning),
  read by a QueryExecutionListener;
- StreamingQueryProgress events, read by a StreamingQueryListener.

Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import re
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener



class Tracer:
    """In-memory span tree. Times are epoch seconds, so spans taken from
    Spark's own records (stages, micro-batches) line up with ours."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, qid=None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start,
             "end": end, "qid": qid, **attrs}
        )
        return sid

    def open(self, name, parent=None, qid=None, **attrs) -> int:
        return self.add(name, time.time(), None, parent, qid, **attrs)

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - union_seconds(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def write(self, path: str) -> None:
        st = self.self_times()
        by_name: dict[str, float] = {}
        for s in self.spans:
            s["self_s"] = st[s["id"]]
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["id"]]
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s_by_name": by_name}, f)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class PhaseListener:
    """QueryExecutionListener (implemented over py4j): records, for each
    query execution that ends while it is registered, when its Catalyst
    phases started and how long they took in total."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self.records: list[tuple[float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = qe.tracker().phases()
        spans = []
        for name in self.PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                p = opt.get()
                spans.append((p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))
        if spans:
            self.records.append(
                (min(a for a, _ in spans), sum(b - a for a, b in spans))
            )

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress event while it is registered."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        d = dict(p.durationMs)
        self.batches.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "start": _iso_epoch(p.timestamp),
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)
                             + d.get("commitBatch", 0)) / 1e3,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StatusReader:
    """Reads what the status stores recorded since the previous call."""

    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = self._first_missing(self._job, 0)
        self.next_exec = self._first_missing(self._execution, 0)

    def drain(self) -> None:
        """Wait until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, jid):
        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def _execution(self, eid):
        opt = self._sql.execution(eid)
        return opt.get() if opt.isDefined() else None

    @staticmethod
    def _first_missing(get, start: int) -> int:
        i = start
        while get(i) is not None:
            i += 1
        return i

    def new_work(self) -> dict:
        """Jobs, stages and Python-worker SQL metrics recorded since the
        previous call."""
        self.drain()
        jobs, stages = [], []
        while (job := self._job(self.next_job)) is not None:
            jobs.append(self.next_job)
            self.next_job += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                stages.append(self._stage(ids.apply(i)))
        py = {"rows": 0.0, "sent": 0.0, "recv": 0.0}
        while self._execution(self.next_exec) is not None:
            self._python_metrics(self.next_exec, py)
            self.next_exec += 1
        return {"jobs": jobs, "stages": stages, "python": py}

    def _stage(self, sid) -> dict:
        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return {"id": sid, "skipped": True}
        if s.status().toString() == "SKIPPED":
            return {"id": sid, "skipped": True}
        sub, done = s.submissionTime(), s.completionTime()
        return {
            "id": sid,
            "skipped": False,
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": done.get().getTime() / 1e3 if done.isDefined() else None,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "in_rows": s.inputRecords(),
            "in_bytes": s.inputBytes(),
            "out_rows": s.outputRecords(),
            "out_bytes": s.outputBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled(),
        }

    def _python_metrics(self, eid, acc: dict) -> None:
        graph = self._sql.planGraph(eid)
        nodes = graph.allNodes()
        wanted = {}
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            names = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                names[m.name()] = m.accumulatorId()
            if self.PY_SENT in names:
                wanted[names[self.PY_SENT]] = "sent"
                wanted[names.get(self.PY_RECV)] = "recv"
                wanted[names.get("number of output rows")] = "rows"
        if not wanted:
            return
        values = self._sql.executionMetrics(eid).toSeq()
        for i in range(values.size()):
            kv = values.apply(i)
            field = wanted.get(kv._1())
            if field:
                acc[field] += _metric_value(kv._2())


_METRIC = re.compile(r"([\d,]+(?:\.\d+)?)\s*([KMGTP]?i?B)?")
_UNIT = {None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
         "TiB": 2**40, "PiB": 2**50}


def _metric_value(text: str) -> float:
    """A SQL metric's display string as a number (bytes for sizes). Size
    metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    m = _METRIC.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


def _tree_pids(pid: int) -> list[int]:
    """`pid` and its live descendants (the JVM and its Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def tree_peak_rss_mb() -> float:
    """Summed peak resident set (VmHWM) of this process tree."""
    total = 0.0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process tree.
    Time the hypervisor steals from the VM is not counted."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += int(fields[11]) + int(fields[12])
    return total / ticks
