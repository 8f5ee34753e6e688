"""Measurement probes that read the engine from outside.

- :class:`ProcTree` reads CPU time and resident memory of this process
  and all its descendants (the Spark JVM and its Python workers) from
  ``/proc``.  Python-worker CPU is not part of Spark's executor CPU time,
  so this is the only complete CPU count.
- :class:`RssSampler` samples the tree's resident memory in a thread.
- :class:`StatusStore` reads Spark's status store (jobs, stages, tasks
  and SQL plan metrics) after each job.
- :class:`Tracer` records spans around the benchmark's own calls into
  the engine and writes them out when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    rest = data[data.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(rest[21]) * _PAGE


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """This process and every descendant, found by walking /proc."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def members(self) -> dict[int, tuple[int, int]]:
        """pid -> (cpu ticks, rss bytes) for the root and descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _t, _r) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid][1:]
                todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(t for t, _r in self.members().values()) / _TICK

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]

    def rss_by_kind(self) -> dict[str, float]:
        """Resident MB of the JVM, of the Python workers and in total."""
        kinds = {"jvm": 0, "python": 0, "total": 0, "python_workers": 0}
        for pid, (_t, rss) in self.members().items():
            kinds["total"] += rss
            if pid == self.root:
                continue
            cmd = os.path.basename(_cmd(pid))
            if cmd.startswith("java"):
                kinds["jvm"] += rss
            elif cmd.startswith("python"):
                kinds["python"] += rss
                kinds["python_workers"] += 1
        return {
            "jvm": kinds["jvm"] / 2**20,
            "python": kinds["python"] / 2**20,
            "total": kinds["total"] / 2**20,
            "python_workers": kinds["python_workers"],
        }


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat:
    time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak resident memory of a process tree, sampled every ``period``
    seconds in a daemon thread between :meth:`start` and :meth:`stop`."""

    def __init__(self, tree: ProcTree, period: float = 0.2):
        self.tree = tree
        self.period = period
        self.peak = {"jvm": 0.0, "python": 0.0, "total": 0.0, "python_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            for k, v in self.tree.rss_by_kind().items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.period)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        return dict(self.peak)


# -- Spark status store --------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL metric as the status store prints it ('1,234', '3.1 MiB',
    'total (min, med, max ...)\\n1.2 s (...)') -> bytes, seconds or count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStore:
    """Jobs, stages, tasks and SQL node metrics of the jobs that ran
    since the last :meth:`mark`, read from Spark's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._jobs = 0
        self._execs = 0

    def _sync(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(60000)

    def mark(self) -> None:
        self._sync()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        self._jobs = max(ids, default=-1) + 1
        self._execs = self.sql.executionsList().size()

    def jobs(self) -> list:
        self._sync()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return [self.store.job(i) for i in sorted(ids) if i >= self._jobs]

    def job_failures(self) -> int:
        """Failed or killed tasks and failed jobs since the mark."""
        return sum(
            j.numFailedTasks() + j.numKilledTasks()
            + (j.status().toString() != "SUCCEEDED")
            for j in self.jobs()
        )

    def _clusters(self, sid: int) -> set[str]:
        names, todo = set(), [self.store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.add(re.sub(r"\s*\(\d+\)$", "", c.name()))
            it = c.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return names

    def stages(self) -> list[dict]:
        """Every completed stage attempt of the jobs since the mark."""
        empty = self.spark._jvm.java.util.ArrayList()
        sids = sorted({int(s) for j in self.jobs() for s in _iter(j.stageIds())})
        out = []
        for sid in sids:
            seq = self.store.stageData(sid, False, empty, False, None)
            for s in (seq.apply(i) for i in range(seq.size())):
                if s.status().toString() != "COMPLETE":
                    continue
                tl = self.store.taskList(sid, s.attemptId(), 1 << 20)
                tasks = [tl.apply(i) for i in range(tl.size())]
                sub, done = s.submissionTime(), s.completionTime()
                out.append({
                    "id": sid,
                    "clusters": self._clusters(sid),
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks() + s.numKilledTasks(),
                    "retried_tasks": sum(t.attempt() > 0 for t in tasks),
                    "task_s": [t.duration().get() / 1e3 for t in tasks
                               if t.duration().isDefined()],
                    "wall_s": (done.get().getTime() - sub.get().getTime()) / 1e3
                    if sub.isDefined() and done.isDefined() else 0.0,
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_write_records": s.shuffleWriteRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_read_records": s.shuffleReadRecords(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                })
        return out

    def nodes(self) -> list[dict]:
        """SQL plan nodes of the executions since the mark, with their
        metrics parsed to numbers."""
        self._sync()
        execs = self.sql.executionsList()
        out = []
        for i in range(self._execs, execs.size()):
            eid = execs.apply(i).executionId()
            vals = self.sql.executionMetrics(eid)
            it = self.sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                n = it.next()
                ms = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = metric_value(str(v.get()))
                out.append({"exec": eid, "name": n.name(), "desc": n.desc(),
                            "metrics": ms})
        return out


def _iter(seq):
    return (seq.apply(i) for i in range(seq.size()))


# -- spans ---------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into the engine.  Each span has
    a name, start, end, parent and the id of the job it belongs to; spans
    stay in memory until :meth:`write`."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job = 0

    def span(self, name: str):
        return _Span(self, name)

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """name -> duration minus the part its child spans cover (children
        of one span never overlap: the benchmark calls sequentially)."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(s["id"], 0.0)
            )
        return out

    def durations(self, job: int) -> dict[str, float]:
        out = {}
        for s in self.spans:
            if s["job"] == job:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "id": len(t.spans), "job": t.job, "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._stack.pop()
        return False


def median(values) -> float:
    """Median, 0.0 for no values (a layer that did not run)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
