"""Outside-in measurement of a running Spark application: spans recorded
around calls into the package, the job list and SQL node metrics read from
Spark's status stores (no UI or REST needed), and CPU and memory of the
process tree read from ``/proc``."""

from __future__ import annotations

import contextlib
import functools
import os
import time

from core import descendants, parse_proc_stat

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> list[dict]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out.append(parse_proc_stat(f.read()))
            except (FileNotFoundError, ProcessLookupError):
                pass  # the process ended between listdir and open
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants: the
    driver Python, the JVM and the Python workers. Reaped children are
    included through their parent's cutime/cstime."""
    stats = _proc_stats()
    tree = descendants(stats, os.getpid())
    return sum(s["ticks"] for s in stats if s["pid"] in tree) / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over this live process tree of each process's peak RSS (VmHWM)."""
    tree = descendants(_proc_stats(), os.getpid())
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024


class Tracer:
    """Spans kept in memory: name, start, end and parent, in wall-clock
    seconds so they line up with Spark's job timestamps."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
              "parent": self._stack[-1] if self._stack else None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def wrap(self, module, attr: str, name: str, captured: list | None = None):
        """Record a span around every call of ``module.attr`` made through
        the module's global name, until ``unwrap``; keep the last return
        value as ``captured[0]``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if captured is not None:
                captured[:] = [result]
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)


class StatusReader:
    """Jobs and SQL executions of one SparkSession, read through the JVM
    status stores and converted to plain dicts."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self._gc = spark._jvm.java.lang.management.ManagementFactory

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until listeners have seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def gc_s(self) -> float:
        beans = self._gc.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3

    def jobs_since(self, first_id: int) -> list[dict]:
        out = []
        for j in self._list(self._app.jobsList(None)):
            if j.jobId() < first_id:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "id": j.jobId(),
                "name": j.name(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": j.numCompletedStages(),
                "failed_tasks": j.numFailedTasks(),
            })
        return sorted(out, key=lambda j: j["id"])

    def next_job_id(self) -> int:
        ids = [j.jobId() for j in self._list(self._app.jobsList(None))]
        return max(ids) + 1 if ids else 0

    def executions_since(self, first_id: int) -> list[dict]:
        out = []
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            if eid < first_id:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            nodes = []
            for n in self._list(self._sql.planGraph(eid).allNodes()):
                nodes.append({
                    "name": n.name(),
                    "desc": n.desc(),
                    "metrics": {
                        m.name(): values.get(m.accumulatorId())
                        for m in self._list(n.metrics())
                    },
                })
            out.append({
                "id": eid,
                "description": e.description(),
                "start": e.submissionTime() / 1e3,
                "nodes": nodes,
            })
        return out

    def next_execution_id(self) -> int:
        ids = [e.executionId() for e in self._list(self._sql.executionsList())]
        return max(ids) + 1 if ids else 0
