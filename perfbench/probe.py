"""Instruments read from outside the program: spans kept in memory,
Spark's status stores read over py4j, and RSS sampled from /proc.

Nothing here adds a Spark job: the status stores are in-driver KV
stores fed by listeners that run whether or not the UI is enabled.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field


# -- spans --------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    id: int


@dataclass
class Tracer:
    """In-memory span recorder; `dump` writes the spans when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: int = 0
    _ids: int = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def self_times(self, name: str) -> list[float]:
        return [self.self_time(s) for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self) -> "_SpanCtx":
        self.t._ids += 1
        self.id = self.t._ids
        self.parent = self.t._stack[-1] if self.t._stack else None
        self.t._stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.t._stack.pop()
        self.t.spans.append(
            Span(self.name, self.start, end, self.parent, self.t._op, self.id)
        )


# -- Spark status stores --------------------------------------------------

class StatusReader:
    """Reads the SQL status store (per-node SQL metrics of each query
    execution) and the core status store (stage and task data) of a
    live SparkContext."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)

    def execution_count(self) -> int:
        """Query executions so far; execution ids run 0, 1, 2, ..."""
        return int(self.sql.executionsCount())

    def plan_nodes(self, execution_ids) -> list[dict]:
        """Plan-graph nodes of the executions with their SQL metric
        totals.  SQL metrics are kept out of the stage data, so they are
        read from the SQL status store's per-execution strings, whose
        totals carry three significant digits."""
        nodes = []
        for eid in execution_ids:
            values = self.sql.executionMetrics(eid)
            it = self.sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                n = it.next()
                metrics: dict[str, float] = {}
                mi = n.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined() and m.metricType() in _TOTALLED:
                        metrics[m.name()] = parse_metric(v.get(), m.metricType())
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        return nodes

    def _attempts(self, stage_ids) -> list[tuple[int, int]]:
        out = []
        for sid in stage_ids:
            seq = self.core.stageData(sid, False, self._empty, False, self._no_q)
            it = seq.iterator()
            while it.hasNext():
                out.append((sid, int(it.next().attemptId())))
        return out

    def execution_stages(self, execution_ids) -> list[int]:
        stages = set()
        for eid in execution_ids:
            it = self.sql.execution(eid).get().stages().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        return sorted(stages)

    def stage_stats(self, execution_ids) -> dict:
        """CPU, GC and task counts over the executions' stages, plus the
        max/median task-time skew of the longest stage."""
        jobs = set()
        for eid in execution_ids:
            it = self.sql.execution(eid).get().jobs().keysIterator()
            while it.hasNext():
                jobs.add(int(it.next()))
        cpu = gc = 0.0
        tasks = 0
        skew, longest = 1.0, -1.0
        attempts = self._attempts(self.execution_stages(execution_ids))
        for sid, att in attempts:
            sd = self.core.stageAttempt(sid, att, False, self._empty, False, self._no_q)._1()
            cpu += sd.executorCpuTime() / 1e9
            gc += sd.jvmGcTime() / 1e3
            tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            if sd.executorRunTime() > longest:
                longest = sd.executorRunTime()
                skew = self.task_skew(sid, att)
        return {
            "jobs": len(jobs),
            "stages": len(attempts),
            "tasks": tasks,
            "cpu_s": cpu,
            "gc_s": gc,
            "task_skew": skew,
        }

    def task_skew(self, stage_id: int, attempt: int) -> float:
        durs = []
        it = self.core.taskList(stage_id, attempt, 100000).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if len(durs) < 2 or statistics.median(durs) <= 0:
            return 1.0
        return max(durs) / statistics.median(durs)


# metric types whose status-store string leads with a total ("average"
# metrics only carry min/median/max)
_TOTALLED = {"sum", "size", "timing", "nsTiming"}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str, metric_type: str) -> float:
    """A status-store metric string as a number: timings in seconds,
    sizes in bytes.  Multi-task values read "total (min, med, max ...)"
    followed by a line whose first figure is the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip().replace(",", "")
    if metric_type in ("timing", "nsTiming", "size"):
        num, unit = head.split()
        return float(num) * _UNITS[unit]
    return float(head)


def sum_metric(nodes: list[dict], node_prefix: str, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in nodes
        if n["name"].startswith(node_prefix)
    )


# -- RSS from /proc -------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the descendants of `root_pid`; time stolen by the hypervisor is
    not in it."""
    kids, total, todo = _children_map(), 0, []
    todo.extend(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _HZ


class RssSampler:
    """Samples the summed RSS of every descendant of `root_pid` (the
    JVM and the Python workers it forks), splitting JVM from Python."""

    def __init__(self, root_pid: int, interval: float = 0.05) -> None:
        self.root, self.interval = root_pid, interval
        self.peak_total = self.peak_jvm = self.peak_py = 0.0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kids = _children_map()
        todo, jvm, py, workers = list(kids.get(self.root, [])), 0.0, 0.0, 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            rss = _rss_mb(pid)
            if _comm(pid) == "java":
                jvm += rss
            elif _comm(pid).startswith("python"):
                py += rss
                workers += 1
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_py = max(self.peak_py, py)
        self.peak_total = max(self.peak_total, jvm + py)
        self.max_workers = max(self.max_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
