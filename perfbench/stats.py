"""Measurement plumbing: spans, Spark status-store readers, RSS polling.

Everything reads Spark's in-process status stores, which stay populated
with ``spark.ui.enabled=false`` (the engine's default):

* SQL executions (``sharedState().statusStore()``): per-node metrics
  such as ``time to run Python workers``, ``data sent to Python
  workers``, ``shuffle bytes written`` and ``number of output rows``,
  plus the executed plan text;
* stages (``sc.statusStore()``): run time, CPU time, shuffle bytes and
  task-time quantiles.

Stage, job and execution ids only grow, so what an operation ran is
every stage / job / execution with an id between the marks taken when
it started and when it ended.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4, "ns": 1e-9, "us": 1e-6,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"([-\d,\.]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """'1.4 s' -> 1.4, '30.5 KiB' -> 31232.0, '5,000' -> 5000.0; a
    multi-line 'total (min, med, max)' value reads its total."""
    if not text:
        return 0.0
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_DOT_NODE = re.compile(
    r'^\s*\d+ \[id="node\d+" labelType="html" '
    r'label="((?:[^"\\]|\\.)*)" tooltip="((?:[^"\\]|\\.)*)"\];', re.M)
_PER_TASK = "(min, med, max (stageId: taskId))"


def _unescape(s: str) -> str:
    return s.encode("utf-8").decode("unicode_escape")


def parse_dot(dot: str) -> list:
    """Nodes of ``SparkPlanGraph.makeDotFile``: each label is
    ``<b>name</b><br><br>metric: value<br>...``; a per-task metric is
    ``metric total (min, med, max ...)<br>value (min, med, max ...)``."""
    nodes = []
    for label, tooltip in _DOT_NODE.findall(dot):
        items = [i for i in _unescape(label).split("<br>") if i]
        name = re.sub(r"</?b>", "", items[0]).strip()
        metrics, i = {}, 1
        while i < len(items):
            item = items[i]
            if item.endswith(_PER_TASK):
                key = item[:-len(_PER_TASK)].strip()
                key = key[:-len(" total")] if key.endswith(" total") else key
                metrics[key] = parse_metric(items[i + 1] if i + 1 < len(items) else "")
                i += 2
                continue
            if item.endswith(_PER_TASK + ":"):      # averages: no total
                i += 2
                continue
            k, sep, v = item.partition(": ")
            if sep:
                metrics[k] = parse_metric(v)
            i += 1
        nodes.append(Node(name, _unescape(tooltip), metrics))
    return nodes


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict


@dataclass
class Execution:
    id: int
    plan: str
    nodes: list = field(default_factory=list)


@dataclass
class Stage:
    id: int
    attempt: int
    run_s: float
    cpu_s: float
    shuffle_write: float


class StatusStore:
    """Reads the two status stores of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc._jsc.sc().statusStore()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)
        self._gw, self._jvm = sc._gateway, sc._jvm

    def _newest(self, seq, get_id, above: int) -> list:
        """Elements of a status-store listing with id > ``above``,
        scanning from its newest end (listings are id-ordered)."""
        n = seq.size()
        if n == 0:
            return []
        first, last = get_id(seq.apply(0)), get_id(seq.apply(n - 1))
        order = range(n) if first >= last else range(n - 1, -1, -1)
        out = []
        for i in order:
            e = seq.apply(i)
            if get_id(e) <= above:
                break
            out.append(e)
        return out

    def _stages(self):
        return self._app.stageList(None, False, False, self._empty, None)

    def _jobs(self):
        return self._app.jobsList(None)

    def mark(self) -> tuple[int, int, int]:
        """(newest execution id, newest stage id, newest job id)."""
        def newest(seq, get_id):
            n = seq.size()
            return max(get_id(seq.apply(0)), get_id(seq.apply(n - 1))) if n else -1
        return (newest(self._sql.executionsList(), lambda e: e.executionId()),
                newest(self._stages(), lambda s: s.stageId()),
                newest(self._jobs(), lambda j: j.jobId()))

    def executions_between(self, begin, end) -> list[Execution]:
        out = []
        for e in self._newest(self._sql.executionsList(),
                              lambda e: e.executionId(), begin[0]):
            eid = e.executionId()
            if eid > end[0]:
                continue
            # one DOT export per execution carries every node's name,
            # description and formatted metric values
            dot = self._sql.planGraph(eid).makeDotFile(
                self._sql.executionMetrics(eid))
            out.append(Execution(eid, e.physicalPlanDescription(),
                                 parse_dot(dot)))
        return out

    def stages_between(self, begin, end) -> list[Stage]:
        out = []
        for s in self._newest(self._stages(), lambda s: s.stageId(), begin[1]):
            if s.stageId() > end[1] or str(s.status()) != "COMPLETE":
                continue
            out.append(Stage(s.stageId(), s.attemptId(),
                             s.executorRunTime() / 1e3,
                             s.executorCpuTime() / 1e9,
                             float(s.shuffleWriteBytes())))
        return out

    def task_skew(self, stage: Stage) -> float:
        """Slowest / median task run time of one stage."""
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = self._app.taskSummary(stage.id, stage.attempt, qs)
        if opt.isEmpty():
            return 0.0
        rt = list(self._conv.asJava(opt.get().executorRunTime()))
        return rt[1] / rt[0] if rt[0] > 0 else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = {"name": name, "run_id": tracer.run_id,
                            "parent": tracer._stack[-1] if tracer._stack else None,
                            "start": time.perf_counter() - tracer.t0,
                            "end": None, **attrs}
                tracer.spans.append(self.rec)
                tracer._stack.append(len(tracer.spans) - 1)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter() - tracer.t0
                tracer._stack.pop()
                return False
        return _Span()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(_children(c))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssPoller:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), polled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
