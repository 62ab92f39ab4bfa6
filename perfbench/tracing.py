"""Tracing for the per-layer metrics: spans kept in memory, a py4j call
counter, and SQL metrics read from the session's status store (which
works with the Spark UI off).

Only the traced run pays for any of this; the end-to-end metrics come
from untraced runs.
"""

from __future__ import annotations

import html
import json
import re
import time
from contextlib import contextmanager


class Py4jCounter:
    """Counts py4j commands and the time spent in them while ``active``.

    py4j's object-release commands (``m\\nd\\n...``) are left out: Python's
    garbage collector sends them at unpredictable moments, so counting
    them would make identical builds count differently."""

    def __init__(self):
        self.active = False
        self.calls = 0
        self.seconds = 0.0

    def install(self):
        from py4j.clientserver import ClientServerConnection

        original = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            if not counter.active or command.startswith("m\nd\n"):
                return original(conn, command)
            t0 = time.perf_counter()
            try:
                return original(conn, command)
            finally:
                counter.seconds += time.perf_counter() - t0
                counter.calls += 1

        ClientServerConnection.send_command = send_command

    @contextmanager
    def counting(self):
        c0, s0 = self.calls, self.seconds
        out = {}
        self.active = True
        try:
            yield out
        finally:
            self.active = False
            out["calls"] = self.calls - c0
            out["seconds"] = self.seconds - s0


class Spans:
    """Spans of pass -> operation -> build / plan / action, with their
    parent, kept in memory and written out at the end of the run."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)


_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _value(text):
    """A formatted SQL metric value as a number: bytes, seconds or a
    count; None when it is not a number."""
    num, _, unit = text.strip().partition(" ")
    try:
        num = float(num.replace(",", ""))
    except ValueError:
        return None
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def plan_nodes(dot):
    """(operator name, {metric: value}) for every node of a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``.  A metric summed over
    tasks is printed as ``name total (min, med, max (...))`` with its
    value on the next line."""
    nodes = []
    for m in _NODE.finditer(dot):
        parts = [html.unescape(p) for p in m.group(1).split("<br>") if p]
        name = re.sub(r"</?b>", "", parts[0])
        metrics = {}
        i = 1
        while i < len(parts):
            if "(min, med, max" in parts[i] and i + 1 < len(parts):
                key = parts[i].split(" (min, med, max")[0].rsplit(" ", 1)[0]
                val = _value(parts[i + 1].split(" (")[0])
                i += 2
            else:
                key, _, val = parts[i].rpartition(": ")
                val = _value(val) if key else None
                i += 1
            if val is not None:
                metrics[key] = val
        nodes.append((name, metrics))
    return nodes


_PY_NODES = {"time to run Python workers": "run_s",
             "time to start Python workers": "boot_s",
             "time to initialize Python workers": "boot_s",
             "data sent to Python workers": "bytes_sent",
             "data returned from Python workers": "bytes_returned"}


def execution_metrics(nodes):
    """Per-layer counts of one SQL execution's final plan."""
    out = {"nodes": len(nodes), "exchanges": 0, "scan_rows": 0.0, "shuffle_bytes": 0.0,
           "broadcast_bytes": 0.0, "spill_bytes": 0.0, "run_s": 0.0, "boot_s": 0.0,
           "bytes_sent": 0.0, "bytes_returned": 0.0}
    for name, m in nodes:
        if "Exchange" in name:
            out["exchanges"] += 1
        if name.startswith("Scan"):
            out["scan_rows"] += m.get("number of output rows", 0.0)
        if name == "Exchange":
            out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
        if name == "BroadcastExchange":
            out["broadcast_bytes"] += m.get("data size", 0.0)
        out["spill_bytes"] += m.get("spill size", 0.0)
        for metric, key in _PY_NODES.items():
            out[key] += m.get(metric, 0.0)
    return out


class StatusStore:
    """Reads what Spark recorded about the SQL executions and jobs of one
    operation, after it has finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def mark(self):
        self.bus.waitUntilEmpty()
        return self.store.executionsCount()

    def since(self, mark, group):
        """Metrics of the executions recorded after ``mark`` and of the
        jobs run under job group ``group``."""
        self.bus.waitUntilEmpty()
        execs = self.store.executionsList(mark, 1 << 20)
        total = {"executions": execs.size(), "exec_s": 0.0}
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            # the store's final update (and the end time) lands
            # asynchronously after the listener bus has drained
            for _ in range(500):
                ex = self.store.execution(eid).get()
                if ex.completionTime().isDefined():
                    break
                time.sleep(0.01)
            if ex.completionTime().isDefined():
                total["exec_s"] += (ex.completionTime().get().getTime()
                                    - ex.submissionTime()) / 1000.0
            dot = self.store.planGraph(eid).makeDotFile(self.store.executionMetrics(eid))
            for k, v in execution_metrics(plan_nodes(dot)).items():
                total[k] = total.get(k, 0) + v
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        total["jobs"] = len(jobs)
        total["tasks"] = tasks
        return total


class Tracer:
    """Everything the traced run records."""

    def __init__(self, spark):
        self.spans = Spans()
        self.py4j = Py4jCounter()
        self.py4j.install()
        self.store = StatusStore(spark)
