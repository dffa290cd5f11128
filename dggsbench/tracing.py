"""Measurement plumbing kept outside the program under test.

- ``Tracer``: spans (name, start, end, parent, op id) recorded around calls
  into the program's layers, held in memory and written once at exit.
  Disabled, it records nothing and ``plan`` does not touch the plan.
- ``SqlProbe``: per-op Spark metrics read back from Spark's own SQL status
  store (``executionsList`` / ``executionMetrics`` / ``planGraph``).
  ``AppStatusStore.stageList(null)`` fails through py4j, so stage data is
  never listed.
- ``RssSampler``: peak resident memory of the Spark JVM plus its Python
  workers (every descendant of this process), sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# physical operators whole-stage codegen can fuse; one of these standing
# outside a WholeStageCodegen cluster ran as a volcano (row-at-a-time)
# operator, e.g. after a stage exceeded spark.sql.codegen.hugeMethodLimit
CODEGEN_OPS = {"HashAggregate", "SortAggregate", "Project", "Filter", "Sort",
               "Expand", "Generate", "BroadcastHashJoin", "ShuffledHashJoin",
               "SortMergeJoin", "Range", "LocalLimit", "GlobalLimit"}

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# SQL metric name -> key in the per-op sums
_SQL_METRICS = {
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "scan time": "scan_s",
    "size of files read": "scan_file_bytes",
    "time in aggregation build": "agg_build_s",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('25,878', '69 ms', or 'total (min, med,
    max ...)\\n15.1 s (3.7 s, ...)') -> its total as a float in B or s."""
    head = text.split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.probe: SqlProbe | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, sql: bool = False):
        """Record a span; with ``sql`` also the range of SQL execution ids
        that ran inside it (needs ``self.probe``)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": op, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        if sql:
            rec["executions"] = [self.probe.head(), None]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            if sql:
                rec["executions"][1] = self.probe.head()
            rec["end"] = time.perf_counter()

    def plan(self, df) -> None:
        """Force physical planning (``executedPlan``) inside a span so its
        time is separated from execution."""
        if self.enabled:
            with self.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()

    def durations(self, name: str) -> dict[int, float]:
        """op id -> summed duration of the spans called ``name``."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                op = self.op_of(s)
                out[op] = out.get(op, 0.0) + s["end"] - s["start"]
        return out

    def op_of(self, s: dict):
        """The op id of span ``s`` or of its nearest ancestor that has one."""
        while s["op"] is None and s["parent"] is not None:
            s = self.spans[s["parent"]]
        return s["op"]

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


class SqlProbe:
    """Sums selected SQL metrics over a range of SQL execution ids.  The
    closed loop runs one action at a time, so the executions started
    between two ``head()`` calls are exactly those of the work in between."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def head(self) -> int:
        """First execution id not started yet, once the listener bus has
        delivered every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        count = self.store.executionsCount()
        if count == 0:
            return 0
        # the store is indexed by execution id, so the last entry is newest
        return self.store.executionsList(count - 1, 1).head().executionId() + 1

    def jobs(self, job_group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(job_group))

    def sums(self, start: int, stop: int) -> dict:
        out = {k: 0.0 for k in _SQL_METRICS.values()}
        out.update(executions=stop - start, non_wscg_ops=0, scan_rows=0.0)
        for eid in range(start, stop):
            if not self.store.execution(eid).isDefined():
                continue
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            for node in _iter(graph.allNodes()):
                is_scan = node.name().startswith("Scan")
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined() or m.metricType() == "average":
                        continue
                    key = _SQL_METRICS.get(m.name())
                    if key:
                        out[key] += parse_metric(v.get())
                    elif is_scan and m.name() == "number of output rows":
                        out["scan_rows"] += parse_metric(v.get())
            for node in _iter(graph.nodes()):
                if (node.getClass().getSimpleName() == "SparkPlanGraphNode"
                        and node.name().split(" ")[0] in CODEGEN_OPS):
                    out["non_wscg_ops"] += 1
        return out


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class RssSampler:
    """Peak over samples of the summed RSS of this process's descendants.

    The JVM starts helper commands (Hadoop's local file system runs
    ``chmod``) through posix_spawn: until it execs, the child shares the
    JVM's address space and reports the JVM's whole RSS.  A child of the
    JVM still running the JVM's executable is such a child and is not
    counted; the Python daemon and its workers run Python, so they are."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self.sample())
            if self._stop.wait(self.period_s):
                return

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [(pid, None) for pid in children.get(os.getpid(), [])]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                todo.extend((child, exe) for child in children.get(pid, []))
                if exe.endswith("/java") and exe == parent_exe:
                    continue  # a JVM child that has not exec'd yet
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total
