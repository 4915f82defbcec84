"""Traced runs: spans recorded around calls into the engine's modules, and
Spark's own status stores read at the same boundaries.

Nothing in the engine changes. `instrument` replaces a public function or
method with a wrapper that opens a span, and the wrapper is installed in
every `vervectordb_spark` module namespace that bound the original. Each
span runs under its own Spark job group, so the jobs a call started are
found afterwards with `statusTracker().getJobIdsForGroup`. When a
top-level span (an op) ends, the tracer waits for the listener bus to
drain, then reads per-stage executor time, CPU, shuffle bytes and
submission/completion times from the core status store, and per-node SQL
metrics (scan rows, files read, Python worker time) from the SQL status
store. Spans stay in memory; the caller writes them out at exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import sys
import time

# ------------------------------------------------------------------ parsing
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """One rendered SQL metric value as a number: sizes in bytes, timings
    in seconds, counts as counts. Spark renders a metric of one task as
    the value alone (`8.2 MiB`, `702 ms`, `1,234`) and one of several
    tasks as two lines, `total (min, med, max (stageId: taskId))` and then
    `8.2 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 5))`; the total
    is the first value of the second line."""
    text = text.strip()
    if text.startswith("total") or text.startswith("avg"):
        lines = text.splitlines()
        if len(lines) < 2:
            raise ValueError(f"no value line in metric {text!r}")
        text = lines[1]
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparseable metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in metric {text!r}")


# -------------------------------------------------------------------- spans
class Tracer:
    """Span recorder. While `active` is False every wrapper and span is a
    plain call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._exec_seen = 0
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._rules = self.jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._installed: list[tuple[object, str, object]] = []

    # -- recording
    def _catalyst_ns(self) -> int:
        return int(self._rules.getCurrentMetrics().time())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "op": parent["op"] if parent else sid,
               "group": f"pb-{sid}", **attrs}
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(rec)
        if parent is None:
            rec["catalyst0"] = self._catalyst_ns()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(rec)
            if parent is None:
                self._close_op(rec)

    # -- status stores
    def _close_op(self, op: dict) -> None:
        op["catalyst_s"] = (self._catalyst_ns() - op.pop("catalyst0")) / 1e9
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        members = [s for s in self.spans if s["op"] == op["id"]]
        owner: dict[int, dict] = {}
        for s in members:
            s["jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
            owner.update((j, s) for j in s["jobs"])
        op_jobs = set(owner)
        stages = tasks = 0
        run_ms = cpu_ns = shuffle = 0
        intervals = []
        for j in sorted(op_jobs):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = store.lastStageAttempt(int(sid))
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += int(sd.numTasks())
                run_ms += int(sd.executorRunTime())
                cpu_ns += int(sd.executorCpuTime())
                shuffle += int(sd.shuffleWriteBytes())
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3,
                                      done.get().getTime() / 1e3))
        wall = op["end"] - op["start"]
        op.update(jobs_total=len(op_jobs), stages=stages, tasks=tasks,
                  executor_run_s=run_ms / 1e3, executor_cpu_s=cpu_ns / 1e9,
                  shuffle_bytes=shuffle,
                  driver_gap_s=max(0.0, wall - _union(intervals)),
                  pinned_rdds=len(self.sc._jsc.getPersistentRDDs()))
        self._sql_metrics(owner)

    def _sql_metrics(self, owner: dict[int, dict]) -> None:
        """Add each new SQL execution's scan rows, files read and Python
        worker time to the span whose job group ran its first job."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = int(sql.executionsCount())
        if count <= self._exec_seen:
            return
        execs = self._conv.asJava(
            sql.executionsList(self._exec_seen, count - self._exec_seen))
        self._exec_seen = count
        for e in execs:
            jobs = sorted(int(j) for j in self._conv.asJava(e.jobs()).keySet()
                          if int(j) in owner)
            if not jobs:
                continue
            out = owner[jobs[0]]
            eid = e.executionId()
            values = self._conv.asJava(sql.executionMetrics(eid))
            graph = sql.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                scan = node.name().startswith("Scan")
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is None:
                        continue
                    name = m.name()
                    if scan and name == "number of output rows":
                        key = "scan_rows"
                    elif scan and name == "number of files read":
                        key = "files_read"
                    elif "Python workers" in name and name.startswith("time"):
                        key = "python_worker_s"
                    else:
                        continue
                    out[key] = out.get(key, 0.0) + parse_metric(v)

    # -- instrumentation
    def instrument(self, module_name: str, attr: str) -> None:
        """Wrap `module.attr` (a function, or `Class.method`) in a span
        named `<module>.<attr>` minus the package prefix."""
        mod = sys.modules[module_name]
        label = f"{module_name.removeprefix('vervectordb_spark.')}.{attr}"
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            raw = cls.__dict__[meth]
            kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
            fn = raw.__func__ if kind else raw
            wrapped = self._wrap(fn, label)
            setattr(cls, meth, kind(wrapped) if kind else wrapped)
            self._installed.append((cls, meth, raw))
            return
        fn = getattr(mod, attr)
        wrapped = self._wrap(fn, label)
        for name, m in list(sys.modules.items()):
            if not name.startswith("vervectordb_spark") or m is None:
                continue
            for k, v in list(vars(m).items()):
                if v is fn:
                    setattr(m, k, wrapped)
                    self._installed.append((m, k, fn))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._installed):
            setattr(owner, key, orig)
        self._installed.clear()

    def _wrap(self, fn, label: str):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(label) as rec:
                out = fn(*args, **kwargs)
                parts = out if isinstance(out, tuple) else (out,)
                rec["lazy"] = any(isinstance(p, DataFrame) for p in parts)
                return out
        return wrapper


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    inside = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
              for c in children]
    return (span["end"] - span["start"]) - _union(
        [(a, b) for a, b in inside if b > a])
