"""Spans around the benchmark's calls into the program, joined with
Spark's own job, stage and SQL metrics.

A ``Tracer`` keeps every span in memory (name, start, end, parent,
operation id, attributes) until the run ends. Spans come from two places:
the benchmark's own ``with tracer.span(...)`` blocks, and ``wrap`` patches
that replace a public function in a program module's namespace for the
duration of the traced run (the program's source is never edited; the
patch is undone by ``Tracer.restore``).

``read_status_store`` pulls Spark's job, stage and SQL-execution records
through py4j once, after the timed window, and ``attribute`` hands each
job and SQL execution to the innermost span whose interval contains its
submission time (the benchmark is a single closed-loop client, so at most
one operation is in flight).
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    op_id: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. While disabled it records nothing and patches nothing."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: Span | None = None  # parent for spans opened on other threads
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        sp = Span(
            next(self._ids),
            parent.sid if parent else None,
            name,
            time.time(),
            op_id=parent.op_id if parent else None,
        )
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        self.spans.append(sp)

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextmanager
    def operation(self, op_id: int, name: str) -> Iterator[Span | None]:
        """Root span of one timed operation; spans opened on other threads
        while it is open (streaming foreachBatch) hang under it."""
        sp = self.open(name)
        if sp is not None:
            sp.op_id = op_id
            self._op = sp
        try:
            yield sp
        finally:
            self._op = None
            self.close(sp)

    def wrap(self, module, attr: str, name: str, on_result=None, label=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.

        ``label(args, kwargs)`` may refine the span name; ``on_result(span,
        result)`` may record counts taken from the return value."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.open(name + (label(args, kwargs) if label else ""))
            try:
                res = fn(*args, **kwargs)
                if on_result is not None and sp is not None:
                    on_result(sp, res)
                return res
            finally:
                self.close(sp)

        self._patches.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('10,000', '81.3 KiB', 'total (...)\\n11.0 s
    (...)') -> bytes, seconds or a plain count."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _date(text: str | None) -> float | None:
    """A REST-API date ('2026-01-31T12:00:00.123GMT') -> epoch seconds."""
    if text is None:
        return None
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def read_status_store(spark, since: float = 0.0) -> dict:
    """Jobs, stages and the SQL executions submitted at or after ``since``,
    as plain dicts (times in epoch seconds, CPU in seconds, sizes in bytes).

    The records are serialized to JSON inside the JVM by the object mapper
    of Spark's REST API, a few py4j calls per SQL execution instead of one
    per field."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()

    def load(obj):
        return json.loads(mapper.writeValueAsString(obj))

    app = spark.sparkContext._jsc.sc().statusStore()
    jobs = [
        {
            "id": j["jobId"],
            "submit": _date(j.get("submissionTime")),
            "end": _date(j.get("completionTime")),
            "stages": j["stageIds"],
        }
        for j in load(app.jobsList(None))
    ]
    # Spark 4.1 signature: (statuses, details, withSummaries, quantiles, taskStatus)
    empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = {}
    for s in load(app.stageList(None, False, False, empty, jvm.java.util.ArrayList())):
        if s["status"] == "SKIPPED":
            continue
        stages[(s["stageId"], s["attemptId"])] = {
            "id": s["stageId"],
            "tasks": s["numTasks"],
            "failed_tasks": s["numFailedTasks"],
            "run_s": s["executorRunTime"] / 1000.0,
            "cpu_s": s["executorCpuTime"] / 1e9,
            "shuffle_write": s["shuffleWriteBytes"],
            "shuffle_read": s["shuffleReadBytes"],
            "spill": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
            "peak_mem": s["peakExecutionMemory"],
        }
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in conv.asJava(sql.executionsList()):
        submit = e.submissionTime() / 1000.0
        if submit < since:
            continue
        eid = e.executionId()
        values = load(sql.executionMetrics(eid))
        by_name: dict[str, float] = {}
        join_rows = 0.0
        seen: set[int] = set()
        for node in load(sql.planGraph(eid).allNodes()):
            for pm in node["metrics"]:
                acc = pm["accumulatorId"]
                raw = values.get(str(acc))
                if acc in seen or raw is None:
                    continue
                seen.add(acc)
                v = parse_metric(raw)
                by_name[pm["name"]] = by_name.get(pm["name"], 0.0) + v
                if "Join" in node["name"] and pm["name"] == "number of output rows":
                    join_rows = max(join_rows, v)
        execs.append({"id": eid, "submit": submit, "metrics": by_name, "max_join_rows": join_rows})
    return {"jobs": jobs, "stages": stages, "execs": execs}


def attribute(spans: list[Span], t: float) -> Span | None:
    """Innermost span whose interval contains time ``t``."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = {sp.sid: 0.0 for sp in spans}
    for sp in spans:
        if sp.parent in child:
            child[sp.parent] += sp.dur
    return {sp.sid: max(0.0, sp.dur - child[sp.sid]) for sp in spans}


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
