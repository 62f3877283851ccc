"""Spans recorded from the benchmark's side of each layer boundary, plus
the Spark facts read back through py4j: Catalyst phase times from the
QueryExecution that ran (a QueryExecutionListener), and per-job and
per-stage numbers from the JVM status store.

Spans live in memory and are written out once, when the run ends.
Every timestamp is epoch seconds (``time.time()``), the clock the JVM's
millisecond timestamps share.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# Physical operators that run Python code in a Spark Python worker.
_PY_NODES = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
    r"|AggregateInPandas|WindowInPandas|\(Python\)"
)


class Tracer:
    """Spans as (name, start, end, parent index)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CatalystListener:
    """QueryExecutionListener implemented in Python through the py4j
    callback server.  Each finished action appends its Catalyst phase
    intervals and the count of Python operators in its executed plan."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 - JVM interface
        self._record(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802 - JVM interface
        self._record(qe)

    def _record(self, qe) -> None:
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            ps = kv._2()
            phases[kv._1()] = (ps.startTimeMs() / 1e3, ps.endTimeMs() / 1e3)
        # an adaptive plan prints its final and its initial plan
        plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        self.events.append({"phases": phases, "python_ops": len(_PY_NODES.findall(plan))})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads what Spark did for a job group back from the driver JVM, and
    holds the run's spans."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = CatalystListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.store = self.sc._jsc.sc().statusStore()
        self.tracer = Tracer()

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def wait_events(self, since: float, timeout: float = 5.0) -> list[dict]:
        """The listener runs on Spark's listener bus: wait until the
        event of an action that started after ``since`` has arrived, then
        hand over every event received."""
        deadline = time.time() + timeout

        def arrived() -> bool:
            return any(min(a for a, _ in ev["phases"].values()) >= since
                       for ev in self.listener.events if ev["phases"])

        while not arrived() and time.time() < deadline:
            time.sleep(0.002)
        events, self.listener.events = self.listener.events, []
        return events

    def group_facts(self, group: str) -> dict:
        """Jobs of one job group: intervals and per-stage executor facts."""
        jobs, stages = [], {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            start, end = jd.submissionTime(), jd.completionTime()
            if start.isEmpty() or end.isEmpty():
                continue
            jobs.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in stages:
                    continue
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                stages[sid] = {
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_read": sd.shuffleReadBytes(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
        return {"jobs": jobs, "stages": list(stages.values())}
