"""Measurement taken from outside the engine: spans around calls into
it, and Spark's own counters for the jobs a call ran.

Spans stay in memory and are written out once, at exit. Spark counters
come from the driver's status store (it is kept with the UI disabled),
looked up by job group, and from the SQL store's executed plans; heap
use from the JVM's memory pool beans.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
import uuid


class Tracer:
    """Spans with name, start, end, parent and run id. When disabled,
    ``span`` costs one attribute test and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "run": self.run_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """Tags the jobs a call runs with a fresh job group and sums their
    stage counters afterwards."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._n = 0

    def tag(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label, False)
        return group

    def sql_execution_count(self) -> int:
        return self.spark._jsparkSession.sharedState().statusStore().executionsList().size()

    def roundrobin_exchanges(self, since: int) -> int:
        """Round-robin exchanges in the executed plans of the SQL
        executions started after ``since`` — the ``fan_out``
        repartitions actually taken."""
        lst = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return sum(
            _final_roundrobin(lst.apply(i).physicalPlanDescription())
            for i in range(since, lst.size())
        )

    def stats(self, group: str) -> dict:
        """Summed counters over the completed stages of ``group``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids = sorted(
            {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
        )
        out = {
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "gc_s": 0.0,
            "input_records": 0,
            "shuffle_write_bytes": 0,
            "task_durations": [],
        }
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1000
            out["gc_s"] += st.jvmGcTime() / 1000
            out["input_records"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tasks = store.taskList(sid, st.attemptId(), 1 << 20)
            out["task_durations"].extend(
                tasks.apply(i).duration().get() / 1000 for i in range(tasks.size())
            )
        return out


def _old_gen_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    return [
        p for p in (pools.get(i) for i in range(pools.size()))
        if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())
    ]


def reset_old_gen_peak(spark) -> None:
    for p in _old_gen_pools(spark):
        p.resetPeakUsage()


def old_gen_peak_mb(spark) -> float:
    """Peak use of the driver JVM's old generation since the last
    :func:`reset_old_gen_peak`: the heap data that outlives young
    collections (cached and pinned blocks, broadcasts, plans). The
    young generation is left out, as it fills to whatever size the
    collector gives it. The fixed heap's resident size cannot show
    either."""
    return sum(p.getPeakUsage().getUsed() for p in _old_gen_pools(spark)) / 2**20


def _final_roundrobin(desc: str) -> int:
    """Round-robin Exchange nodes of the plan that ran: under adaptive
    execution the formatted plan also lists the initial plan, whose
    nodes did not run, and reused exchanges, which do not shuffle."""
    tree, _, details = desc.partition("\n\n(1) ")
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ran = set(re.findall(r"\((\d+)\)", tree))
    count = 0
    for node in ("(1) " + details).split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\b", node)
        if m and m.group(1) in ran and "RoundRobinPartitioning" in node:
            count += 1
    return count
