"""Spans and Spark status-store accounting for the benchmark's traced run.

The traced run times the benchmark's own calls into each layer (session,
sources, a query's build, Catalyst planning, the noop-write execution) and,
after each query, reads the jobs that query submitted from Spark's status
store. Nothing here runs inside an untraced run.

Jobs are attributed to a phase by job id: the DAG scheduler hands out ids in
submission order, so the jobs a phase submitted are exactly the ids issued
between its start and its end. This also catches jobs that streaming queries
submit from their own execution threads under their own job groups.
"""

from __future__ import annotations

import re
import time

from py4j.protocol import Py4JJavaError

MIB = 1024 * 1024

# Physical-plan operators that run Python (pandas/Arrow UDFs, applyInPandas,
# mapInPandas, Python UDTFs).
PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython|BatchEvalPythonUDTF|"
    r"ArrowEvalPythonUDTF)\b"
)

STAGE_FIELDS = ("run_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class Tracer:
    """Keeps spans in memory: name, kind, start, end (epoch seconds) and the
    id of the span that caused it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, kind: str, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "kind": kind, "name": name, "start": start, "end": end}
        )
        return len(self.spans) - 1

    def open(self, kind: str, name: str, parent: int | None) -> int:
        return self.add(kind, name, time.time(), float("nan"), parent)

    def close(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.time()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of its interval that its child
        spans cover (children may overlap one another)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """Reads jobs, stages, pins and storage memory of one SparkContext."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final state of every job submitted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> tuple[list[dict], int]:
        """Jobs with ids in [lo, hi) and the number of jobs or stages the
        store could not return (evicted past spark.ui.retainedJobs/Stages)."""
        store = self._jsc.statusStore()
        out, unread = [], 0
        for jid in range(lo, hi):
            try:
                job = store.job(jid)
            except Py4JJavaError:
                unread += 1
                continue
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0,
                "tasks": 0,
                **{k: 0.0 for k in STAGE_FIELDS},
            }
            sids = job.stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:
                    unread += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["run_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["input_mb"] += st.inputBytes() / MIB
                rec["shuffle_read_mb"] += st.shuffleReadBytes() / MIB
                rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MIB
                rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MIB
            out.append(rec)
        return out, unread

    def pinned_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def storage_mb(self) -> float:
        """Storage memory in use on all block managers (max - remaining),
        read without forcing a GC."""
        used, it = 0, self._jsc.getExecutorMemoryStatus().iterator()
        while it.hasNext():
            mem = it.next()._2()
            used += mem._1() - mem._2()
        return used / MIB


def plan_counts(df) -> dict[str, int]:
    """Shuffle exchanges, broadcast exchanges and Python-running operators in
    ``df``'s physical plan, via pontem_spark.plans.inspect."""
    from pontem_spark.plans.inspect import count_exchanges, physical_plan

    plan = physical_plan(df)
    return {
        "plans.exchanges": count_exchanges(df),
        "plans.broadcasts": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "plans.python_nodes": len(PYTHON_NODE.findall(plan)),
    }
