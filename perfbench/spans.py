"""Spans and Spark stage metrics for the traced run.

A ``Tracer`` records one span per call the benchmark makes into a layer
(wall-clock start/end, operation id, key, workload) and keeps them in
memory.  Each phase of an operation runs under its own Spark job group,
so after the operation the tracer can read exactly the jobs and stages
that phase fired from Spark's status store — which works with the UI
disabled — and the Catalyst phase times from the query's
``QueryPlanningTracker``.  Nothing is read from Spark inside a timed
window: stage metrics are collected after the operation's wall time is
taken.
"""

from __future__ import annotations

import contextlib
import itertools
import time


def phase(tracer: "Tracer | None", name: str, op: dict | None = None,
          kind: str = "call", key: str | None = None):
    """Context manager around one call into a layer; a no-op untraced.
    ``kind`` is the op phase the span belongs to: build, plan, exec, or
    call (a layer call outside the build/plan/exec split)."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, op, kind, key)


class Tracer:
    def __init__(self, spark, workload: str, cores: int):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self.sc._jvm
        self._gw = self.sc._gateway
        self.workload = workload
        self.cores = cores
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)

    # ---------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, op: dict | None, kind: str, key: str | None):
        t0 = time.perf_counter()
        op_id = op["op_id"] if op else None
        group = f"pb-{op_id}-{name}" if op else f"pb-{len(self.spans)}-{name}"
        rec = {"name": name, "kind": kind, "op_id": op_id,
               "key": op["key"] if op else key, "workload": self.workload,
               "parent": f"op-{op_id}" if op else None, "group": group,
               "start_ms": time.time() * 1000.0}
        # the tag costs one py4j call; it stays inside the span so that
        # an operation's spans cover its wall time
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000.0
            self.spans.append(rec)

    def new_op(self, kind: str, key: str) -> dict:
        return {"op_id": next(self._ids), "kind": kind, "key": key}

    # ---------------------------------------------------- stage metrics
    def _stage(self, sid: int):
        seq = self._store.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False,
            self._gw.new_array(self._jvm.double, 0))
        return seq.apply(seq.size() - 1) if seq.size() else None

    def _phase_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stats = {"jobs": len(jobs), "stages": 0, "tasks": 0,
                 "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "input_bytes": 0, "intervals": []}
        seen = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._stage(sid)
                if s is None or s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                stats["stages"] += 1
                stats["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                stats["failed_tasks"] += s.numFailedTasks()
                stats["run_s"] += s.executorRunTime() / 1e3
                stats["cpu_s"] += s.executorCpuTime() / 1e9
                stats["gc_s"] += s.jvmGcTime() / 1e3
                stats["shuffle_read_bytes"] += s.shuffleReadBytes()
                stats["shuffle_write_bytes"] += s.shuffleWriteBytes()
                stats["spill_bytes"] += s.diskBytesSpilled()
                stats["input_bytes"] += s.inputBytes()
                sub, end = s.submissionTime(), s.completionTime()
                if sub.isDefined() and end.isDefined():
                    stats["intervals"].append(
                        (sub.get().getTime(), end.get().getTime()))
        return stats

    def finish_op(self, op: dict, wall_s: float, jqe, **extra) -> dict:
        """Attach Spark metrics to a finished operation (outside its
        timed window) and keep its record."""
        self._bus.waitUntilEmpty()
        spans = [s for s in self.spans if s["op_id"] == op["op_id"]]
        build = sum(s["dur_s"] for s in spans if s["kind"] == "build")
        plan = sum(s["dur_s"] for s in spans if s["kind"] == "plan")
        ex = next(s for s in spans if s["kind"] == "exec")
        exec_s = ex["dur_s"]
        tracker = self.sc.statusTracker()
        build_jobs = sum(len(tracker.getJobIdsForGroup(s["group"]))
                         for s in spans if s["kind"] in ("build", "plan"))
        st = self._phase_stats(ex["group"])
        busy = _union_ms(st.pop("intervals"), ex["start_ms"], ex["end_ms"])
        rec = dict(op)
        rec.update({
            "wall_s": wall_s, "build_s": build, "plan_span_s": plan,
            "exec_s": exec_s,
            "plan_s": _catalyst_s(jqe),
            "sched_s": max(0.0, exec_s - busy / 1e3),
            "build_jobs": build_jobs, "jobs": st["jobs"],
            "stages": st["stages"], "tasks": st["tasks"],
            "failed_tasks": st["failed_tasks"],
            "executor_run_s": st["run_s"], "executor_cpu_s": st["cpu_s"],
            "offcpu_s": max(0.0, st["run_s"] - st["cpu_s"]),
            "core_busy_ratio": (st["run_s"] / (exec_s * self.cores)
                                if exec_s > 0 else 0.0),
            "gc_s": st["gc_s"],
            "shuffle_read_bytes": st["shuffle_read_bytes"],
            "shuffle_write_bytes": st["shuffle_write_bytes"],
            "spill_bytes": st["spill_bytes"], "input_bytes": st["input_bytes"],
            "span_sum_s": sum(s["dur_s"] for s in spans),
        })
        rec.update(extra)
        self.ops.append(rec)
        return rec

    def first_stage_tasks(self, op: dict) -> int:
        """Tasks of the lowest-numbered stage the op's action ran — the
        scan stage, whose task count is the number of input partitions."""
        group = next(s["group"] for s in self.spans
                     if s["op_id"] == op["op_id"] and s["kind"] == "exec")
        tracker = self.sc.statusTracker()
        sids = sorted(sid for jid in tracker.getJobIdsForGroup(group)
                      for sid in (tracker.getJobInfo(jid).stageIds or ()))
        for sid in sids:
            s = self._stage(sid)
            if s is not None and s.status().toString() == "COMPLETE":
                return s.numTasks()
        return 0


def _catalyst_s(jqe) -> float:
    """Sum of the QueryPlanningTracker phases (analysis, optimization,
    planning) recorded for this query execution."""
    total = 0
    it = jqe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def _union_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
