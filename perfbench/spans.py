"""Spans around the benchmark's calls into the program, with Spark counters.

A span records name, start, end, parent and the Spark work its calls caused.
Each span runs under its own job group, so the jobs it started are the
group's jobs (``SparkStatusTracker.getJobIdsForGroup``); their stages'
metrics (input/output bytes, shuffle, spill, run time, GC, tasks, failed
tasks) come from the application status store, read after the listener bus
has drained. Counters are inclusive: a parent adds its children's.

The time spent collecting counters is excluded from every open span, so a
parent's duration does not include its children's bookkeeping. Spans stay
in memory and are written once, by :meth:`Tracer.dump`.

With ``enabled=False`` every call is a plain pass-through: that is the
untraced run the end-to-end metrics come from.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "jobs_with_input", "stages", "tasks", "failed_tasks",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_s", "gc_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._overhead = 0.0
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._bus = sc._jsc.sc().listenerBus()
            self._store = sc._jsc.sc().statusStore()
            gw = sc._gateway
            self._no_status = gw.jvm.java.util.ArrayList()
            self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "tags": {**(parent["tags"] if parent else {}), **attrs}}
        rec.update(dict.fromkeys(COUNTERS, 0))
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self._sc.setJobGroup(group, name, False)
        self._open.append(rec)
        ovh0 = self._overhead
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._open.pop()
            rec["start"], rec["end"] = t0, t1
            rec["dur_s"] = (t1 - t0) - (self._overhead - ovh0)
            c0 = time.perf_counter()
            self._collect(group, rec)
            if self._open:
                parent = self._open[-1]
                self._sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"], False)
                for k in COUNTERS:
                    parent[k] += rec[k]
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._overhead += time.perf_counter() - c0

    def executor_totals(self) -> tuple[int, float]:
        """(failed tasks, GC seconds) so far, summed over every executor."""
        self._bus.waitUntilEmpty()
        execs = self._store.executorList(False)
        failed, gc_ms = 0, 0
        for i in range(execs.size()):
            e = execs.apply(i)
            failed += e.failedTasks()
            gc_ms += e.totalGCTime()
        return failed, gc_ms / 1000.0

    def _collect(self, group: str, rec: dict) -> None:
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        seen: set[int] = set()  # AQE reruns a job's finished stages as skipped ones
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            rec["jobs"] += 1
            job_input = 0
            for stage_id in (info.stageIds if info else []):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                for sd in self._stage_attempts(stage_id):
                    rec["stages"] += 1
                    rec["tasks"] += sd.numCompleteTasks()
                    rec["failed_tasks"] += sd.numFailedTasks()
                    job_input += sd.inputBytes()
                    rec["output_bytes"] += sd.outputBytes()
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    rec["task_s"] += sd.executorRunTime() / 1000.0
                    rec["gc_s"] += sd.jvmGcTime() / 1000.0
            rec["input_bytes"] += job_input
            rec["jobs_with_input"] += job_input > 0

    def _stage_attempts(self, stage_id: int) -> list:
        try:
            seq = self._store.stageData(
                stage_id, False, self._no_status, False, self._no_quantiles
            )
        except Py4JJavaError:  # a skipped stage has no data
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
