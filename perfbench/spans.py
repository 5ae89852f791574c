"""Spans around the benchmark's calls into each cosmospark layer.

A span records name, start, end, parent and run id, plus counters read
at its boundaries: Spark's status store (jobs, tasks, executor CPU, GC,
shuffle, spill, failed tasks and task-time skew) and the ``/proc``
sampler (Python-worker CPU, peak worker RSS). Spans stay in memory and
are written as JSON when the run ends. Every Spark job a span starts
runs under a job group named after the span, so the status store says
which jobs belong to it. ``layer_metrics`` folds a layer's spans into
its metrics; ``materialize`` cuts a stage's output at a span boundary.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from procstat import TreeSampler


def _stage_counters(spark, stage_ids: list[int]) -> dict[str, float]:
    """Sum of the status store's per-stage metrics over ``stage_ids``;
    ``task_skew`` is max / median task time in the stage that ran
    longest (1.0 when the span ran no task)."""
    store = spark._jsc.sc().statusStore()
    c = dict(
        tasks=0, exec_cpu_s=0.0, gc_s=0.0, shuffle_bytes=0, spill_bytes=0, failed_tasks=0,
    )
    heaviest = None
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the job skipped has no attempt
            continue
        c["tasks"] += s.numCompleteTasks()
        c["failed_tasks"] += s.numFailedTasks()
        c["exec_cpu_s"] += s.executorCpuTime() / 1e9
        c["gc_s"] += s.jvmGcTime() / 1e3
        c["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if heaviest is None or s.executorRunTime() > heaviest.executorRunTime():
            heaviest = s
    c["task_skew"] = 1.0
    if heaviest is not None and heaviest.numCompleteTasks():
        tl = store.taskList(heaviest.stageId(), heaviest.attemptId(), heaviest.numTasks())
        durs = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        if med > 0:
            c["task_skew"] = max(durs) / med
    return c


def materialize(df):
    """Materialize ``df`` and cut its lineage, so the next span neither
    recomputes it nor carries its plan (nested cached plans make plan
    strings, and so every later job, grow without bound)."""
    return df.localCheckpoint(eager=True)


def layer_metrics(spans: list[dict], name: str) -> dict[str, float]:
    """wall_s plus every count of the spans called ``name`` (summed;
    the maximum for skew and peaks); all zeros when the run never
    entered the layer."""
    out: dict[str, float] = {"wall_s": 0.0}
    for rec in spans:
        if rec["name"] != name:
            continue
        out["wall_s"] += rec["end"] - rec["start"]
        for k, v in rec["counts"].items():
            if k == "task_skew" or k.startswith("peak_"):
                out[k] = max(out.get(k, 0.0), v)
            else:
                out[k] = out.get(k, 0) + v
    return out


class Tracer:
    def __init__(self, sampler: TreeSampler, run_id: str):
        self.sampler = sampler
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None  # set once a session exists

    @contextmanager
    def span(self, name: str):
        """Record one span; the body may add counts to the yielded dict."""
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(name, name)
        mark = self.sampler.mark()
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            rec["counts"].update(self.sampler.window(mark))
            self._stack.pop()
            if sc is not None:
                rec["counts"].update(self._spark_counts(sc, name))
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_group)

    def _spark_counts(self, sc, group: str) -> dict[str, float]:
        # the listener bus updates the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = sorted(
            {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
        )
        return {"jobs": len(jobs), **_stage_counters(self.spark, stages)}

    def add_counts(self, name: str, **counts) -> None:
        """Add counts measured after the fact to the last span ``name``."""
        rec = next(r for r in reversed(self.spans) if r["name"] == name)
        rec["counts"].update(counts)

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span timed outside the tracer (``time.time()`` ends)."""
        self.spans.append(
            {"name": name, "run_id": self.run_id, "parent": None, "counts": {},
             "start": start, "end": end}
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)
