"""In-memory spans around calls into the engine's layers.

``Tracer.wrap`` replaces a public function or method with a version
that records one span per call: name, start, end and parent span. When
enabled, each span runs its Spark jobs under a job group of its own and,
when it ends, reads those jobs' stages from Spark's status store:
stage and task counts, executor run and CPU time, shuffle bytes, spill,
GC time and the intervals in which the stages had tasks running.
Nothing is written until ``dump`` is called at the end of a run.

A disabled tracer records nothing and makes no Spark calls.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"
_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_mb", "shuffleReadBytes", 1e-6),
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("spill_mb", "diskBytesSpilled", 1e-6),
)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Record one span; yields its record so callers can add counts."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        if not self.enabled:
            yield rec
            return
        sid = len(self.spans)
        self.spans.append(rec)
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        group = f"perfbench-span-{sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            rec.update(self._spark_metrics(group))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span for every call of ``owner.attr`` (a function of
        a module, or a method of the class that defines it) until
        ``unwrap``."""
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches = []

    def _spark_metrics(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = defaultdict(float)
        busy = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            info = self.sc.statusTracker().getJobInfo(job_id)
            out["jobs"] += 1
            for stage_id in info.stageIds if info else ():
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["failed_tasks"] += stage.numFailedTasks()
                for key, getter, scale in _STAGE_FIELDS:
                    out[key] += getattr(stage, getter)() * scale
                first, done = stage.firstTaskLaunchedTime(), stage.completionTime()
                if first.isDefined() and done.isDefined():
                    busy.append((first.get().getTime() / 1000, done.get().getTime() / 1000))
        out = dict(out)
        out["busy"] = busy
        return out

    # -- summaries ------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)
        return kids

    def summarize(self, spans_from: int = 0) -> dict:
        """Totals over the spans recorded since index ``spans_from``:
        per span name the inclusive seconds, calls and Spark jobs (jobs
        of child spans included); per layer (the first part of a span
        name) the self time; Spark totals over the root spans; and one
        row per root span with its wall time, scheduler floor (wall
        with no stage running tasks) and executor run time."""
        kids = self.children()
        ids = range(spans_from, len(self.spans))

        def subtree(i):
            stack, out = [i], []
            while stack:
                j = stack.pop()
                out.append(j)
                stack.extend(kids.get(j, ()))
            return out

        by_name: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        layer_self: dict[str, float] = defaultdict(float)
        spark_tot: dict[str, float] = defaultdict(float)
        roots = []
        for i in ids:
            s = self.spans[i]
            dur = s["end"] - s["start"]
            tree = subtree(i)
            agg = by_name[s["name"]]
            agg["s"] += dur
            agg["calls"] += 1
            agg["jobs"] += sum(self.spans[j].get("jobs", 0) for j in tree)
            child_cover = _union_length(
                [(self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(i, ())]
            )
            layer_self[s["name"].split(".")[0]] += dur - child_cover
            if s["parent"] is None:
                row = defaultdict(float, name=s["name"], label=s.get("label", ""), wall_s=dur)
                for j in tree:
                    for key in _COUNTS + tuple(f[0] for f in _STAGE_FIELDS):
                        row[key] += self.spans[j].get(key, 0)
                busy = [
                    (max(a, s["start"]), min(b, s["end"]))
                    for j in tree for a, b in self.spans[j].get("busy", ())
                    if min(b, s["end"]) > max(a, s["start"])
                ]
                row["scheduler_floor_s"] = dur - _union_length(busy)
                roots.append(row)
                for key, val in row.items():
                    if isinstance(val, float) and key != "wall_s":
                        spark_tot[key] += val
        return {"by_name": by_name, "layer_self": layer_self, "spark": spark_tot, "roots": roots}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
