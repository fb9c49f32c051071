"""In-memory spans with Spark job attribution, for the traced run.

A span is opened around a call into one layer's public function. It
records name, start, end, parent and a request id (batch or query), and
owns a Spark job group while it is the innermost open span, so every
Spark job started inside it is attributed to it and to nothing else.
Stage metrics (executor run time, input bytes, shuffle bytes) are read
from Spark's status store when the span closes, before its stages
can be evicted.

With tracing disabled every ``span`` is a no-op context manager and no
function of the program is wrapped: the untraced run executes the
program exactly as a user would.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set by bind() once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        # time spent in the tracer itself (job-group calls, status store
        # reads): the traced run's own overhead
        self.overhead_s = 0.0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, ref: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "ref": ref if ref is not None else (parent or {}).get("ref"),
            "group": f"perfbench-{self._next_id}",
            "jobs": [],
            "stages": {},
        }
        self._next_id += 1
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._collect_jobs(rec)
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _collect_jobs(self, rec: dict) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
        totals = {"executor_run_s": 0.0, "input_bytes": 0,
                  "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for jid in rec["jobs"]:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                attempts = store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    totals["executor_run_s"] += sd.executorRunTime() / 1000.0
                    totals["input_bytes"] += sd.inputBytes()
                    totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        rec["stages"] = totals

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a traced wrapper (instance attribute
        for objects, module attribute for modules). Only used when
        tracing is on."""
        if not self.enabled or not hasattr(obj, attr):
            return
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in (
                    "id", "name", "parent", "ref", "start", "end", "jobs",
                    "stages")}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its direct children
    (children of one span never overlap: the benchmark is one thread)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            for s in spans}


def summarize(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total time, self time, jobs and stage
    totals. Jobs and stage metrics are already exclusive: a job belongs
    to the innermost span open when it started."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        a = out.setdefault(s["name"], {
            "calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0,
            "executor_run_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
        })
        a["calls"] += 1
        a["s"] += s["end"] - s["start"]
        a["self_s"] += selfs[s["id"]]
        a["jobs"] += len(s["jobs"])
        st = s["stages"]
        if st:
            a["executor_run_s"] += st["executor_run_s"]
            a["input_bytes"] += st["input_bytes"]
            a["shuffle_bytes"] += (st["shuffle_read_bytes"]
                                   + st["shuffle_write_bytes"])
    return out


def inclusive(spans: list[dict], root_name: str, key: str) -> float:
    """Sum of a stage metric over every span at or below spans named
    ``root_name`` (e.g. all input bytes a run_batch call caused)."""
    by_id = {s["id"]: s for s in spans}

    def under(s) -> bool:
        while s is not None:
            if s["name"] == root_name:
                return True
            s = by_id.get(s["parent"])
        return False

    return sum(s["stages"].get(key, 0) for s in spans
               if s["stages"] and under(s))
