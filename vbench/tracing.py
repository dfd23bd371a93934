"""Spans around calls into the engine, Spark job groups per span, and a
Spark event-log reader that attributes jobs and stages to spans.

Everything here runs from outside the package: a span wraps a call the
benchmark makes, and ``SparkContext.setJobGroup`` tags every job the call
starts with the span's id, so the event log (switched on at session
launch) can be joined back to spans once the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "vbench-span-"


class Tracer:
    """Collects spans in memory. A disabled tracer yields ``None`` spans
    and never touches the SparkContext, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"  # copied into every span: setup, warm, timed
        self.cost = 0.0  # seconds spent in span bookkeeping (the overhead)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "request": request or (parent["request"] if parent else None),
               "phase": self.phase, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        self.cost += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.cost += time.perf_counter() - t1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part covered by its direct children (s)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input_bytes",
}


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per span id: jobs, stages and summed stage metrics from a finished
    (session stopped) Spark event log. ``python_ms`` is the ``time to run
    Python workers`` SQL metric (ms, summed over tasks). A stage reports
    each accumulator's running total, so every accumulator counts once,
    at its largest value."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f) and not f.endswith(".inprogress")
                   and os.path.basename(f).startswith(("events_", "local-")))
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    accs: dict[tuple[int, int], tuple[str, float]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX):])
                    job_span[ev["Job ID"]] = sid
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is None or "Submission Time" not in info:
                        continue  # skipped stage (shuffle output reused)
                    sid = job_span[job]
                    out[sid]["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name", "")
                        key = _STAGE_METRICS.get(name)
                        if key is None and name == "time to run Python workers":
                            key = "python_ms"
                        if key is None:
                            continue
                        val = float(acc.get("Value") or 0)
                        prev = accs.get((sid, acc["ID"]))
                        accs[(sid, acc["ID"])] = (key, max(val, prev[1] if prev else val))
    for (sid, _acc), (key, val) in accs.items():
        out[sid][key] += val
    return {k: dict(v) for k, v in out.items()}
