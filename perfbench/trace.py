"""Layer spans recorded from outside the engine, joined with the Spark event log.

A span wraps one call into an engine layer's public function (the caller
forces the layer's output inside the span). Each span runs under its own
Spark job group, so every job, stage and task in the session's event log can
be attributed to the span that launched it. Layer metrics are per traced
iteration:

- ``wall_s``: span duration, children included;
- ``self_s``: span duration minus the part its child spans cover;
- ``jobs``, ``executor_run_s``, ``executor_cpu_s``, ``shuffle_read_mb``,
  ``shuffle_write_mb``, ``spill_mb``: summed over the jobs of the span and its
  children (spill is disk bytes spilled);
- ``driver_gap_s``: span duration minus the union of its stages' intervals,
  i.e. time in which no stage of the layer ran: planning, codegen, AQE
  re-optimisation and driver round-trips.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = (
    "layout",
    "pipeline",
    "assemble",
    "metrics",
    "io",
    "parse",
    "trainops.assemble_text",
    "trainops.labeled",
    "trainops.edges",
    "trainops.cc",
    "trainops.media_groups",
    "trainops.strip",
    "trainops.verdicts",
)
LAYER_FIELDS = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "driver_gap_s": "s",
}
# operator facts recorded by the workloads next to the spans
COUNTS = {
    "layout.pages": "count",
    "layout.ok_ratio": "ratio",
    "pipeline.kept_ratio": "ratio",
    "io.write_amp": "ratio",
    "trainops.edges.rows": "count",
    "trainops.kept_ratio": "ratio",
    "trainops.cc.iterations": "count",
    "trainops.cc.contractions": "count",
    "trace.overhead_ratio": "ratio",
}
MB = 1024 * 1024


def metric_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in a fixed order."""
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(COUNTS)
    return units


@dataclass(frozen=True)
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None


class Tracer:
    """Records spans in memory; each span is the job group of the jobs it runs."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[tuple[str, str]] = []
        self._next = 0
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        sid = f"perfbench-{self._next}-{name}"
        self._next += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._sc.setJobGroup(sid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(*self._stack[-1])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(sid, name, start, end, parent))


def event_log_files(log_dir: str) -> list[str]:
    """The session's event log under ``spark.eventLog.dir``: Spark 4.x writes
    a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``; older
    versions, or rolling turned off, write one file per application."""
    (entry,) = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    path = os.path.join(log_dir, entry)
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for f in files:
        if re.search(r"\.(zstd|lz4|lzf|snappy|inprogress)$", f):
            raise RuntimeError(
                f"event log {f} is compressed or still open; stop the session "
                "first and set spark.eventLog.compress=false"
            )
    return files


def read_events(log_dir: str):
    for f in event_log_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[Span], events, iterations: int) -> dict[str, float]:
    """Per-layer metrics, averaged over ``iterations`` traced iterations.
    Layers without a span read 0."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_iv: dict[int, list[tuple[float, float]]] = {}
    stage_tm: dict[int, list[float]] = {}  # run_s, cpu_s, read_mb, write_mb, spill_mb
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job_group[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                stage_iv.setdefault(si["Stage ID"], []).append(
                    (si["Submission Time"] / 1000, si["Completion Time"] / 1000)
                )
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tm = e["Task Metrics"]
            rd, wr = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            acc = stage_tm.setdefault(e["Stage ID"], [0.0] * 5)
            acc[0] += tm["Executor Run Time"] / 1000
            acc[1] += tm["Executor CPU Time"] / 1e9
            acc[2] += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
            acc[3] += wr["Shuffle Bytes Written"] / MB
            acc[4] += tm["Disk Bytes Spilled"] / MB

    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.id, []):
            out.extend(subtree(c))
        return out

    group_stages: dict[str, list[int]] = {}
    for sid, jid in stage_job.items():
        g = job_group.get(jid)
        if g is not None:
            group_stages.setdefault(g, []).append(sid)

    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    for s in spans:
        if s.name not in LAYERS:
            continue
        ids = {x.id for x in subtree(s)}
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        stages = [sid for g in ids for sid in group_stages.get(g, [])]
        ivs = [
            (max(a, s.start), min(b, s.end))
            for sid in stages
            for a, b in stage_iv.get(sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        tm = [sum(stage_tm.get(sid, [0.0] * 5)[i] for sid in stages) for i in range(5)]
        add = {
            "wall_s": wall,
            "self_s": wall - _union_len(kids),
            "jobs": sum(1 for g in job_group.values() if g in ids),
            "executor_run_s": tm[0],
            "executor_cpu_s": tm[1],
            "shuffle_read_mb": tm[2],
            "shuffle_write_mb": tm[3],
            "spill_mb": tm[4],
            "driver_gap_s": wall - _union_len(ivs),
        }
        for f, v in add.items():
            out[f"{s.name}.{f}"] += v / iterations
    return out
