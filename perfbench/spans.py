"""Spans around the engine's public calls, and per-layer metrics read
back from the Spark event log.

A span is ``(name, start, end, parent)`` plus the Spark job group its
jobs ran under.  Spans are kept in memory and written out once, at the
end of the run.  In a traced run every span gets its own job group, so
each stage in the event log can be attributed to exactly one span;
an untraced run records the same spans (two clock reads each) but sets
no job group and has no event log.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-span metric kinds.  Output row counts are not collected: under
# the 128-metric cap they are the first kind to go, then spill and CPU
# time outside the layers where they matter (run.SPAN_KINDS).
KINDS = ("busy_s", "jobs", "gap_s", "shuffle_mb", "cpu_s", "spill_mb")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with event-log times)
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    aliases: list[str] = field(default_factory=list)  # job groups set by Spark itself


class Tracer:
    """Records spans; with ``traced`` set, tags each span's Spark jobs."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.sc = None  # SparkContext, set once the session exists

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent)
        self.spans.append(sp)
        self._stack.append(idx)
        if self.traced and self.sc is not None:
            sp.group = f"span-{idx}"
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.traced and self.sc is not None:
                outer = self.spans[parent].group if parent is not None else None
                if outer:
                    self.sc.setJobGroup(outer, self.spans[parent].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, *names: str) -> float:
        return sum(sum(self.durations(n)) for n in names)

    def dump(self, path: str) -> None:
        """Write every span and count once, as JSON."""
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counts": self.counts,
                },
                fh,
            )


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


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(a["Value"])
            except (KeyError, TypeError, ValueError):
                pass
    return out


def read_event_log(log_dir: str) -> tuple[dict[int, dict], dict[str, list[int]]]:
    """Completed stages ``{stage_id: {start, end, group, metrics}}`` and
    job ids per job group, from the newest uncompressed event log."""
    files = sorted(
        (os.path.join(log_dir, f) for f in os.listdir(log_dir)),
        key=os.path.getmtime,
    )
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    jobs: dict[str, list[int]] = {}
    with open(files[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs.setdefault(g, []).append(ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[info["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stages[sid] = {
                    "start": info.get("Submission Time", 0) / 1000.0,
                    "end": info.get("Completion Time", 0) / 1000.0,
                    "group": stage_group.get(sid),
                    "metrics": _acc(info),
                }
    return stages, jobs


def layer_metrics(tracer: Tracer, log_dir: str) -> dict[str, dict[str, float]]:
    """Per span name (summed over its occurrences): ``busy_s`` self
    time, ``jobs``, ``gap_s`` (self time not covered by any of the
    span's own stages — the driver gap), ``shuffle_mb`` written,
    ``cpu_s`` of executor CPU and ``spill_mb`` (memory + disk)."""
    stages, jobs = read_event_log(log_dir)
    by_group: dict[str, list[dict]] = {}
    for st in stages.values():
        by_group.setdefault(st["group"], []).append(st)
    child_time: dict[int, float] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.end - sp.start
    out: dict[str, dict[str, float]] = {}
    for idx, sp in enumerate(tracer.spans):
        groups = [g for g in [sp.group, *sp.aliases] if g]
        own = [st for g in groups for st in by_group.get(g, [])]
        busy = (sp.end - sp.start) - child_time.get(idx, 0.0)
        in_stage = _union_len(
            [(max(st["start"], sp.start), min(st["end"], sp.end)) for st in own if st["end"] > sp.start and st["start"] < sp.end]
        )
        m = out.setdefault(sp.name, dict.fromkeys(KINDS, 0.0))
        m["busy_s"] += busy
        m["jobs"] += sum(len(jobs.get(g, [])) for g in groups)
        m["gap_s"] += max(0.0, busy - in_stage)
        m["shuffle_mb"] += sum(st["metrics"].get("shuffle.write.bytesWritten", 0.0) for st in own) / 1e6
        m["cpu_s"] += sum(st["metrics"].get("executorCpuTime", 0.0) for st in own) / 1e9
        m["spill_mb"] += (
            sum(
                st["metrics"].get("memoryBytesSpilled", 0.0) + st["metrics"].get("diskBytesSpilled", 0.0)
                for st in own
            )
            / 1e6
        )
    return out
