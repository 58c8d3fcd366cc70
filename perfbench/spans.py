"""Spans around the benchmark's calls into the program, and the fold of
Spark's own metrics into them.

Spans are kept in memory and written when the run ends. In a traced run
each span also sets the Spark job group to its id, the session writes an
uncompressed, non-rolling event log, and a ``StreamingQueryListener``
records every microbatch. :func:`fold` then attributes each job to a
span: by job group when the group survived, else by the span whose time
interval holds the job's submission (structured streaming replaces the
job group with its own run id).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with the event log's ms
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` given it also tags jobs with the
    span id (traced run). Without it, spans cost two clock reads."""

    def __init__(self, spark=None) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{next(self._ids)}", name, parent.id if parent else None, 0.0, attrs=attrs)
        self._set_group(sp.id)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent.id if parent else None)
            self.spans.append(sp)

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as
    ``(epoch_start_s, batchDuration_s, durationMs)``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[tuple[float, float, dict]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            with self._lock:
                self.events.append((ts, p.batchDuration / 1000.0, dict(p.durationMs)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def snapshot(self) -> list[tuple[float, float, dict]]:
            with self._lock:
                return list(self.events)

    return ProgressLog()


# ------------------------------------------------------------------ fold

_MB = 1024.0 * 1024.0

#: Job metrics summed from the event log's task and stage events.
SUMMED = (
    "exec_cpu_s", "gc_s", "input_mb", "shuffle_write_mb", "spill_mb",
    "output_mb", "rows_out", "python_s",
)


def _union_s(intervals: Iterable[tuple[float, float]]) -> float:
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


def parse_event_log(lines: Iterable[str]) -> list[dict]:
    """Jobs with their interval, job group and summed task/stage metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                **dict.fromkeys(SUMMED, 0),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            job["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / _MB
            job["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            job["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
            out = tm.get("Output Metrics", {})
            job["output_mb"] += out.get("Bytes Written", 0) / _MB
            job["rows_out"] += out.get("Records Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    job["python_s"] += float(acc.get("Value", 0)) / 1000.0
    for job in jobs.values():
        if job["end"] is None:  # log cut before the job ended
            job["end"] = job["start"]
    return sorted(jobs.values(), key=lambda j: j["start"])


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def fold(
    spans: list[Span],
    jobs: list[dict],
    progress: list[tuple[float, float, dict]] = (),
) -> dict[str, dict]:
    """Per span id: its wall and self time, and the job metrics of every
    job attributed to it or to its descendants; streaming spans also get
    their microbatches. ``driver_s`` is the span's wall time minus the
    union of its jobs' run intervals (clipped to the span)."""
    by_id = {s.id: s for s in spans}
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append(s)
    own: dict[str, list[dict]] = {s.id: [] for s in spans}
    for job in jobs:
        target = by_id.get(job["group"]) or _innermost(spans, job["start"])
        if target is not None:
            own[target.id].append(job)
    own_mb: dict[str, list[tuple[float, float, dict]]] = {s.id: [] for s in spans}
    for ev in progress:
        target = _innermost(spans, ev[0])
        if target is not None:
            own_mb[target.id].append(ev)

    def subtree(sid: str) -> list[str]:
        out, stack = [], [sid]
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(c.id for c in children.get(cur, []))
        return out

    result: dict[str, dict] = {}
    for s in spans:
        ids = subtree(s.id)
        sj = [j for i in ids for j in own[i]]
        mbs = [m for i in ids for m in own_mb[i]]
        covered = _union_s((c.start, c.end) for c in children.get(s.id, []))
        busy = _union_s((max(j["start"], s.start), min(j["end"], s.end)) for j in sj if j["end"] > s.start and j["start"] < s.end)
        rec = {
            "name": s.name,
            "wall_s": s.wall_s,
            "self_s": s.wall_s - covered,
            "jobs": len(sj),
            "driver_s": max(0.0, s.wall_s - busy),
            "microbatches": len(mbs),
            "batch_s": [m[1] for m in mbs],
            "add_batch_s": sum(m[2].get("addBatch", 0) for m in mbs) / 1000.0,
            "commit_s": sum(m[2].get("commitOffsets", 0) + m[2].get("walCommit", 0) for m in mbs) / 1000.0,
            "planning_s": sum(m[2].get("queryPlanning", 0) for m in mbs) / 1000.0,
        }
        for f in SUMMED:
            rec[f] = sum(j[f] for j in sj)
        result[s.id] = rec
    return result
