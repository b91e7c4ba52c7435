"""In-memory span recorder for the traced run.

A span is recorded around each call into a layer of the program, from the
benchmark's own files: name, start, end, parent span, request id, thread.
A span opened with ``group=True`` also runs its Spark work under a job
group of its own, and once the run is over the job, stage, task and
failed-task counts of that group are read back through the status
tracker. Reading them after the run keeps py4j round trips out of the
timed region and lets the status listener drain first.

Spans stay in memory and are written once, at the end of the run. A
layer's self time is its span's duration minus the part of that interval
its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    thread: int
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> duration minus the part of the span its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
        ]
        out[s.sid] = s.duration - covered(clipped)
    return out


class Tracer:
    """Records spans when enabled; a disabled tracer's spans are no-ops."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once the session is up
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, request: int | None = None, group: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        gid = prev = None
        if group and self.sc is not None:
            gid = f"perfbench-{sid}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if gid is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            span = Span(
                sid, name, start, end, parent, request, threading.get_ident(), gid
            )
            with self._lock:
                self.spans.append(span)

    def resolve_counts(self, timeout_s: float = 10.0) -> None:
        """Fill job/stage/task/failed-task counts of grouped spans."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout_s
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.1)
        time.sleep(0.5)  # let the status listener apply the last events
        for s in self.spans:
            if s.group is None:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for stid in info.stageIds:
                    st = tracker.getStageInfo(stid)
                    if st is None:
                        continue
                    s.stages += 1
                    s.tasks += st.numCompletedTasks + st.numFailedTasks
                    s.failed_tasks += st.numFailedTasks

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def summary(self, wall_s: float) -> dict:
        """Per span name: count, total and self seconds; plus the largest
        per-thread sum of self times as a share of the run wall."""
        selfs = self_times(self.spans)
        names: dict[str, dict] = {}
        per_thread: dict[int, float] = {}
        for s in self.spans:
            e = names.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += s.duration
            e["self_s"] += selfs[s.sid]
            per_thread[s.thread] = per_thread.get(s.thread, 0.0) + selfs[s.sid]
        return {
            "names": names,
            "max_thread_self_share": max(per_thread.values(), default=0.0)
            / max(wall_s, 1e-9),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
