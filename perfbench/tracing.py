"""Spans, Spark job accounting and process-tree memory for the benchmark.

Spans are recorded from the benchmark's own code, around each call into a
public function of the package. With tracing off a span is only a timer; with
tracing on it also tags the call's Spark jobs with ``setJobGroup`` and, when
the span ends, reads the jobs, stages and tasks it launched from the status
tracker. Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    rid: str | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)
    hook_in: float = 0.0  # tracing-hook time spent inside this span

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; records and accounts them only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self.hook_s = 0.0  # driver time spent in the tracing hooks
        if enabled:
            self._seen_jobs = self._known_jobs(None)

    def _known_jobs(self, group: str | None) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if group is not None:
            ids |= set(st.getJobIdsForGroup(group))
        return ids

    def _claim_jobs(self, sp: Span, group: str) -> None:
        """Attribute every job launched since the last claim to ``sp``.

        Jobs from threads the package starts carry no job group (pinned
        thread mode), so new ungrouped job ids are claimed as well; the
        benchmark is the only client, so nothing else launches jobs."""
        st = self.sc.statusTracker()
        new = self._known_jobs(group) - self._seen_jobs
        self._seen_jobs |= new
        sp.jobs = len(new)
        for jid in new:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:  # skipped stages never ran
                    sp.stages += 1
                    sp.tasks += stage.numTasks

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        group = rid or name
        h0 = time.perf_counter()
        if self.enabled:
            if parent is None:  # jobs run between spans belong to no span
                self._seen_jobs |= self._known_jobs(None)
            self.sc.setJobGroup(group, name)
        sp = Span(name, rid, parent, time.perf_counter())
        self.spans.append(sp)
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._claim_jobs(sp, group)
                hook = (sp.start - h0) + (time.perf_counter() - sp.end)
                self.hook_s += hook
                if parent is not None:
                    self.spans[parent].hook_in += hook

    def total(self, sp: Span, attr: str) -> int:
        """Jobs/stages/tasks of a span including its children."""
        return getattr(sp, attr) + sum(
            self.total(self.spans[c], attr) for c in sp.children
        )

    def self_time(self, sp: Span) -> float:
        """Duration minus the part covered by child spans and by the tracing
        hooks around them (children of one span run one after another, so
        their durations add up)."""
        return sp.dur - sp.hook_in - sum(self.spans[c].dur for c in sp.children)

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "rid": s.rid, "parent": s.parent,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    "self_s": round(self.self_time(s), 6),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                }) + "\n")


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all of its descendants: pages
    shared between processes (forked Python workers share most of theirs
    with their daemon) are split among them, so the sum counts them once."""
    parent_of: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        parent_of[int(ent)] = int(stat[stat.rfind(")") + 2:].split()[1])
    total = 0
    for pid in parent_of:
        p = pid
        while p and p != root:
            p = parent_of.get(p, 0)
        if p != root:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples the process tree's resident memory on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
