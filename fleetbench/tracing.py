"""Spans and counts recorded from outside the program.

The tracer wraps public functions of ``gordo_spark`` for the length of a
traced phase and restores them afterwards, so untraced runs execute the
program untouched. Spans stay in memory and are written once, at the end.
A span's parent is the innermost open span of the same thread; spans
opened on a thread with nothing open (pool workers, request handlers)
hang off the phase span and start a new trace id.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

POLL_S = 0.5  # status-tracker poll interval


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent, trace = stack[-1].id, stack[-1].trace
        else:
            parent = self._root.id if self._root else None
            trace = sid
        s = Span(sid, parent, trace, name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def phase(self, name: str):
        """The root span of a traced phase; patches stay in place only
        inside it."""
        with self.span(name) as root:
            self._root = root
            try:
                yield root
            finally:
                self._root = None
                self.restore()

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] += 1

    # --------------------------------------------------------- patching
    def wrap(self, owner: object, attr: str, name: str, counter: str | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name`` (and
        bumping ``counter``) around each call, until :meth:`restore`."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = original.__func__ if isinstance(original, (staticmethod, classmethod)) else original

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        new = type(original)(wrapper) if isinstance(original, (staticmethod, classmethod)) else wrapper
        self.patch(owner, attr, new)

    def patch(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr = new`` until :meth:`restore`."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, new)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ---------------------------------------------------------- results
    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds. Self time is the
        span's duration minus the part of it covered by its children
        (children on other threads may overlap; their union counts once)."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.dur
            row["self_s"] += s.dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)],
                    "counts": dict(self.counts),
                    "self_times": self.self_times(),
                    **extra,
                },
                f,
            )


class JobCounter:
    """Spark jobs, stages and tasks started after construction, read from
    the ``SparkContext`` status tracker. Job ids are sequential, so the
    jobs of a phase are the ids above the highest one seen at its start.
    The tracker keeps a bounded history, so :meth:`poll` is called from a
    background thread while the phase runs, every ``POLL_S`` seconds."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        ids = list(self.tracker.getJobIdsForGroup(None)) + list(self.tracker.getActiveJobsIds())
        self.top = max(ids, default=-1)
        self._advance()
        self.floor = self.top
        self.jobs: dict[int, tuple[str, tuple[int, ...]]] = {}
        self.tasks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _advance(self) -> None:
        # ids are sequential across job groups: walk up to the newest
        while self.tracker.getJobInfo(self.top + 1) is not None:
            self.top += 1

    def poll(self) -> None:
        self._advance()
        for jid in range(self.floor + 1, self.top + 1):
            if self.jobs.get(jid, ("",))[0] in ("SUCCEEDED", "FAILED"):
                continue
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            self.jobs[jid] = (str(info.status), tuple(info.stageIds))
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    self.tasks[sid] = st.numCompletedTasks

    def _loop(self) -> None:
        while not self._stop.wait(POLL_S):
            self.poll()

    def stop(self) -> dict[str, int]:
        self._stop.set()
        self._thread.join(timeout=10)
        self.poll()
        stages = {s for _, ids in self.jobs.values() for s in ids}
        return {
            "jobs": len(self.jobs),
            "stages": len(stages),
            "tasks": sum(self.tasks.values()),
            "failed_jobs": sum(1 for st, _ in self.jobs.values() if st == "FAILED"),
        }
