"""Spans around the benchmark's calls into the engine's public API.

One ``Tracer`` per run. ``span(name)`` times a call in both modes, so
the timed code path is the same traced or not; with tracing on it also
keeps one record per call in memory: name, start, end, parent and run
id. The records are written out once, when the run ends. The Spark jobs
a call submitted are found from these records afterwards (see
``eventlog.EventLog.attribute``).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "seconds", "sid", "pass_index")

    def __init__(self, name: str, sid: int, parent: int | None, pass_index: int | None):
        self.name, self.sid, self.parent, self.pass_index = name, sid, parent, pass_index
        self.start = self.end = 0.0
        self.seconds = 0.0


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.spans: list[Span] = []
        self.pass_index: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Time the enclosed call. ``parent`` links a span opened on
        another thread (a streaming micro-batch) to the call that caused
        it; otherwise the enclosing span on this thread is the parent."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(name, sid, parent.sid if parent else None, self.pass_index)
        stack.append(sp)
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end = sp.start + sp.seconds
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(sp)

    def write(self, path: str) -> None:
        own = self_seconds(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.sid):
                f.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": s.sid,
                            "parent": s.parent,
                            "name": s.name,
                            "pass": s.pass_index,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "self_s": round(own[s.sid], 6),
                        }
                    )
                    + "\n"
                )


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover (children may overlap each
    other, so their union is subtracted, not their sum)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_seconds(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        )
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
