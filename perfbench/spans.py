"""Spans around calls into the package, kept in memory and written out
when the run ends. Each span records its name, start, end, parent and
the status-store deltas read when it ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, status=None):
        self.status = status  # probe.StatusStore, or None for no deltas
        self.spans: list[dict] = []
        self.active = False
        self.op: int | None = None  # parent of spans opened on other threads
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record `name` around the body when tracing is active; yields
        the span dict (None when inactive) so the body can add attrs."""
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": stack[-1] if stack else self.op, **attrs}
            self.spans.append(rec)
        snap = self.status.snapshot() if self.status else None
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if snap is not None:
                rec["status"] = self.status.since(snap)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
