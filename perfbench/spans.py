"""Span tracer for the traced run.

A span records a name, its start and end, its parent span and the Spark
job-id watermarks around it. Spans stay in memory and are written once,
when the run ends. :meth:`Tracer.wrap` replaces a layer's public function
where its caller looks it up (a module attribute or a class attribute), so
the program itself is not edited.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, probe):
        self.probe = probe
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.perf_counter(),
            "job0": self.probe.job_mark(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["job1"] = self.probe.job_mark()
            rec["t1"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace every call of ``owner.attr`` as a span called ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- reading spans back --------------------------------------------

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Closed spans called ``name``, optionally only those inside the
        span ``within``."""
        out = [s for s in self.spans if s["name"] == name and "t1" in s]
        if within is not None:
            out = [s for s in out if self.inside(s, within)]
        return out

    def inside(self, span: dict, outer: dict) -> bool:
        p = span["parent"]
        while p is not None:
            if p == outer["id"]:
                return True
            p = self.spans[p]["parent"]
        return False

    @staticmethod
    def duration(span: dict) -> float:
        return span["t1"] - span["t0"]

    @staticmethod
    def jobs(span: dict) -> int:
        return span["job1"] - span["job0"]

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its direct children cover."""
        kids = [
            s for s in self.spans
            if s["parent"] == span["id"] and "t1" in s
        ]
        return self.duration(span) - sum(self.duration(k) for k in kids)

    def total(self, name: str, within: dict | None = None) -> float:
        """Time inside spans called ``name``, outermost occurrences only
        (a recursive call is not counted twice)."""
        spans = self.named(name, within)
        ids = {s["id"] for s in spans}
        return sum(
            self.duration(s) for s in spans
            if not any(self.inside(s, self.spans[i]) for i in ids - {s["id"]})
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
