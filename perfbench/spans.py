"""In-memory spans for the traced run.

A span has a name, start and end (perf_counter seconds), a parent span
and the run-wide op id it belongs to. Spans are always timed, so the
untraced run reads its op wall times from the same code path, but they
are only kept when tracing is on; they are written out once, at the end.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # the open spans of each thread

    @contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        if self.enabled:
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict) -> None:
        """Record a span measured elsewhere (a micro-batch, from
        streaming progress) under ``parent``."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "parent": parent["id"],
                    "op": parent["op"],
                    "start": start,
                    "end": end,
                }
            )

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that
        child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, lo
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                a, b = max(c["start"], cur), min(c["end"], hi)
                if b > a:
                    covered += b - a
                    cur = b
            out[s["name"]] += (hi - lo) - covered
        return dict(out)

    def dump(self, path, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)
