"""In-memory spans for the traced run.

A span records its name, start, end (epoch seconds, so they line up with
Spark's event-log task times), its parent span and the id of the operation
it belongs to. Spans are kept in a list and written out once, when the run
ends. A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from stages import covered_s


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **counters):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {
            "id": len(self.spans), "name": name, "parent": parent,
            "op_id": op_id, "start": time.time(), "end": None,
        }
        rec.update(counters)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """{span id: duration minus the union of its children's intervals}"""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - covered_s(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
