"""In-memory span recorder for the traced run.

A span has a name, a start and end (seconds on the run's monotonic
clock), the id of the span that caused it, and the run id.  Spans are
kept in memory and written out once, when the run ends.  A span's
self time is its duration minus the part of its interval that its
children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Records nested spans; used only by the traced run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Summed self time (seconds) per span name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered(children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {
            "run_id": self.run_id,
            **extra,
            "self_time_s": self.self_times(),
            "spans": self.spans,
        }
        path.write_text(json.dumps(doc, indent=1, sort_keys=True))


class NullTracer:
    """Stands in for ``Tracer`` where nothing is to be recorded."""

    def span(self, name: str):
        return nullcontext()
