"""In-memory spans of a traced run, written out when the run ends.

A span is ``(id, parent, name, start, end, attrs)`` with wall-clock times
in epoch milliseconds, the clock Spark's status store uses for job and
stage times, so Spark's intervals nest under the benchmark's own spans.
Spans of one query or batch share its ``trace`` attribute.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def now_ms() -> float:
    return time.time() * 1000.0


def union_ms(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span around the ``with`` body; yields its id."""
        sid = self.add(name, now_ms(), float("nan"), parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = now_ms()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def enclosing(self, parents: list[int], t: float) -> int:
        """The span among ``parents`` whose interval holds time ``t``, else
        the last one that started before it."""
        best = parents[0]
        for sid in parents:
            s = self.spans[sid]
            if s["start"] <= t:
                best = sid
                if t <= s["end"]:
                    return sid
        return best

    def self_ms(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        covered = union_ms(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.children(sid)
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        return (s["end"] - s["start"]) - covered

    def self_by_name(self) -> dict:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.self_ms(s["id"])
        return {k: round(v, 3) for k, v in out.items()}

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.spans}, fh)
