"""In-memory spans for the traced run.

A span records a name, start and end (``perf_counter`` seconds), the
span that encloses it, the op it belongs to, and counts taken at the
same boundary. Spans stay in memory; the run writes them out with its
record when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False  # recording only while an op is traced
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        """Time the enclosed block as span ``name``; the yielded dict's
        ``counts`` may be filled in by the block. A no-op while inactive."""
        if not self.active:
            yield {"counts": counts}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "counts": counts,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, n: float) -> None:
        """Add ``n`` to count ``key`` of the innermost open span."""
        if self.active and self._stack:
            counts = self.spans[self._stack[-1]]["counts"]
            counts[key] = counts.get(key, 0) + n

    def ops(self) -> list[int]:
        return sorted({s["op"] for s in self.spans if s["op"] is not None})

    def per_op_seconds(self, name: str) -> list[float]:
        """For each traced op, the summed duration of its spans ``name``."""
        return [
            sum(s["end"] - s["start"] for s in self.spans if s["op"] == op and s["name"] == name)
            for op in self.ops()
        ]

    def per_op_count(self, key: str) -> list[float]:
        """For each traced op, count ``key`` summed over all its spans."""
        return [
            sum(s["counts"].get(key, 0) for s in self.spans if s["op"] == op)
            for op in self.ops()
        ]
