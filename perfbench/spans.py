"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, run); spans of one benchmark run
share the run id. They are kept in a list and written out once, when the
run ends. With tracing off every call is a no-op, so the untraced run pays
only a context-manager enter and exit per public call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_cost(n: int = 20_000) -> float:
    """Seconds an enabled span adds over a disabled one, timed over n empty
    spans of each."""
    cost = []
    for enabled in (False, True):
        tr = Tracer("cost", enabled)
        t0 = time.perf_counter()
        for _ in range(n):
            with tr.span("x"):
                pass
        cost.append((time.perf_counter() - t0) / n)
    return max(cost[1] - cost[0], 0.0)
