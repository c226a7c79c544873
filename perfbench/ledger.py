"""In-memory spans for the traced run.

A span is one call into a layer from the benchmark's own code: name, start,
end, the span that caused it, and the operation it belongs to. While a span
is open, its name is also set as the Spark local property ``perfbench.span``
so every Spark job it starts is tagged with it in the event log. Nothing is
written until :meth:`Ledger.dump` at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Ledger:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._set_tag = None

    def bind_spark(self, spark) -> None:
        """Tag the Spark jobs of each open span (traced run only)."""
        if self.enabled:
            sc = spark.sparkContext
            self._set_tag = lambda tag: sc.setLocalProperty(SPAN_PROPERTY, tag)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if self._set_tag is not None:
            self._set_tag(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._set_tag is not None:
                self._set_tag(self.spans[self._stack[-1]]["name"]
                              if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
