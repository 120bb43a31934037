"""Spans for the traced run.

A span is (name, start, end, parent, iteration). Entering a span also
sets the Spark local property ``perfbench.span`` to the span's id, so
every job the span triggers is attributed to it in the event log
(see eventlog.py). Spans stay in memory and are written as JSONL when
the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from eventlog import SPAN_PROPERTY


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if iteration is None and parent is not None:
            iteration = parent["iteration"]
        rec = {
            "id": f"{len(self.spans)}:{name}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": iteration,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._local_property(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self._local_property(parent["id"] if parent else None)

    def _local_property(self, value):
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def ids(self, name: str) -> list[str]:
        return [s["id"] for s in self.spans if s["name"] == name]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
