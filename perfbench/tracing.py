"""Spans recorded by the benchmark around calls into the program's layers.

A span has a name, a layer, a start, an end, a parent and the run id it
shares with every other span of the run.  While a span is open its Spark job
description is ``pb:<run_id>:<span_id>``, so the SQL executions the status
store records during the span map back to it.  Spans are kept in memory and
written out once, when the run ends.

``NullTracer`` is what untraced runs use: the same calls, no recording and
no job descriptions.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    run_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    @contextmanager
    def span(self, name: str, layer: str):
        yield None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def prefix(self) -> str:
        """What the job description of every span starts with."""
        return f"pb:{self.run_id}:"

    def description(self, span: Span) -> str:
        return f"{self.prefix}{span.id}"

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None,
                 self.run_id, name, layer, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(self.description(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.description(parent) if parent else None)

    def span_of(self, description: str | None) -> Span | None:
        if not description or not description.startswith(self.prefix):
            return None
        return self.spans[int(description[len(self.prefix):])]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def write(self, path: str, executions=()) -> None:
        """Spans, then the status-store executions recorded during them."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": asdict(s)}) + "\n")
            for e in executions:
                f.write(json.dumps({"execution": e}) + "\n")
