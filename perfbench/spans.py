"""Spans around the benchmark's calls into each layer, and a streaming
listener.

A span is (name, start, end, parent, op). Spans of one operation share the
op id, and every Spark job an operation starts carries the job group
``perfbench-op-<id>``, so the event log's jobs, stages and tasks map back
to the operation. A tracer that is not ``enabled`` records nothing and
sets no job group, so an untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

JOB_GROUP_PREFIX = "perfbench-op-"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0,
                               self._stack[-1] if self._stack else None,
                               self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def operation(self, spark, op_id: int, kind: str):
        """One benchmark operation: a root span plus a Spark job group."""
        if not self.enabled:
            yield
            return
        self.op = op_id
        spark.sparkContext.setJobGroup(f"{JOB_GROUP_PREFIX}{op_id}", kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
            self.op = None

    def reset(self) -> None:
        """Forget what the warm-up recorded."""
        self.spans.clear()
        self.progress.clear()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def mean(self, name: str) -> float:
        n = self.count(name)
        return self.total(name) / n if n else 0.0

    def op_windows(self) -> dict[int, tuple[float, float]]:
        """op id -> (start, end) in epoch seconds, from the root spans."""
        return {s.op: (s.start, s.end) for s in self.spans
                if s.parent is None and s.op is not None}


def streaming_listener(sink: list):
    """A StreamingQueryListener appending each progress event's batch id,
    input rows and ``durationMs`` phases to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"batch": p.batchId, "rows": p.numInputRows,
                         "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
