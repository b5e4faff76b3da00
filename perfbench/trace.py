"""Spans around each layer's public functions, recorded from outside
the runtime package.

``layers.install`` replaces a layer function with a wrapper at the
place the CLI looks it up (module attributes are read at call time, so
the unchanged CLI calls the wrapper).  The wrapper:

- opens a span (name, start, end, parent) that stays in memory;
- tags the Spark jobs it starts with ``bench:<workload>:<layer>`` so the
  event log can attribute executor time to the layer;
- materializes the layer's output before returning it, so the next
  layer's span does not absorb this layer's deferred work.  This breaks
  Spark's stage fusion; the run reports the cost as tracing overhead.

A ``StreamingQueryListener`` keeps the per-batch progress of the records
stream.  Spans nest per thread; a span opened in a thread with no open
span of its own (a ``foreachBatch`` callback) hangs under the innermost
span open in any thread.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    sid: int
    end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self._open: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, tag: bool = True):
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            s = Span(name, time.perf_counter(), parent.sid if parent else None,
                     len(self.spans))
            self.spans.append(s)
            self._open.append(s)
        stack.append(s)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        if tag:
            sc.setJobDescription(f"bench:{self.workload}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            sc.setJobDescription(prev)
            stack.pop()
            with self._lock:
                self._open.remove(s)

    # -- wrappers ----------------------------------------------------
    def patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Compute ``df`` once and hand on the computed rows."""
        out = df.localCheckpoint(eager=False)
        return out, out.count()  # one job computes and keeps the rows

    # -- streaming progress -----------------------------------------
    def listen(self) -> None:
        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "durations_ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    # -- reduction ---------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.sid] = s.duration - covered
        return out
