"""Wall-clock spans around the benchmark's calls into the program's layers.

A span names a layer after its module (``agg``, ``ledger.build``,
``serve.api`` ...). While it is open, the calling thread's Spark job group
is the path of open spans (``serve.http_server/serve.api``), so the event
log can attribute every job to the layer that caused it, and a layer's
figures include the layers it calls. With tracing off (``sc is None``) a
span is a no-op and no job group is set.

Tracing can also be paused per thread (:meth:`Tracer.thread_on`), so one
run can alternate traced and untraced units of work and report the
tracing overhead from the difference.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[tuple[str, str, float, float]] = []  # path, label, t0, t1
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def thread_on(self, on: bool) -> None:
        """Trace (or not) the spans the calling thread opens from now on."""
        self._local.on = on
        if self.enabled and not on:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, label: str = ""):
        if not self.enabled or not getattr(self._local, "on", True):
            yield
            return
        stack = self._stack()
        stack.append(layer)
        path = "/".join(stack)
        self.sc.setJobGroup(path, path)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if stack:
                parent = "/".join(stack)
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append((path, label, t0, t1))

    def intervals(self, layer: str, label: str | None = None) -> list[tuple[float, float]]:
        """Intervals of the spans that ``layer`` opened (any nesting)."""
        return [
            (t0, t1) for path, lab, t0, t1 in self.spans
            if path.rsplit("/", 1)[-1] == layer and (label is None or lab == label)
        ]

    def durations(self, layer: str, label: str | None = None) -> list[float]:
        return [t1 - t0 for t0, t1 in self.intervals(layer, label)]


def log(msg: str) -> None:
    """A progress line on stderr; stdout carries only the result."""
    print(f"e2ebench: {msg}", file=sys.stderr, flush=True)
