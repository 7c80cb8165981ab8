"""In-memory spans recorded by the benchmark around calls into the program.

A span has a name, a start and an end (epoch seconds, the clock Spark's
event log uses), the thread that opened it and the span that was open
around it. Entering a span on a thread also sets that thread's Spark job
description to the span's name, so the event log can be joined back to
the spans (see ledger.py). Jobs that the program submits from its own
worker threads carry no description; the ledger attributes those by time.

The program itself is never edited: ``Tracer.wrap`` swaps a public
function or method for a wrapper that opens a span around each call, and
``Tracer.close`` puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._open: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            # a span opened on a program worker thread has no parent on its
            # own thread; it belongs to the innermost span open anywhere
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "thread": threading.get_ident(),
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
            self._open.append(rec)
        stack.append(rec)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self._open.remove(rec)
            if self.sc is not None:
                self.sc.setJobDescription(prev)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``owner.attr``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class NoTracer:
    """The untraced run: spans cost nothing and nothing is patched."""

    def __init__(self):
        self.spans: list[dict] = []

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        pass

    def close(self) -> None:
        pass
