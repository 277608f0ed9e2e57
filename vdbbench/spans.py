"""In-memory spans around calls into the engine's layers.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a function at the name its caller resolves (a module global or
a class attribute) for the life of one run. A span has a name, start,
end, parent and a request id shared by every span of one request; the
request context crosses the HTTP hop in a request header.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

HEADER = "X-Bench-Trace"  # "<request id>:<parent span id>"
FAILED_S = 1e9  # the latency a failed operation counts with


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- context -------------------------------------------------------------
    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def adopt(self, header: str | None) -> None:
        """Continue a request whose parent span lives in another thread."""
        stack = self._stack()
        stack.clear()
        rid, _, parent = (header or "").partition(":")
        if parent.isdigit():
            stack.append((int(parent), rid))

    def current(self) -> tuple[int | None, str | None]:
        stack = self._stack()
        return stack[-1] if stack else (None, None)

    def header(self) -> str | None:
        sid, rid = self.current()
        return f"{rid}:{sid}" if self.enabled and sid is not None else None

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        """Record a span under the thread's current one; ``rid`` starts a
        new request."""
        if not self.enabled:
            yield None
            return
        parent, parent_rid = self.current()
        sid = next(self._ids)
        stack = self._stack()
        stack.append((sid, rid or parent_rid))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            stack.pop()
            span = Span(sid, name, start, time.perf_counter(), parent, rid or parent_rid)
            with self._lock:
                self.spans.append(span)

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Record a span around ``owner.attr``; ``on_result(result)`` may
        return a replacement result (used to time a returned DataFrame's
        collect as its own span)."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            return on_result(out) if (on_result and self.enabled) else out

        self.patch(owner, attr, wrapped)

    def patch(self, owner: object, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`unwrap_all`."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def timed_collect(self, name: str):
        """on_result hook: the DataFrame's ``collect`` becomes a span."""

        def hook(df):
            orig = df.collect

            def collect():
                with self.span(name):
                    return orig()

            df.collect = collect
            return df

        return hook

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# -- analysis -----------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for c in sorted(children[s.span_id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s.span_id] = (s.end - s.start) - covered
    return out


def durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
