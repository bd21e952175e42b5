"""In-memory span tracer, attached to the package from outside.

A span records (name, start, end, parent, request id). Spans are
recorded only on a thread that is inside ``Tracer.request(rid)``, so a
traced run can interleave traced and untraced requests and measure the
tracing overhead against the untraced ones. ``Tracer.patch`` wraps a
module or class attribute (a call into one of the package's layers)
and ``Tracer.restore`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.stats import self_time


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the tracer's span list, None for a root
    request: str
    pid: int
    sid: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def active(self) -> bool:
        return getattr(self._local, "request", None) is not None

    @contextmanager
    def request(self, rid: str):
        prev, prev_stack = getattr(self._local, "request", None), getattr(self._local, "stack", None)
        self._local.request, self._local.stack = rid, []
        try:
            yield
        finally:
            self._local.request, self._local.stack = prev, prev_stack

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield
            return
        stack = self._local.stack
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._local.request, os.getpid(), sid))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active():
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(getattr(owner, attr), name))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- export ------------------------------------------------------------

    def dump(self, path: str) -> None:
        """Append the spans as JSON lines and forget them."""
        with self._lock:
            spans, self.spans = self.spans, []
        write_spans(spans, path, "a")


def write_spans(spans, path: str, mode: str = "w") -> None:
    with open(path, mode) as f:
        for s in spans:
            f.write(json.dumps(asdict(s)) + "\n")


def load_spans(paths) -> list[Span]:
    out = []
    for path in paths:
        with open(path) as f:
            out.extend(Span(**json.loads(line)) for line in f if line.strip())
    return out


def self_times_by_request(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{request id: {span name: summed self time}}. Parent links are
    per process (span ids index one process's list)."""
    children: dict[tuple[int, int], list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[(s.pid, s.parent)].append((s.start, s.end))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s.request][s.name] += self_time(s.start, s.end, children.get((s.pid, s.sid), ()))
    return out
