"""In-memory span recorder that wraps the program's module attributes.

The traced run replaces selected functions (for example
``plans.crawl.run_round`` or ``BloomSeen.probe``) with wrappers that record
one span per call: name, start, end, parent span and trace id. Nothing in
the program changes; the originals are put back when the tracer closes.
Spans stay in memory until ``dump`` writes them as JSON lines.

Parents follow the calling thread. A call made on a pool thread (the round's
pooled writes) has no span open on its own thread, so its parent is the
innermost span open on the main thread at that moment: the ``run_round``
that submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

_MISSING = object()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        self.trace_id = ""

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            self._next_id += 1
            span = {
                "id": self._next_id,
                "name": name,
                "parent": parent["id"] if parent else None,
                "trace": self.trace_id,
                "thread": threading.current_thread().name,
                "start": time.monotonic(),
                "end": None,
                **attrs,
            }
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.monotonic()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.start(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, owner: object, attr: str, name: str, arg_attrs=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``arg_attrs(args, kwargs) -> dict`` adds attributes to each span,
        such as the table a ``write_table`` call writes."""
        original = getattr(owner, attr)
        raw = vars(owner).get(attr, _MISSING)
        is_static = isinstance(raw, staticmethod)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, **(arg_attrs(args, kwargs) if arg_attrs else {})):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def close(self) -> None:
        """Put every wrapped attribute back."""
        for owner, attr, raw in reversed(self._patches):
            if raw is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._patches.clear()

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self_time(self.spans, s)}) + "\n")


def children(spans: list[dict], parent: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == parent["id"]]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the part of its interval its children cover."""
    kids = [(c["start"], c["end"]) for c in children(spans, span)]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def attributed_share(spans: list[dict], root: dict) -> float:
    """Share of ``root``'s wall time covered by its named child spans."""
    dur = root["end"] - root["start"]
    if dur <= 0:
        return 1.0
    kids = [(c["start"], c["end"]) for c in children(spans, root)]
    return covered(kids, root["start"], root["end"]) / dur
