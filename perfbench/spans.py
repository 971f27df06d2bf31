"""Span tracing from outside the program.

The traced run replaces layer entry points with wrappers under the names
their callers look them up by (module attributes, class methods); no code
inside ``zeno_spark`` changes.  A wrapper that returns a DataFrame caches
and counts it inside its span, so the span times the execution, not just
the plan construction.  Spans stay in memory and are written out once.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass

from stats import self_time


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    round: int | None
    rows: int | None = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.round: int | None = None
        self.notes: dict[str, float] = {}  # counts made at span boundaries
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._cached: list = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        # a commit-pool thread's first span hangs off the main thread's
        # innermost open span (the run_round that submitted it)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self.spans.append(Span(name, time.monotonic(), 0.0, parent,
                                   self.round))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int, rows: int | None = None) -> None:
        self._stack().remove(idx)
        sp = self.spans[idx]
        sp.end = time.monotonic()
        sp.rows = rows

    def note(self, key: str, value: float) -> None:
        with self._lock:
            self.notes[key] = self.notes.get(key, 0) + value

    # -- wrapping -----------------------------------------------------------

    def materialize(self, df):
        out = df.cache()
        n = out.count()
        with self._lock:
            self._cached.append(out)
        return out, n

    def wrap(self, owner, attr: str, name, before=None, after=None,
             count_input=False):
        """Replace ``owner.attr`` by a span-recording wrapper.  ``name`` is
        the span name or a function of the call's args; ``before(tracer,
        args)`` and ``after(tracer, result, args)`` run outside the span;
        ``count_input`` counts the first DataFrame argument before the
        span opens (for useful-output ratios)."""
        from pyspark.sql import DataFrame

        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            span_name = name(args) if callable(name) else name
            if before is not None:
                before(self, args)
            if count_input:
                src = next(a for a in args if isinstance(a, DataFrame))
                self.note(span_name + ".in", src.count())
            idx = self.open(span_name)
            rows = None
            try:
                out = fn(*args, **kw)
                if isinstance(out, DataFrame):
                    out, rows = self.materialize(out)
            finally:
                self.close(idx, rows)
            if rows is not None:
                self.note(span_name + ".out", rows)
            if after is not None:
                after(self, out, args)
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unpersist(self) -> None:
        with self._lock:
            cached, self._cached = self._cached, []
        for df in cached:
            df.unpersist()

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        self.unpersist()

    # -- reading ------------------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> list[float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return [self_time(s.start, s.end, kids.get(i, []))
                for i, s in enumerate(self.spans)]

    def self_total(self, name: str) -> float:
        st = self.self_times()
        return sum(t for s, t in zip(self.spans, st) if s.name == name)

    def layer_shares(self, wall: float) -> list[tuple[str, float, float]]:
        """(layer, self seconds, share of ``wall``) per layer; the layer of
        a span is its name minus the last dotted part."""
        acc: dict[str, float] = {}
        for s, t in zip(self.spans, self.self_times()):
            layer = s.name.rsplit(".", 1)[0]
            acc[layer] = acc.get(layer, 0.0) + t
        return sorted(((k, v, v / wall) for k, v in acc.items()),
                      key=lambda r: -r[1])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
