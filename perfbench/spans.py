"""In-memory spans around calls into the engine's layers (traced runs only).

``Tracer.wrap(owner, attr, name)`` replaces a method or function with a
timed wrapper. Spans nest per thread: a span's parent is the span open on
the same thread when it started, and a root span's id is shared by every
span under it, so the spans of one DoGet, micro-batch or query share an id.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

import numpy as np


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (name, start, end, span_id, parent_id, root_id)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1][0] if stack else 0
        root = stack[0][0] if stack else span_id
        stack.append((span_id, root, name))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((name, start, end, span_id, parent, root))

    def wrap(self, owner, attr: str, name: str, when=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``. ``when``, if
        given, is a predicate on the open parent span names and the call's
        positional arguments: the call is timed only when it returns true
        (e.g. toArrow only inside do_get)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def timed(*args, **kwargs):
            if when is not None and not when(tracer.open_names(), *args):
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, timed)

    def open_names(self) -> set[str]:
        return {name for _, _, name in self._stack()}

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    # --- reading ------------------------------------------------------------

    def durations_ms(self, name: str, since: float = 0.0, until: float = float("inf")) -> np.ndarray:
        """Durations of the ``name`` spans that started in [since, until)."""
        with self._lock:
            return np.array([(e - s) * 1e3 for n, s, e, *_ in self.spans if n == name and since <= s < until])

    def self_times_ms(self, since: float = 0.0) -> dict[str, float]:
        """Total self time per span name: duration minus the time its child
        spans cover."""
        with self._lock:
            spans = [sp for sp in self.spans if sp[1] >= since]
        child = defaultdict(float)
        for _name, s, e, _sid, parent, _root in spans:
            if parent:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for name, s, e, sid, _parent, _root in spans:
            out[name] += (e - s - child.get(sid, 0.0)) * 1e3
        return {k: round(v, 3) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        with self._lock:
            rows = [
                {"name": n, "start": s, "end": e, "id": i, "parent": p, "root": r}
                for n, s, e, i, p, r in self.spans
            ]
        with open(path, "w") as fh:
            json.dump(rows, fh)
