"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span (-1 for a root) and ``op`` the id of the operation the
span belongs to. Spans opened on a thread with no open span (the HTTP
server's handler threads) attach to the current operation's root span,
which is unambiguous because the load comes from one closed-loop client.

Spans stay in memory and are written out once, when the run ends.
Methods of the program's modules are wrapped by :func:`instrument`
from this file, so nothing under ``marlin_spark/`` is modified.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op = -1
        self._root = -1

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self._op])
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one benchmark operation; spans opened by other
        threads while it is open become its children."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        with self.span(name):
            self._root = self._stack()[-1]
            try:
                yield
            finally:
                self._op = self._root = -1

    # ---------------------------------------------------------- analysis
    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2]]

    def self_times(self) -> list[tuple[str, float]]:
        """(name, self seconds) per span: its duration minus the part of
        its interval covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] >= 0 and s[2]:
                children.setdefault(s[3], []).append((s[1], s[2]))
        out = []
        for i, s in enumerate(self.spans):
            if not s[2]:
                continue
            covered, hi = 0.0, s[1]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, hi), min(b, s[2])
                if b > a:
                    covered += b - a
                    hi = b
            out.append((s[0], (s[2] - s[1]) - covered))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": start,
                                    "end": end, "parent": parent, "op": op}) + "\n")


def instrument(tracer: Tracer, targets: list[tuple[type, str, str]]):
    """Wrap ``cls.method`` so each call records a span named ``span``.
    Returns a function that restores the originals."""
    saved = []
    for cls, meth, span_name in targets:
        orig = getattr(cls, meth)

        def make(orig=orig, span_name=span_name):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span(span_name):
                    return orig(*a, **kw)

            return wrapper

        saved.append((cls, meth, orig))
        setattr(cls, meth, make())

    def restore() -> None:
        for cls, meth, orig in saved:
            setattr(cls, meth, orig)

    return restore
