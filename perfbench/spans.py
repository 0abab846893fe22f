"""Spans around the engine's public entry points, recorded from outside.

The tracer replaces a function with a wrapper at every module attribute
that references it (so ``from x import f`` call sites see the wrapper
too) and records one span per call: name, start, end and parent.  Spark
jobs are added afterwards as child spans, read from the status store.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, module_prefixes: tuple[str, ...]):
        self.spans: list[dict] = []
        self.enabled = False
        self._prefixes = module_prefixes
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a helper thread's first span hangs under the main thread's
        # open span (the query that started the thread)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        with self._lock:
            self.spans.append({
                "id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": parent, **attrs,
            })

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, fn, name: str):
        """Wrap ``fn`` everywhere a traced module's attribute holds it."""
        wrapper = self._wrap(name, fn)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(self._prefixes):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, wrapper)
        return wrapper

    def install_methods(self, cls, prefix: str) -> None:
        """Wrap every public instance method defined on ``cls``."""
        for attr, value in list(vars(cls).items()):
            if inspect.isfunction(value) and not attr.startswith("_"):
                setattr(cls, attr, self._wrap(f"{prefix}.{attr}", value))

    def depth(self, span_id: int) -> int:
        d = 0
        while (span_id := self.spans[span_id]["parent"]) is not None:
            d += 1
        return d

    def innermost(self, t: float, candidates: list[int]) -> int | None:
        """Deepest closed span among ``candidates`` open at time ``t``."""
        best, best_depth = None, -1
        for sid in candidates:
            s = self.spans[sid]
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                d = self.depth(sid)
                if d > best_depth:
                    best, best_depth = sid, d
        return best

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def ancestors(self, span_id: int | None):
        while span_id is not None:
            yield self.spans[span_id]
            span_id = self.spans[span_id]["parent"]
