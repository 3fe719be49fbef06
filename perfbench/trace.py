"""In-memory spans around calls into synch_spark's layers.

The benchmark wraps module attributes and class methods from the
outside — no file under synch_spark/ is edited. A wrapped callable opens
a span (name, start, end, parent span, operation id); spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def operation(self, op_id: str):
        """Spans opened inside share ``op_id`` (one id per benchmark
        operation: a query, a micro-batch, a replayed batch, a read)."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "op": getattr(self._local, "op", None),
               "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None, "error": None}
        stack.append(rec)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    # -- wrapping ---------------------------------------------------------
    def wrap_function(self, module, attr: str, name, before=None, after=None):
        """Replace ``module.attr`` — and every other loaded synch_spark
        module's reference to the same function object, since
        ``from x import f`` copies the binding — with a spanning wrapper.

        ``name``: span name, or a callable(args, kwargs) -> name.
        ``before(args, kwargs)`` returns a context handed to
        ``after(ctx, args, kwargs, result, span)``."""
        orig = getattr(module, attr)
        wrapper = self._wrapper(orig, name, before, after)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname == "synch_spark" or mname.startswith("synch_spark.")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, wrapper)
        return wrapper

    def wrap_method(self, cls, attr: str, name, before=None, after=None):
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, name, before, after))

    def _wrapper(self, orig, name, before, after):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sname = name(args, kwargs) if callable(name) else name
            ctx = before(args, kwargs) if before else None
            with tracer.span(sname) as rec:
                result = orig(*args, **kwargs)
            if after:
                after(ctx, args, kwargs, result, rec)
            return result

        return wrapper

    def unwrap_all(self) -> None:
        for target, attr, orig in reversed(self._patches):
            setattr(target, attr, orig)
        self._patches.clear()

    # -- arithmetic -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            rec = dict(s)
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round(s["end"] - t0, 6)
            rec["self"] = round(selfs[s["id"]], 6)
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f, default=str)


def _union_length(intervals) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """span id -> its duration minus the part of its interval covered by
    its direct children (children on other threads may overlap each
    other, so the covered part is the union of their clipped
    intervals)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = _union_length(
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > lo and c["start"] < hi)
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out
