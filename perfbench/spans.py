"""Spans recorded from the benchmark's own files.

A traced run wraps public functions of the engine's modules by
replacing the module attributes their callers resolve at call time
(``http_service.handle_export`` is looked up by the request handler,
``export_trace_to_bytes`` and ``export_trace`` by ``handle_export``,
and so on), so no package file changes. Spans are kept in memory and
dumped as JSON when the run ends.

One client keeps one request in flight, so the span stack is shared
across the client thread and the server's handler thread: a span
opened by the handler nests under the client's ``http_get`` span.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.op_id: int | None = None
        self.enabled = False
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(sid)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``unwrap_all``. Class methods are rewrapped as class methods."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, classmethod):
            fn = orig.__func__

            @functools.wraps(fn)
            def cm(cls, *a, **k):
                with self.span(name):
                    return fn(cls, *a, **k)

            setattr(owner, attr, classmethod(cm))
        else:

            @functools.wraps(orig)
            def f(*a, **k):
                with self.span(name):
                    return orig(*a, **k)

            setattr(owner, attr, f)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    # ------------------------------------------------------------ analysis

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span id → seconds not covered by its children's intervals."""
        spans = self.closed()
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
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
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def per_op_map(self, name: str, self_time: bool = False, ops=None) -> dict:
        """Op id → total seconds of the spans called ``name`` in that op
        (their durations, or their self times); ``ops`` filters op ids."""
        st = self.self_times() if self_time else None
        acc: dict[object, float] = {}
        for s in self.closed():
            if s["name"] == name and (ops is None or s["op"] in ops):
                v = st[s["id"]] if self_time else s["end"] - s["start"]
                acc[s["op"]] = acc.get(s["op"], 0.0) + v
        return acc

    def per_op(self, name: str, self_time: bool = False, ops=None) -> list[float]:
        return list(self.per_op_map(name, self_time, ops).values())

    def median_ms(self, name: str, self_time: bool = False) -> float:
        vals = self.per_op(name, self_time)
        return statistics.median(vals) * 1000 if vals else 0.0

    def self_table(self) -> list[tuple[str, int, float, float]]:
        """(layer span name, spans, median total ms per op, median self
        ms per op), one row per span name."""
        names = sorted({s["name"] for s in self.closed()})
        return [
            (
                n,
                sum(1 for s in self.closed() if s["name"] == n),
                self.median_ms(n),
                self.median_ms(n, self_time=True),
            )
            for n in names
        ]
