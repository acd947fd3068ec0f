"""In-process span recorder for the traced benchmark run.

The benchmark wraps public methods of the package (class attributes,
patched for the duration of the run and restored afterwards) so every
call records a span: name, trace id, span id, parent span id, start and
end.  The parent is the span open on the same thread when the call
started; the trace id is whatever unit of work the thread declared last
(a consumer batch, a generator tick, a micro-batch).  Spans stay in
memory and are written out once the run has been measured; self time is
a span's duration minus the time its direct children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from common import pct


class Tracer:
    def __init__(self) -> None:
        # (name, trace, span_id, parent_id, start, end); list.append is
        # atomic, so threads record without a lock
        self.spans: list[tuple[str, str, int, int, float, float]] = []
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = {}

    # -- recording -------------------------------------------------------
    def set_trace(self, trace: str) -> None:
        """Declare the unit of work the calling thread is now serving."""
        self._tl.trace = trace

    @contextmanager
    def span(self, name: str):
        tl = self._tl
        parent = getattr(tl, "span", 0)
        sid = next(self._ids)
        tl.span = sid
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            tl.span = parent
            self.spans.append((name, getattr(tl, "trace", ""), sid, parent, t0, t1))

    def add(self, name: str, trace: str, start: float, end: float, parent: int = 0) -> int:
        """Record a span measured elsewhere (e.g. a Spark progress
        duration); returns its id so children can point at it."""
        sid = next(self._ids)
        self.spans.append((name, trace, sid, parent, start, end))
        return sid

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Record a span around every call of ``owner.attr``; with
        ``count``, also add ``count(result)`` to ``counts[name]``."""
        orig = owner.__dict__[attr]
        span, counts = self.span, self.counts

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with span(name):
                result = orig(*args, **kwargs)
            if count is not None:
                counts[name] = counts.get(name, 0) + count(result)
            return result

        self._patch(owner, attr, orig, traced)

    def wrap_lock(self, owner, attr: str, name: str) -> None:
        """Record ``name.wait`` (until the lock is held) and ``name.hold``
        spans around a context-manager lock method."""
        orig = owner.__dict__[attr]
        span = self.span

        @contextmanager
        def traced(*args, **kwargs):
            cm = orig(*args, **kwargs)
            with span(name + ".wait"):
                cm.__enter__()
            try:
                with span(name + ".hold"):
                    yield
            except BaseException:
                if not cm.__exit__(*sys.exc_info()):
                    raise
            else:
                cm.__exit__(None, None, None)

        self._patch(owner, attr, orig, traced)

    def _patch(self, owner, attr: str, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------
    def _self_times(self) -> dict[int, float]:
        child = dict.fromkeys((s[2] for s in self.spans), 0.0)
        for _, _, _, parent, t0, t1 in self.spans:
            if parent in child:
                child[parent] += t1 - t0
        return {s[2]: (s[5] - s[4]) - child[s[2]] for s in self.spans}

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, busy_ms (total duration), self_ms and
        p99_ms of one call."""
        self_t = self._self_times()
        durs: dict[str, list[float]] = {}
        selfs: dict[str, float] = {}
        for name, _, sid, _, t0, t1 in self.spans:
            durs.setdefault(name, []).append(t1 - t0)
            selfs[name] = selfs.get(name, 0.0) + self_t[sid]
        return {
            name: {
                "calls": len(d),
                "busy_ms": sum(d) * 1e3,
                "self_ms": selfs[name] * 1e3,
                "p99_ms": pct(d, 99) * 1e3,
            }
            for name, d in durs.items()
        }

    def write(self, path: str) -> None:
        """Write every span as one JSON line (times in µs from the first
        span's start)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        origin = min((s[4] for s in self.spans), default=0.0)
        self_t = self._self_times()
        with open(path, "w") as f:
            for name, trace, sid, parent, t0, t1 in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": name,
                            "trace": trace,
                            "span": sid,
                            "parent": parent,
                            "start_us": round((t0 - origin) * 1e6),
                            "end_us": round((t1 - origin) * 1e6),
                            "self_us": round(self_t[sid] * 1e6),
                        }
                    )
                    + "\n"
                )


def span_cost_s(calls: int = 20000) -> float:
    """Measured cost of one recorded span around a trivial call, used to
    estimate what tracing added to a traced run."""

    class Probe:
        def f(self) -> None:
            pass

    p = Probe()
    t0 = time.perf_counter()
    for _ in range(calls):
        p.f()
    raw = time.perf_counter() - t0
    tracer = Tracer()
    tracer.wrap(Probe, "f", "probe")
    t0 = time.perf_counter()
    for _ in range(calls):
        p.f()
    traced = time.perf_counter() - t0
    tracer.unwrap_all()
    return max(0.0, traced - raw) / calls
