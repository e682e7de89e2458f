"""In-memory tracing by wrapping layer entry points at run time.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` (a module
function or a class method) with a timing wrapper; ``restore()`` puts every
original back. Spans (name, start, end, thread, parent) stay in a list until
``dump()`` writes them out at the end of the run. Calls that happen per
change rather than per batch (``PgOutputDecoder.decode``, the
``ReplicationClient.poll`` generator) are aggregated into counters instead
of spans so that tracing them stays cheap.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, name, start, end, thread, attrs)
        self.totals: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple] = []
        self._next_id = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def keep_max(self, key: str, value: float) -> None:
        with self._lock:
            self.totals[key] = max(self.totals[key], value)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span the caller timed itself (a query's build or collect)."""
        with self._lock:
            self._next_id += 1
            self.spans.append((self._next_id, None, name, start, end,
                               threading.get_ident(), attrs))

    def _call(self, name, fn, on_result, args, kwargs):
        st = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append((sid, parent, name, t0, t1, threading.get_ident(), {}))
        if on_result is not None:
            on_result(t0, t1, args, kwargs, out)
        return out

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self._call(name, orig, on_result, args, kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_counted(self, owner, attr: str, name: str, count=None) -> None:
        """Aggregate-only wrapper: adds ``name + "_s"`` time and ``name +
        "_n"`` units (``count(result)``, default 1 per call)."""
        orig = getattr(owner, attr)
        totals, lock = self.totals, self._lock
        perf = time.perf_counter

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = perf()
            out = orig(*args, **kwargs)
            dt = perf() - t0
            n = 1 if count is None else count(out)
            with lock:
                totals[name + "_s"] += dt
                totals[name + "_n"] += n
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_generator(self, owner, attr: str, name: str) -> None:
        """Time spent inside each ``next()`` of a generator method."""
        orig = getattr(owner, attr)
        totals, lock = self.totals, self._lock
        perf = time.perf_counter

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            it = orig(*args, **kwargs)
            while True:
                t0 = perf()
                try:
                    item = next(it)
                except StopIteration:
                    with lock:
                        totals[name + "_s"] += perf() - t0
                    return
                with lock:
                    totals[name + "_s"] += perf() - t0
                yield item

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s[2] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, a, b, th, attrs in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "start": a, "end": b, "thread": th, **attrs}) + "\n")
            f.write(json.dumps({"totals": dict(self.totals)}) + "\n")
