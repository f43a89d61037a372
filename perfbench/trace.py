"""Spans around the engine's layer calls, for the traced run only.

The engine is not instrumented; the benchmark wraps the functions it
calls into from the outside. A module that did ``from ... import
load_table`` holds its own reference, so wrapping the defining module
alone records nothing: :meth:`Tracer.install` replaces every binding of
each wrapped function in every loaded module of the package.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "kafka_streams_clojure_spark"


class Tracer:
    """Keeps one span per layer call in memory: (name, start, end,
    parent span index, request id). Recording is on while ``enabled``;
    the wrappers stay installed either way and cost one attribute read
    when off."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = False
        self.request = ""
        self.persist_calls = 0
        self.persist_created = 0
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.request]
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def _wrap(self, name: str, fn, created_bit):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                if created_bit is None:
                    return fn(*args, **kwargs)
                out, created = created_bit(fn, *args, **kwargs)
                self.persist_calls += 1
                self.persist_created += int(created)
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap the layer entry points at every binding site."""
        from kafka_streams_clojure_spark import session, sql
        from kafka_streams_clojure_spark.operators import _cache
        from kafka_streams_clojure_spark.queries import queries

        queries()  # import every query module so all bindings exist

        def scoped(fn, df):
            out = fn(df)
            return out, out[1]

        def if_uncached(fn, df):
            lvl = df.storageLevel
            return fn(df), not (lvl.useMemory or lvl.useDisk)

        targets = [
            (session.load_table, "session.load_table", None),
            (sql.register_views, "sql.register_views", None),
            (sql.sql, "sql.sql", None),
            (_cache.persist_scoped, "operators._cache.persist", scoped),
            (_cache.persist_if_uncached, "operators._cache.persist", if_uncached),
        ]
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for fn, name, bit in targets:
            wrapper = self._wrap(name, fn, bit)
            for mod in modules:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)

    def _closed(self, requests: set[str] | None):
        return [
            (i, s) for i, s in enumerate(self.spans)
            if s[2] is not None and (requests is None or s[4] in requests)
        ]

    def layer_totals(self, requests: set[str] | None = None) -> dict[str, dict[str, float]]:
        """Per span name: call count, total ms and self ms (duration
        minus the part covered by child spans)."""
        closed = self._closed(requests)
        child_ms: dict[int, float] = defaultdict(float)
        for _, s in closed:
            if s[3] is not None:
                child_ms[s[3]] += (s[2] - s[1]) * 1e3
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "ms": 0.0, "self_ms": 0.0})
        for i, s in closed:
            ms = (s[2] - s[1]) * 1e3
            agg = out[s[0]]
            agg["calls"] += 1
            agg["ms"] += ms
            agg["self_ms"] += ms - child_ms.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "request": s[4]}
                    for s in self.spans
                ],
                f,
            )
