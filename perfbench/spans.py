"""In-memory spans and call counters for the traced benchmark pass.

A :class:`Tracer` records spans (name, start, end, parent, run id) in
memory and writes them out once, when the benchmark ends. It wraps
public functions of the engine's modules from outside: the wrapper
opens a span, calls the original and closes the span, and changes no
argument or result. :meth:`Tracer.patch` installs wrappers for the
length of a ``with`` block and restores the originals afterwards.

``DataFrame.rdd`` accesses are counted the same way, by wrapping the
property of PySpark's classic (non-Connect) DataFrame, the class local
sessions create, in this process only.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid
from collections import defaultdict

from pyspark.sql.classic.dataframe import DataFrame


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called ``name`` recorded at or
        after span index ``since``."""
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{fn.__name__}", layer=layer):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(owner, attr)`` as a ``layer`` call for each
        ``(owner, attr, layer)`` while the block runs."""
        if not self.enabled:
            yield
            return
        saved = []
        for owner, attr, layer in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(layer, orig))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    @contextlib.contextmanager
    def count_rdd_conversions(self):
        """Count DataFrame-to-RDD conversions under ``counts['rdd']``.
        ``DataFrame.rdd`` is a cached property: the first access on a
        DataFrame converts its plan, later ones reuse the result, so
        each count is one conversion."""
        if not self.enabled:
            yield
            return
        orig = DataFrame.__dict__["rdd"]
        counts = self.counts

        def rdd(df):
            counts["rdd"] += 1
            return orig.func(df)

        counted = functools.cached_property(rdd)
        counted.__set_name__(DataFrame, "rdd")
        DataFrame.rdd = counted
        try:
            yield
        finally:
            DataFrame.rdd = orig

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
