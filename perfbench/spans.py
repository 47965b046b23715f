"""In-memory spans recorded by the benchmark around calls into the program.

A span has a name (``layer.call``), start and end (``perf_counter`` seconds),
the id of the span that caused it, and a run id shared by the spans of one
operation. A ``Tracer`` keeps its spans in memory until ``dump`` writes them
out at exit. It records nothing while disabled, so untraced operations pay
one attribute check per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.run_id: str | None = None
        self._ids = itertools.count(1)
        self._main_stack: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span dict (or None when
        disabled) so the body can attach counts to it. A span opened on a
        thread with no open span of its own (a Spark ``foreachBatch``
        callback) takes the innermost span open on the main thread as its
        parent."""
        if not self.enabled:
            yield None
            return
        if threading.current_thread() is threading.main_thread():
            stack = self._main_stack
        else:
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
        parents = stack or self._main_stack
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parents[-1]["id"] if parents else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def traced(self, name: str, fn):
        """``fn`` wrapped in a span named ``name``."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its interval
        that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"] - _covered(children[s["id"]]))
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
