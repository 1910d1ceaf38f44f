"""In-memory spans around calls into the program, and a DataFrame.count spy.

A ``Tracer`` records one span per ``with tracer.span(name):`` block: name,
start, end and parent. While a span is open, every Spark job the block
starts carries the span's job group (its name, plus ``#k`` from the second
span of that name on), so the event log can be grouped by span afterwards.
A span's self time is its duration minus the time its child spans cover.

``traced_functions`` replaces functions in the module namespaces their
callers look them up in by wrappers that open a span around each call, so
the spans nest as the program's own call tree does.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import Counter
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from unittest import mock


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    probe: bool = False
    figures: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark_context, root: str = "trace.root"):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._root = root
        self._seen: Counter[str] = Counter()

    @contextmanager
    def span(self, name: str, probe: bool = False):
        """``probe`` marks work the untraced run of the workload does not do
        (a layer called only to measure it, or called on empty input); the
        children of a probe are probes too."""
        parent = self._stack[-1] if self._stack else None
        probe = probe or (parent is not None and self.spans[parent].probe)
        k = self._seen[name]
        self._seen[name] += 1
        group = name if k == 0 else f"{name}#{k}"
        self.spans.append(Span(name, group, parent, time.perf_counter(), probe=probe))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(group, group)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]].group if self._stack else self._root
            self.sc.setJobGroup(outer, outer)

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        covered, cursor = 0.0, s.start
        for c in sorted((c for c in self.spans if c.parent == idx), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (s.end - s.start) - covered

    def as_records(self) -> list[dict]:
        return [
            {"name": s.name, "group": s.group, "parent": s.parent, "start": s.start, "end": s.end,
             "probe": s.probe, "self_s": self.self_time(i), "figures": s.figures}
            for i, s in enumerate(self.spans)
        ]


def span_name(fn) -> str:
    """``<defining module>.<function>``, e.g. ``cooccur.pair_counts``."""
    return f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"


@contextmanager
def traced_functions(targets, wrap):
    """Replace ``module.name`` for each ``(module, names)`` of ``targets`` by
    ``wrap(original)`` while active."""
    with ExitStack() as stack:
        for module, names in targets:
            for name in names:
                fn = getattr(module, name)
                stack.enter_context(mock.patch.object(module, name, functools.wraps(fn)(wrap(fn))))
        yield


class CountCalls:
    """Wraps ``DataFrame.count`` while active. Calls from files outside
    ``bench_dir`` (the program) are counted in ``program``. With ``forbid``,
    a call from a file under ``bench_dir`` raises: the benchmark's own code
    must force results through the stage sink, never through ``count()``,
    which lets Catalyst prune unneeded columns."""

    def __init__(self, bench_dir: str, forbid: bool = False):
        self.bench_dir = os.path.abspath(bench_dir) + os.sep
        self.forbid = forbid
        self.program = 0

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self._orig = DataFrame.count
        spy = self

        def count(df):
            caller = os.path.abspath(sys._getframe(1).f_code.co_filename)
            if not caller.startswith(spy.bench_dir):
                spy.program += 1
            elif spy.forbid:
                raise AssertionError(f"count() called on a timed path from {caller}")
            return spy._orig(df)

        DataFrame.count = count
        return self

    def __exit__(self, *exc):
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.count = self._orig
        return False
