"""Traced-run tooling: an in-memory span recorder, wrappers installed
where the program's callers look names up, self-time arithmetic and a
worker-side timer for the Python extraction UDF.

Spans carry wall-clock start/end (``time.time``) so they line up with
the task timestamps in Spark's event log.  While a span is open the
Spark job description is ``pb:<span id>``; every job a span launches is
attributed to the innermost open span (see eventlog.py).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator

DESC_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans in memory; ``sc`` (a SparkContext) is optional so
    the arithmetic can be tested without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.op: int | None = None
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                None if span is None else f"{DESC_PREFIX}{span.id}")

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, t0, t0,
                 parent.id if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        s.start = time.time()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(parent)
            self.bookkeeping_s += time.time() - s.end

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value


class NullRecorder:
    """Untraced runs: same interface, records nothing."""

    op = None

    def __init__(self):
        self.counters: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        yield None


# ---- self time --------------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _covered(kids.get(s.id, []))
            for s in spans}


def totals_by_name(spans: list[Span], op: int | None = None,
                   self_only: bool = False) -> dict[str, float]:
    """Summed duration (or self time) per span name, optionally for one
    op only."""
    st = self_times(spans) if self_only else None
    out: dict[str, float] = {}
    for s in spans:
        if op is not None and s.op != op:
            continue
        v = st[s.id] if st is not None else s.duration
        out[s.name] = out.get(s.name, 0.0) + v
    return out


def subtree(spans: list[Span], root: int) -> set[int]:
    ids, grew = {root}, True
    while grew:
        grew = False
        for s in spans:
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                grew = True
    return ids


# ---- wrappers ---------------------------------------------------------------

class Patches:
    """Monkeypatch wrappers, undone in reverse order by ``undo``."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make: Callable) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._undo.append((owner, attr, orig))

    def span(self, rec: Recorder, owner, attr: str,
             namer: Callable[[dict], str] | str) -> None:
        """Wrap ``owner.attr`` in a span named ``namer`` (a string, or a
        function of the bound call arguments)."""
        def make(orig):
            sig = inspect.signature(orig)

            def wrapper(*a, **k):
                if isinstance(namer, str):
                    name = namer
                else:
                    bound = sig.bind(*a, **k)
                    bound.apply_defaults()
                    name = namer(bound.arguments)
                with rec.span(name):
                    return orig(*a, **k)
            return wrapper
        self.wrap(owner, attr, make)

    def undo(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def install(rec: Recorder, py_timer) -> Patches:
    """Spans at every layer boundary the benchmark's metrics name."""
    build = importlib.import_module("octofludb_spark.build")
    cc = importlib.import_module("octofludb_spark.ops.cc")
    incr = importlib.import_module("octofludb_spark.ops.incremental")
    ir = importlib.import_module("octofludb_spark.plans.incremental_reports")
    sparql = importlib.import_module("octofludb_spark.plans.sparql")
    from octofludb_spark.sources.store import TripleStore

    p = Patches()
    p.span(rec, build, "extract_triples", "extract")
    p.span(rec, build, "connected_components", "cc")
    p.span(rec, incr, "connected_components", "cc")
    p.span(rec, incr, "incremental_link_delta", "incremental_link")
    p.span(rec, incr, "sync_canonical", "sync_canonical")
    p.span(rec, ir, "masterlist_refresh", "refresh")
    p.span(rec, sparql, "parse_sparql", "sparql_parse")
    p.span(rec, sparql, "compile_sparql", "sparql_compile")
    p.span(rec, TripleStore, "write", lambda a: f"store_write:{a['table']}")
    for name in ("merge_rows", "append_rows", "read_changelog",
                 "patch_rows_mor", "read_subject", "read"):
        p.span(rec, TripleStore, name, name)

    def count_pairs(orig):
        def wrapper(hs, hd, h2s):
            rec.count("cc_driver_pairs", len(hs))
            return orig(hs, hd, h2s)
        return wrapper
    p.wrap(cc, "_driver_union_find_hashed", count_pairs)

    # Python task time of the extraction UDF: hand extract_triples a
    # source whose mapInPandas times the UDF inside the worker
    def timed_extract(orig):
        def wrapper(source, *a, **k):
            return orig(_TimedSource(source, py_timer), *a, **k)
        return wrapper
    p.wrap(build, "extract_triples", timed_extract)
    return p


class _TimedSource:
    """DataFrame proxy whose mapInPandas wraps the UDF in a timer."""

    def __init__(self, df, acc):
        self._df = df
        self._acc = acc

    def __getattr__(self, name):
        return getattr(self._df, name)

    def mapInPandas(self, func, schema, *a, **k):
        return self._df.mapInPandas(
            functools.partial(timed_udf, func, self._acc), schema, *a, **k)


def timed_udf(func, acc, batches):
    """Runs in the Python worker: adds the seconds spent producing each
    output batch (input decoding included) to the accumulator ``acc``."""
    it = iter(func(batches))
    while True:
        t = time.perf_counter()
        try:
            out = next(it)
        except StopIteration:
            acc.add(time.perf_counter() - t)
            return
        acc.add(time.perf_counter() - t)
        yield out
