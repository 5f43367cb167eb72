"""In-memory span recorder and the serving-tier instrumentation built on it.

Spans are recorded from outside the program: :class:`Instrumentation`
replaces the module-level names that ``serving`` and ``operators.query`` look
up at call time (``analyze_query``, ``row_to_enc``, the codec decoders,
``_score_arrays`` and the ``_shard_*`` kernels), wraps
``LocalSearcher._dfs`` and ``expand_terms``, and puts thin proxies around
one searcher's postings dataset (``to_table``, then the table's
``to_pylist``) and shard pool (``map``).  :meth:`Instrumentation.restore`
puts every original back.

Each span records name, start, end, parent, query id and thread.  Pool
threads inherit the caller's ``pool`` span as parent and its query id, so a
query's spans form one tree across threads.  A layer's self time is its
duration minus the time its children cover.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: int          # perf_counter_ns
    end: int
    parent: int | None
    qid: int
    thread: int
    #: work done, where the layer has a natural count (rows, postings, ...)
    attrs: dict = field(default_factory=dict)

    @property
    def dur_ns(self) -> int:
        return self.end - self.start


@dataclass
class Recorder:
    spans: list[Span] = field(default_factory=list)
    qid: int = -1
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _qid(self) -> int:
        return getattr(self._local, "qid", self.qid)

    def call(self, name: str, fn, args=(), kwargs=None, attrs=None):
        """Run ``fn`` inside a span; ``attrs(result, args)`` → counts."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            out = fn(*args, **(kwargs or {}))
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
        self.spans.append(Span(sid, name, t0, t1, parent, self._qid(),
                               threading.get_ident(),
                               attrs(out, args) if attrs else {}))
        return out

    def wrap(self, name: str, fn, attrs=None):
        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs, attrs)
        return traced

    def adopt(self, fn, parent: int, qid: int):
        """``fn`` for another thread: its spans hang under ``parent``."""
        def run(*args):
            self._local.stack = [parent]
            self._local.qid = qid
            try:
                return fn(*args)
            finally:
                self._local.stack = []
                del self._local.qid
        return run


class _TableProxy:
    def __init__(self, rec: Recorder, tbl):
        self._rec, self._tbl = rec, tbl

    def to_pylist(self):
        return self._rec.call("serving.to_pylist", self._tbl.to_pylist)

    def __getattr__(self, name):
        return getattr(self._tbl, name)


class _DatasetProxy:
    def __init__(self, rec: Recorder, dataset):
        self._rec, self._ds = rec, dataset

    def to_table(self, *args, **kwargs):
        tbl = self._rec.call(
            "serving.read", self._ds.to_table, args, kwargs,
            attrs=lambda t, _: {"rows": t.num_rows, "bytes": t.nbytes})
        return _TableProxy(self._rec, tbl)

    def __getattr__(self, name):
        return getattr(self._ds, name)


class _PoolProxy:
    def __init__(self, rec: Recorder, pool):
        self._rec, self._pool = rec, pool

    def map(self, fn, *iterables):
        rec = self._rec

        def fan_out():
            parent = rec._stack()[-1]
            # consume inside the span: map() returns a lazy iterator
            return list(self._pool.map(rec.adopt(fn, parent, rec._qid()),
                                       *iterables))
        return iter(rec.call("serving.pool", fan_out))

    def __getattr__(self, name):
        return getattr(self._pool, name)


def _decoded(out, _args) -> dict:
    return {"postings": len(out[0])}


def _blocks_present(_out, args) -> dict:
    return {"blocks": sum(len(enc.block_count) for _, enc in args[0])}


class Instrumentation:
    """Patches the serving call path of ``searcher`` to record into ``rec``."""

    def __init__(self, rec: Recorder, searcher):
        from elastic_indexer4s_spark import serving
        from elastic_indexer4s_spark.operators import query

        self.rec = rec
        self._saved: list[tuple[object, str, object]] = []
        w = rec.wrap
        patches = [
            (serving, "analyze_query", "operators.query.analyze", None),
            (serving, "row_to_enc", "serving.row_to_enc", None),
            (query, "decode_postings", "functions.codec.decode_postings",
             _decoded),
            (query, "decode_block", "functions.codec.decode_block", _decoded),
            (query, "decode_positions", "functions.codec.decode_positions",
             None),
            (query, "_score_arrays", "operators.query.bm25", None),
            # choose_scorer returns these module globals at call time
            (query, "_shard_exhaustive", "operators.query.shard_exhaustive",
             None),
            (query, "_shard_wand", "operators.query.shard_wand",
             _blocks_present),
            (serving, "_shard_phrase", "operators.query.shard_phrase", None),
            (serving, "_shard_bool", "operators.query.shard_bool", None),
            (serving.LocalSearcher, "_dfs", "serving.dfs", None),
            (serving.LocalSearcher, "expand_terms", "serving.expand", None),
        ]
        for obj, attr, name, attrs in patches:
            self._set(obj, attr, w(name, getattr(obj, attr), attrs))
        self._set(searcher, "postings", _DatasetProxy(rec, searcher.postings))
        if searcher._pool is not None:
            self._set(searcher, "_pool", _PoolProxy(rec, searcher._pool))

    def _set(self, obj, attr, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def restore(self) -> None:
        for obj, attr, value in reversed(self._saved):
            setattr(obj, attr, value)
        self._saved.clear()


def self_times(spans: list[Span]) -> dict[int, int]:
    """Span id → self time in ns (duration minus its children's)."""
    out = {s.sid: s.dur_ns for s in spans}
    for s in spans:
        if s.parent in out:
            out[s.parent] -= s.dur_ns
    return out
