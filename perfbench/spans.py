"""Spans recorded from outside the engine, and per-layer self time.

``Tracer.install()`` wraps public functions of the engine's modules (the
parser, the analyzer, ``Tsdb.query``/``Tsdb.sql``, the file source, the
warehouse upsert, the rollup operators and the corpus recipe) so that each
call records a span: name, start, end, parent span and request id.  Spans
are kept in memory and written out when the run ends.  Nothing inside
``yupana_spark`` is modified on disk; the wrappers are installed only in a
traced run.

Catalyst phases are forced from outside: after ``Tsdb.sql`` returns a
DataFrame, the wrapper times ``queryExecution().analyzed()``,
``optimizedPlan()`` and ``executedPlan()``.  Those are lazy values cached on
the DataFrame's query execution, so the later action reuses them.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float           # time.time() seconds
    end: float
    parent: Optional[int]
    request: Optional[str]
    thread: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self):
        self.spans: List[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # SQL text -> (request id, parent span id) queued by the client
        # before sending, claimed by the server thread that runs the text
        self._pending: Dict[str, collections.deque] = {}

    # -- recording -----------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self):
        st = self._stack()
        return st[-1] if st else (None, getattr(self._local, "rid", None))

    def reserve(self) -> int:
        """A span id for a span recorded later with ``add(sid=...)``."""
        return next(self._ids)

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, request: Optional[str] = None,
            sid: Optional[int] = None) -> int:
        sid = sid if sid is not None else next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, request,
                                   threading.get_ident()))
        return sid

    def mark(self) -> int:
        """Position to pass to ``add_jobs`` after the traced operation."""
        return len(self.spans)

    def add_jobs(self, stats, mark: int, parent: int,
                 request: Optional[str] = None) -> None:
        """One ``spark.job`` span per collected job, parented to the
        innermost span this thread recorded since ``mark`` that contains
        it (JVM times are whole milliseconds), else to ``parent``."""
        me = threading.get_ident()
        with self._lock:
            mine = [s for s in self.spans[mark:] if s.thread == me]
        for a, b in stats.intervals:
            a, b = a / 1000.0, b / 1000.0
            inside = [s for s in mine
                      if s.start - 0.002 <= a and b <= s.end + 0.002]
            par = min(inside, key=lambda s: s.end - s.start).id \
                if inside else parent
            self.add("spark.job", a, b, par, request)

    def open(self, name: str, request: Optional[str] = None,
             parent: Optional[int] = None):
        """Start a span on this thread; returns a closer."""
        par, rid = self.current()
        if parent is not None:
            par = parent
        rid = request if request is not None else rid
        sid = next(self._ids)
        start = time.time()
        self._stack().append((sid, rid))

        def close():
            self._stack().pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, time.time(), par,
                                       rid, threading.get_ident()))
            return sid

        return sid, close

    def expect(self, sql: str, request: str, parent: int) -> None:
        with self._lock:
            self._pending.setdefault(sql, collections.deque()).append(
                (request, parent))

    def claim(self, sql: str):
        with self._lock:
            q = self._pending.get(sql)
            return q.popleft() if q else (None, None)

    # -- instrumentation -----------------------------------------------
    def wrap(self, owner, attr: str, span: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            _sid, close = tracer.open(span)
            try:
                return fn(*a, **kw)
            finally:
                close()

        setattr(owner, attr, traced)

    def install(self) -> None:
        from yupana_spark.compiler import Tsdb
        from yupana_spark.datapipe import dedup, filters
        from yupana_spark.operators import rollup
        from yupana_spark.operators.writes import Warehouse
        from yupana_spark.sources import files
        from yupana_spark.sql import analyzer, parser

        self.wrap(parser, "parse", "sql.parse")
        self.wrap(analyzer, "analyze", "sql.analyze")
        self.wrap(Tsdb, "query", "compiler.build")
        self.wrap(files, "ingest_file", "sources.ingest")
        self.wrap(files, "read_table_file", "sources.read")
        self.wrap(Warehouse, "upsert", "writes.upsert")
        self.wrap(rollup, "recalculate", "rollup.recalc")
        self.wrap(rollup, "run_rollup", "rollup.run")
        self.wrap(dedup, "simhash", "datapipe.simhash")
        self.wrap(dedup, "simhash_near_pairs", "datapipe.near_pairs")
        self.wrap(filters, "corpus_preprocess", "datapipe.recipe")
        self._wrap_sql(Tsdb)

    def _wrap_sql(self, Tsdb) -> None:
        orig = Tsdb.sql
        tracer = self

        @functools.wraps(orig)
        def traced_sql(self_, text, *a, **kw):
            rid, parent = tracer.claim(text)
            tracer._local.rid = rid
            sid, close = tracer.open("sql.route", request=rid, parent=parent)
            try:
                df = orig(self_, text, *a, **kw)
            finally:
                close()
            if df is not None and hasattr(df, "_jdf"):
                qe = df._jdf.queryExecution()
                for phase, call in (("catalyst.analyze", qe.analyzed),
                                    ("catalyst.optimize", qe.optimizedPlan),
                                    ("catalyst.plan", qe.executedPlan)):
                    _s, c = tracer.open(phase, request=rid, parent=parent)
                    try:
                        call()
                    finally:
                        c()
            return df

        Tsdb.sql = traced_sql

    # -- analysis ------------------------------------------------------
    def self_times(self) -> Dict[int, float]:
        """Span id -> self time (s): duration minus the union of its
        children's intervals clipped to the span."""
        kids: Dict[int, list] = collections.defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                         for c in kids.get(s.id, ()))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.id] = max(s.end - s.start - covered, 0.0)
        return out

    def layer_self_ms(self, roots: int) -> Dict[str, float]:
        """Mean self time per root operation, by layer (ms)."""
        st = self.self_times()
        tot: Dict[str, float] = collections.defaultdict(float)
        for s in self.spans:
            tot[s.layer] += st[s.id]
        return {k: v * 1000.0 / max(roots, 1) for k, v in tot.items()}

    def durations_ms(self, name: str) -> List[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans
                if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
