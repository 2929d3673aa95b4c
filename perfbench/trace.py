"""In-memory span tracer that wraps each layer's public entry points from
the outside.

A span is (id, name, start, end, parent id, request id). Spans are kept in
a list and written out once, when the run ends. A wrapper is installed
where the *caller* looks the name up: names bound into another module at
import time (``eval_local`` in ``searcher.py``, the decode functions in
``kernel.py``) are patched in that module, methods on their class.
``uninstall`` restores every original, so untraced phases run the
program exactly as shipped.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict


def layer_points():
    """(owner, attribute, span name) for every wrapped entry point."""
    from montezuma_spark.index import builder
    from montezuma_spark.search import kernel, searcher, similarity
    from montezuma_spark.search.parser import QueryParser

    S = searcher.Searcher
    return [
        (builder, "build_index", "index.build"),
        (builder.Index, "save", "index.save"),
        (builder.Index, "load", "index.load"),
        (QueryParser, "parse", "parser.parse"),
        (S, "top_docs", "searcher.top_docs"),
        (S, "search", "searcher.search"),
        (S, "search_batch", "searcher.search_batch"),
        (S, "_resolve", "searcher.resolve"),
        (S, "_compile", "searcher.compile"),
        (S, "_arrow_cells_pdf", "searcher.point_read"),
        (S, "_cached_rows", "searcher.cache"),
        (searcher, "eval_local", "kernel.eval_local"),
        (kernel, "rows_from_pandas", "kernel.rows_from_pandas"),
        (kernel, "decode_cell_rows", "codec.decode"),
        (kernel, "decode_positions_rows", "codec.decode"),
        (kernel, "decode_cell", "codec.decode"),
        (kernel, "decode_positions", "codec.decode"),
        (similarity.BM25Similarity, "tf_norm", "similarity.tf_norm"),
    ]


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, req)
        self.request: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._saved: list[tuple] = []

    # ---------------------------------------------------------- recording
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, **kw):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, t0, t1, parent, self.request))

    def _wrapper(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kw):
            return tracer.span(name, fn, *args, **kw)

        return traced

    def _module_wrapper(self, owner, attr, fn, name):
        # name the wrapper after the slot it fills, so cloudpickle ships a
        # closure that references it BY NAME and executors import the
        # original (the tracer itself never leaves the driver)
        traced = self._wrapper(fn, name)
        traced.__module__ = owner.__name__
        traced.__qualname__ = attr
        return traced

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        if self._saved:
            return
        for owner, attr, name in layer_points():
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, staticmethod):
                new = staticmethod(self._wrapper(raw.__func__, name))
            elif inspect.ismodule(owner):
                new = self._module_wrapper(owner, attr, raw, name)
            else:
                new = self._wrapper(raw, name)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    # ------------------------------------------------------------- reading
    def mark(self) -> int:
        return len(self.spans)

    def self_times(self, since: int = 0):
        """name -> (total self seconds, calls) over spans[since:]. Self
        time is a span's duration minus the part of it that its child
        spans cover."""
        spans = self.spans[since:]
        kids = defaultdict(list)
        for s in spans:
            if s[4] is not None:
                kids[s[4]].append((s[2], s[3]))
        out: dict = defaultdict(lambda: [0.0, 0])
        for sid, name, t0, t1, _, _ in spans:
            covered = 0.0
            end = t0
            for a, b in sorted(kids.get(sid, ())):
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            out[name][0] += (t1 - t0) - covered
            out[name][1] += 1
        return dict(out)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s[3] - s[2] for s in self.spans[since:] if s[1] == name]

    def write(self, path: str) -> None:
        """JSON lines: a header naming the fields, then one array per span
        (times are perf_counter seconds)."""
        with open(path, "w") as fh:
            fh.write(json.dumps(
                ["id", "name", "start", "end", "parent", "request"]) + "\n")
            for span in sorted(self.spans):
                fh.write(json.dumps(span) + "\n")
