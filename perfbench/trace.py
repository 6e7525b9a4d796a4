"""Spans around the calls into each crawl layer, recorded from the
benchmark's own files.

``Tracer.install()`` wraps the functions as ``frontier.crawler`` sees them
(``Crawler.pending``, ``Crawler.run_wave``, ``pop_wave``, ``fetch_wave``,
``parse_wave``, ``filter_unseen_exact``/``filter_unseen_bloom``) and
``SnapshotCatalog.write``/``read``. Each wrapper materializes the lazy
DataFrame it returns (cache + one counting action) inside its span, so the
layer's cost lands in its own span rather than in whichever action first
consumes it. The cached frames are released when the enclosing wave ends.

Spans are kept in memory: name, start, end, parent and thread. A span's
self time is its duration minus the union of its children's intervals —
a union, not a sum, because ``run_wave`` commits tables from a thread pool
and those children overlap. Spans opened on a pool thread take the
current wave as parent.

While ``enabled`` is false every wrapper calls straight through. With
``step_hooks`` set, each wave is bracketed by ``(begin, end)`` — the
scheduler counter — whether or not spans are recorded; ``end``'s result
is appended to ``step_stats``.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._cached: list = []
        self._undo: list = []
        self.step_hooks = None
        self.step_stats: list[dict] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.time(), 0.0, parent, threading.current_thread().name))
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    @contextmanager
    def root(self, name: str):
        """A top-level span (one wave or one query) that also adopts spans
        opened on other threads while it is open."""
        with self.span(name) as sid:
            self._root = sid
            try:
                yield sid
            finally:
                self._root = None
                for df in self._cached:
                    df.unpersist()
                self._cached.clear()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    def _materialize(self, df):
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    # -- analysis --------------------------------------------------------
    def self_time(self, span: Span) -> float:
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.id]
        return (span.end - span.start) - union_length(kids, span.start, span.end)

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total duration, total self time."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["total_s"] += s.end - s.start
            t["self_s"] += self.self_time(s)
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> None:
        from outage_data_scraper_spark.catalog import SnapshotCatalog
        from outage_data_scraper_spark.frontier import crawler as crawler_mod

        tr = self

        def wrap_run_wave(orig):
            def run_wave(self, wave):
                if tr.step_hooks:
                    tr.step_hooks[0](f"wave-{wave}")
                try:
                    if not tr.enabled:
                        return orig(self, wave)
                    with tr.root("crawler.run_wave"):
                        return orig(self, wave)
                finally:
                    if tr.step_hooks:
                        tr.step_stats.append(tr.step_hooks[1]())
            return run_wave

        def wrap_pending(orig):
            def pending(self):
                if not tr.enabled:
                    return orig(self)
                with tr.span("crawler.pending"):
                    df, _ = tr._materialize(orig(self))
                return df
            return pending

        def wrap_pop(orig):
            def pop_wave(frontier, *a, **kw):
                if not tr.enabled:
                    return orig(frontier, *a, **kw)
                with tr.span("priority.pop_wave"):
                    df, n = tr._materialize(orig(frontier, *a, **kw))
                tr.add("priority.popped", n)
                return df
            return pop_wave

        def wrap_fetch(orig):
            def fetch_wave(popped, *a, **kw):
                if not tr.enabled:
                    return orig(popped, *a, **kw)
                from pyspark.sql import functions as F

                with tr.span("fetch.fetch_wave"):
                    df = orig(popped, *a, **kw).cache()
                    tr._cached.append(df)
                    by_ok = df.groupBy((F.col("status") == 200).alias("ok")).count().collect()
                tr.add("fetch.urls", sum(r["count"] for r in by_ok))
                tr.add("fetch.non200", sum(r["count"] for r in by_ok if not r["ok"]))
                return df
            return fetch_wave

        def wrap_parse(orig):
            def parse_wave(fetched):
                if not tr.enabled:
                    return orig(fetched)
                with tr.span("parse.parse_wave"):
                    df, n = tr._materialize(orig(fetched))
                tr.add("parse.rows_out", n)
                return df
            return parse_wave

        def wrap_seen(orig):
            def filter_unseen(candidates, *a, **kw):
                if not tr.enabled:
                    return orig(candidates, *a, **kw)
                with tr.span("seen.filter_unseen"):
                    n_in = candidates.count()
                    df, n_out = tr._materialize(orig(candidates, *a, **kw))
                tr.add("seen.candidates", n_in)
                tr.add("seen.kept", n_out)
                return df
            return filter_unseen

        def wrap_write(orig):
            def write(self, name, df, *a, **kw):
                if not tr.enabled:
                    return orig(self, name, df, *a, **kw)
                with tr.span(f"catalog.write.{name}"):
                    return orig(self, name, df, *a, **kw)
            return write

        def wrap_read(orig):
            def read(self, spark, name, *a, **kw):
                if not tr.enabled:
                    return orig(self, spark, name, *a, **kw)
                with tr.span("catalog.read"):
                    return orig(self, spark, name, *a, **kw)
            return read

        self._patch(crawler_mod.Crawler, "run_wave", wrap_run_wave)
        self._patch(crawler_mod.Crawler, "pending", wrap_pending)
        self._patch(crawler_mod, "pop_wave", wrap_pop)
        self._patch(crawler_mod, "fetch_wave", wrap_fetch)
        self._patch(crawler_mod, "parse_wave", wrap_parse)
        self._patch(crawler_mod, "filter_unseen_exact", wrap_seen)
        self._patch(crawler_mod, "filter_unseen_bloom", wrap_seen)
        self._patch(SnapshotCatalog, "write", wrap_write)
        self._patch(SnapshotCatalog, "read", wrap_read)
