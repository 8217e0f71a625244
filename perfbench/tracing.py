"""Outside-in tracing: spans around the engine's layer entry points.

The recorder wraps public (and a few module-level) entry points of the
engine from the benchmark's side: nothing inside ``mongoesindexer_spark``
changes.  A span carries a name, start, end, parent span and request id;
spans stay in memory and are written to one JSON file when the run ends.
A layer's self time is its span minus the time its child spans cover.

``install()`` is called only in the traced run, and ``uninstall()``
restores the original functions, so the traced run can time an untraced
stretch too (the tracing overhead); the untraced run never installs
anything.

Spark work is counted per operation with a job group per op plus the
status tracker (works with ``spark.ui.enabled=false``: the tracker reads
the application status store, not the UI).  Jobs submitted from helper
threads that do not inherit the group (the build's completion writer)
are picked up as new group-less jobs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid")

    def __init__(self, sid, name, start, parent, rid):
        self.sid, self.name, self.start = sid, name, start
        self.end = None
        self.parent, self.rid = parent, rid


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.counters: dict[tuple, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.undo: list[tuple] = []     # (owner, attr, original)

    # -- span stack (per thread) --------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid=None) -> Span:
        """Open a span; its parent and request id come from the span
        open on this thread, unless ``rid`` starts a new request."""
        st = self._stack()
        parent = st[-1].sid if st else None
        if rid is None and st:
            rid = st[-1].rid
        s = Span(next(self._ids), name, time.perf_counter(), parent, rid)
        st.append(s)
        self.spans.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, rid=None):
        """One span around a block; ``rid`` makes it a request's root."""
        s = self.begin(name, rid)
        try:
            yield s
        finally:
            self.end(s)

    def count(self, key: str, v: float = 1.0) -> None:
        """Add to a counter of the current request."""
        st = self._stack()
        self.counters[(st[-1].rid if st else None, key)] += v

    def counter(self, key: str, keep=lambda rid: True) -> float:
        return sum(v for (rid, k), v in self.counters.items()
                   if k == key and keep(rid))

    # -- analysis -----------------------------------------------------------
    def self_times(self, keep=lambda rid: True) -> dict[str, float]:
        """name -> summed self seconds (span minus the union of its
        children's intervals), over spans whose request id passes
        ``keep``."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.end is None or not keep(s.rid):
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def totals(self, keep=lambda rid: True) -> dict[str, tuple[float, int]]:
        """name -> (summed wall seconds, span count)."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s.end is not None and keep(s.rid):
                out[s.name][0] += s.end - s.start
                out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                "spans": [{"id": s.sid, "name": s.name,
                           "start_ms": round((s.start - t0) * 1e3, 4),
                           "end_ms": None if s.end is None else
                           round((s.end - t0) * 1e3, 4),
                           "parent": s.parent, "request": s.rid}
                          for s in self.spans],
                "counters": [{"request": rid, "name": k, "value": v}
                             for (rid, k), v in self.counters.items()]}, f)


def _wrap(rec: Recorder, owner, attr: str, name: str, before=None,
          after=None):
    orig = owner.__dict__[attr]
    rec.undo.append((owner, attr, orig))

    @functools.wraps(orig)
    def traced(*a, **kw):
        s = rec.begin(name)
        if before is not None:
            before(s, a, kw)
        try:
            out = orig(*a, **kw)
        finally:
            rec.end(s)
        if after is not None:
            after(s, a, kw, out)
        return out
    if isinstance(owner, type(functools)):
        # a module-level function: name the wrapper after the attribute
        # it replaces, so closures shipped to Spark tasks pickle it by
        # reference (the workers import the unwrapped original)
        traced.__module__, traced.__qualname__ = owner.__name__, attr
    setattr(owner, attr, traced)


def _postings(blocks) -> int:
    return sum(int(b["n"]) for b in blocks)


def uninstall(rec: Recorder) -> None:
    """Restore every wrapped entry point."""
    while rec.undo:
        owner, attr, orig = rec.undo.pop()
        setattr(owner, attr, orig)


def install(rec: Recorder) -> None:
    """Wrap the layer entry points named in perfbench/NOTES.md; undo
    with :func:`uninstall`."""
    from mongoesindexer_spark.operators import build_index, topk
    from mongoesindexer_spark.streaming import incremental

    SE = topk.SearchEngine

    # -- serve: driver locus ------------------------------------------------
    def blocks_before(s, a, kw):
        eng, terms = a[0], list(a[1])
        cache = eng._block_cache
        miss = sum(1 for t in terms if t not in cache)
        rec.count("topk.terms_requested", len(terms))
        rec.count("topk.terms_fetched", miss)

    _wrap(rec, SE, "_term_meta", "topk.term_meta")
    _wrap(rec, SE, "_term_blocks", "topk.block_fetch", before=blocks_before)
    _wrap(rec, topk, "decode_blocks_into", "topk.decode",
          before=lambda s, a, kw: rec.count("topk.blocks_decoded",
                                            len(a[0])))
    _wrap(rec, SE, "_filter_allowed_list", "topk.filter")
    _wrap(rec, SE, "fetch_urls", "topk.url_fetch")

    def kernel_after(postings_of):
        def after(s, a, kw, out):
            rec.count("topk.kernel_postings", postings_of(a))
            rec.count("topk.kernel_hits", len(out))
        return after

    _wrap(rec, topk, "exhaustive_topk_arrays", "topk.kernel",
          after=kernel_after(lambda a: sum(_postings(bl)
                                           for _, bl in a[0].values())))
    _wrap(rec, topk, "conjunctive_topk_arrays", "topk.kernel",
          after=kernel_after(lambda a: sum(_postings(c.blocks)
                                           for c in a[0])))
    _wrap(rec, topk, "phrase_topk_arrays", "topk.kernel",
          after=kernel_after(lambda a: sum(_postings(bl)
                                           for bl in a[2].values())))
    # block-max WAND has its own layer: it is forced on ingest_loci ops
    _wrap(rec, topk, "wand_topk_arrays", "topk.wand",
          after=kernel_after(lambda a: sum(_postings(c.blocks)
                                           for c in a[0])))

    # -- serve: Spark loci --------------------------------------------------
    def fanout_after(s, a, kw, out):
        rec.count("topk.fanout_groups", len(a[0]._segment_groups()))

    _wrap(rec, SE, "topk_segments", "topk.fanout", after=fanout_after)

    # -- engine lifecycle and sync -------------------------------------------
    _wrap(rec, SE, "__init__", "topk.engine_open")
    _wrap(rec, incremental.IncrementalIndexer, "apply_updates",
          "incremental.apply")

    # -- build stages (the profile_stages.py wrap set) -----------------------
    IB = build_index.IndexBuilder
    for stage in ("flat", "stats", "encode", "term_dict", "fields"):
        _wrap(rec, IB, f"_stage_{stage}", f"build_index.{stage}")


class SparkJobs:
    """Jobs and tasks per operation, from outside the program."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seen_free: set[int] = set(
            self.tracker.getJobIdsForGroup(None))
        self._n = itertools.count()

    def start(self) -> str:
        g = f"perfbench-op-{next(self._n)}"
        self.sc.setJobGroup(g, g)
        return g

    def finish(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) launched since ``start``."""
        jobs = set(self.tracker.getJobIdsForGroup(group))
        free = set(self.tracker.getJobIdsForGroup(None)) - self._seen_free
        self._seen_free |= free
        jobs |= free
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return len(jobs), tasks
