"""Top-k BM25 retrieval: DataFrame scoring path + block-max WAND pruning.

The reference's query layer is Elasticsearch: every ``"type": "text"``
mapping scores with the default BM25 similarity (k1=1.2, b=0.75; no
``similarity`` override anywhere in /root/reference/configs/), queries are
term/bool filters with sort+top-k (the reference's own resume-token lookup,
load.service.ts:148-174, is exactly sort-desc + size 1).  ES internally
prunes with block-max WAND; we implement both an exhaustive DataFrame
scorer (the correctness spine, oracle-checkable in SQL) and a native WAND
over the encoded block segments (block-max WAND per Ding & Suel, "Faster
Top-k Document Retrieval Using Block-Max Indexes", SIGIR 2011; WAND per
Broder et al., CIKM 2003).

Determinism: ties broken by doc_id asc everywhere; float64 end-to-end.
"""

from __future__ import annotations

import functools
import heapq
import itertools
import os
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import LTD_DOC, AnalyzerConfig, analyze_search
from ..functions.encode import (B, K1, decode_block, decode_blocks_into,
                                decode_dls, decode_positions_block)
from ..sources import fsio
from ..sources.catalog import ParquetCatalog, read_table_arrow

_HI = chr(0x10FFFF)     # max code point: open upper bound for range reads


class _RowGroupIndex:
    """Lucene-style resident point-read index over one table's parquet
    files: footers are parsed ONCE (at engine warm-up), the per-row-group
    (min, max) stats of the key column stay driver-resident, and a query
    opens only the row groups whose key range can contain its values —
    the analog of Lucene's in-RAM term index in front of on-disk blocks.

    Replaces per-query ``pyarrow.dataset(...).to_table(filter=...)``,
    which re-evaluates fragment pruning and re-touches every file's row
    groups on EVERY call (~15-20 ms per scan at sf0.1 — over half the
    warm query latency).  Memory: one (ref, int, lo, hi) tuple per row
    group — segments are written key-sorted with small row groups, so the
    directory is ~100 bytes/row-group; a serving node at 10^12 docs holds
    the directory for ITS segment subset (queries that big fan out via
    :meth:`SearchEngine.topk_segments` anyway).
    """

    def __init__(self, paths: list[str], col: str, filesystem=None):
        import threading
        self.col = col
        self.paths = list(paths)   # path per file_idx (fan-out pruning)
        self.files = []     # open pq.ParquetFile handles (footer cached)
        self.entries = []   # (file_idx, rg_idx, min, max) — min None = no stats
        self._pool = None   # lazy shared thread pool for multi-file reads
        self._pool_lock = threading.Lock()   # guards lazy pool creation
        for p in paths:
            f = fsio.parquet_file(p, filesystem)
            fi = len(self.files)
            self.files.append(f)
            md = f.metadata
            ci = next(i for i in range(md.num_columns)
                      if md.schema.column(i).name == col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is not None and st.has_min_max:
                    self.entries.append((fi, rg, st.min, st.max))
                else:
                    self.entries.append((fi, rg, None, None))

    def close(self) -> None:
        """Release the thread pool and file handles.  Engines are
        replaced on every snapshot advance (incremental sync), so a
        long-running serving process would otherwise accumulate 8
        non-daemon threads + one fd per segment file per sync."""
        if self._pool is not None:
            self._pool.shutdown(wait=False)
            self._pool = None
        for f in self.files:
            try:
                f.close()
            except Exception:
                pass
        self.files = []
        self.entries = []

    def _gather(self, per_file: dict[int, list[int]], columns):
        import pyarrow as pa
        read_cols = columns
        if columns is None and self.files:
            # explicit column list even for "all": base segments (pyarrow
            # kernel) and delta segments (Spark writer) may store the same
            # schema in different physical order, and concat_tables
            # requires identical schemas — pin the first file's order
            read_cols = self.files[0].schema_arrow.names
        elif columns is not None and self.col not in columns:
            read_cols = [self.col, *columns]
        items = list(per_file.items())
        if len(items) > 4:
            # one read per matched file; Arrow releases the GIL, so a
            # thread map overlaps the per-file open/decode latency (a
            # query term typically matches one row group in EVERY
            # doc-range segment — 32+ small reads back-to-back otherwise).
            # The pool is shared per directory: creating one per call
            # costs more than it saves on the cache-warm path.
            if self._pool is None:
                with self._pool_lock:
                    if self._pool is None:
                        from concurrent.futures import ThreadPoolExecutor
                        self._pool = ThreadPoolExecutor(8)
            tabs = list(self._pool.map(
                lambda it: self.files[it[0]].read_row_groups(
                    it[1], columns=read_cols, use_threads=False),
                items))
        else:
            tabs = [self.files[fi].read_row_groups(rgs, columns=read_cols,
                                                   use_threads=False)
                    for fi, rgs in items]
        if not tabs:
            schema = self.files[0].schema_arrow if self.files else pa.schema([])
            if read_cols is not None:
                schema = pa.schema([schema.field(c) for c in read_cols])
            return schema.empty_table()
        return pa.concat_tables(tabs)

    def _finish(self, tbl, mask, columns):
        tbl = tbl.filter(mask)
        return tbl if columns is None else tbl.select(columns)

    def read_isin(self, values: list, columns: list[str] | None = None
                  ) -> pd.DataFrame:
        """Rows whose key is in ``values`` (exact — stats prune row
        groups, an in-memory mask finishes the job)."""
        return self.read_isin_table(values, columns).to_pandas()

    def read_isin_table(self, values: list,
                        columns: list[str] | None = None):
        """:meth:`read_isin` as a ``pyarrow.Table``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from bisect import bisect_left
        vals = sorted(values)
        per_file: dict[int, list[int]] = {}
        for fi, rg, lo, hi in self.entries:
            # binary search instead of a linear any(): filter-context
            # reads pass candidate lists up to ~10^6 doc_ids, and an
            # O(entries × |vals|) sweep would dominate the read itself
            if lo is None:
                hit = True
            else:
                i = bisect_left(vals, lo)
                hit = i < len(vals) and vals[i] <= hi
            if hit:
                per_file.setdefault(fi, []).append(rg)
        tbl = self._gather(per_file, columns)
        vs = pa.array(vals).cast(tbl.schema.field(self.col).type)
        return self._finish(tbl, pc.is_in(tbl[self.col], value_set=vs),
                            columns)

    def read_range(self, lo, hi, columns: list[str] | None = None
                   ) -> pd.DataFrame:
        """Rows with ``lo <= key < hi``."""
        import pyarrow.compute as pc
        per_file: dict[int, list[int]] = {}
        for fi, rg, mn, mx in self.entries:
            if mn is None or not (mx < lo or mn >= hi):
                per_file.setdefault(fi, []).append(rg)
        tbl = self._gather(per_file, columns)
        c = tbl[self.col]
        mask = pc.and_(pc.greater_equal(c, lo), pc.less(c, hi))
        return self._finish(tbl, mask, columns).to_pandas()


class RangeClause(__import__("typing").NamedTuple):
    """ES ``range`` query in filter context (``bool.filter: {range:
    {field: {gte, lte}}}``): pass as ``filter_value`` with the numeric
    field's name — resolves against the ``<field>_num`` long sub-field
    (IndexBuilder ``numeric_fields``; dates are epoch millis).  Bounds
    are INCLUSIVE (gte/lte); docs missing the value never match, like
    ES.  Candidate-bounded resolution everywhere: the fields point-read
    filters candidates by the bounds, the fan-out tasks push the range
    into their span-pruned parquet read."""
    lo: int
    hi: int


class ExistsClause(__import__("typing").NamedTuple):
    """ES ``exists`` query in filter context (``bool.filter: {exists:
    {field}}``): docs whose sub-field carries a non-null doc value.
    ``kind`` picks the sub-field family the mapping indexed —
    ``"keyword"`` (default), ``"normalized"``, or ``"num"`` (a
    numeric_fields long; ES exists on an integer/date mapping).  Pass
    as ``filter_value`` with the field's name, like RangeClause; the
    resolution stays candidate-bounded everywhere (point-read the
    candidates' fields rows, test non-null — never a corpus scan of
    the typically-huge exists set)."""
    kind: str = "keyword"


class MustNotClause(__import__("typing").NamedTuple):
    """ES ``bool.must_not`` in filter context (``bool: {must: match,
    must_not: {...}}``): EXCLUDE docs matching the inner clause, never
    affecting scores — the complement of the equivalent ``filter``
    (ES executes must_not as a negated filter bitset).  ``inner`` is
    any positive clause shape this engine's filter context accepts: a
    term string, a ``terms`` list, a :class:`RangeClause`, or an
    :class:`ExistsClause` (``MustNotClause(ExistsClause())`` is ES's
    "field is missing").  Docs with a NULL/absent sub-field never match
    the inner clause, so they SURVIVE the exclusion — exactly ES's
    semantics (the reference's mappings invite this shape, e.g. a
    ``deleted: false`` exclusion, configs/ltd_doc.settings.json:164).
    Resolution stays candidate-bounded on every serving path: the
    banned set is only ever materialized for the query's candidate doc
    range, never the clause's corpus-wide match count."""
    inner: object


def _clause_expr(sub: str, value):
    """One resolved positive clause as a pyarrow predicate on the
    ``fields`` row's ``sub`` column."""
    import pyarrow.compute as pc
    f = pc.field(sub)
    if isinstance(value, RangeClause):
        return (f >= value.lo) & (f <= value.hi)
    if isinstance(value, ExistsClause):
        return f.is_valid()
    return f.isin(value)


def filter_candidates(cand: np.ndarray, clauses, read_matching,
                      allowed_docs=None) -> np.ndarray:
    """The filter-context evaluator every serving locus shares: the
    doc_ids among ``cand`` (sorted, unique) that are in ``allowed_docs``
    (when given) and pass every resolved ``(subcol, clause)`` of
    ``clauses`` — the ES bool conjunction, each clause restricting the
    previous clause's survivors, so cost shrinks per clause.

    ``read_matching(cand, sub, expr)`` is the locus's row reader: the
    doc_ids of the ``fields`` rows within ``cand``'s doc range whose
    ``sub`` satisfies ``expr``.  A :class:`MustNotClause` removes what
    its inner clause matches, so docs whose sub-field is NULL or absent
    survive it — exactly ES."""
    if allowed_docs is not None:
        cand = cand[np.isin(cand, allowed_docs)]
    for sub, value in clauses:
        if cand.size == 0:
            break
        negate = isinstance(value, MustNotClause)
        hit = read_matching(cand, sub,
                            _clause_expr(sub, value.inner if negate
                                         else value))
        cand = np.setdiff1d(cand, hit) if negate \
            else np.intersect1d(cand, hit)
    return cand


def _fields_span_matching(fields_paths: list[tuple[str, int, int]],
                          cand: np.ndarray, sub: str, expr) -> np.ndarray:
    """Fan-out task row reader for :func:`filter_candidates`: one range
    read over ``[cand.min(), cand.max()]`` that opens only the ``fields``
    files whose driver-computed doc_id span overlaps it (``(path, lo,
    hi)``, ``lo`` None = unbounded), with the range and the clause pushed
    into the parquet scan — cost ∝ the group's doc range, never the
    clause's corpus-wide match count."""
    import pyarrow.dataset as pds
    lo, hi = int(cand[0]), int(cand[-1])
    sel = [p for p, flo, fhi in fields_paths
           if flo is None or not (fhi < lo or flo > hi)]
    if not sel:
        return np.empty(0, dtype=np.int64)
    doc = pds.field("doc_id")
    tbl = pds.dataset(sel, format="parquet").to_table(
        filter=expr & (doc >= lo) & (doc <= hi), columns=["doc_id"])
    return tbl["doc_id"].to_numpy()


class QueryShape(__import__("typing").NamedTuple):
    """Everything :func:`topk_kernel` needs to know about a query besides
    its terms — one value, handed unchanged to the driver kernel and to
    every fan-out task.  ``phrase_terms`` (the ordered analyzed phrase,
    repeats kept) selects the phrase kernel with ``slop``; otherwise
    ``mode``/``min_should`` give the term semantics.  ``search_after``
    is the deep-paging cursor.  ``use_wand`` forces the WAND (True) or
    exhaustive (False) term kernel; None chooses by candidate postings
    (``EXHAUSTIVE_CUTOFF``).  ``span_end``: a phrase match must START at
    a 0-based position below it (ES ``span_first`` ``end``), None = no
    bound."""
    mode: str = "or"
    min_should: int | None = None
    search_after: tuple[float, int] | None = None
    phrase_terms: list[str] | None = None
    slop: int = 0
    use_wand: bool | None = None
    span_end: int | None = None


class LocusPlan(__import__("typing").NamedTuple):
    """:meth:`SearchEngine.plan`'s answer: the live query terms' idf in
    the caller's order, their Σdf (plus the caller's ``extra_df``), and
    whether that Σdf sends the query off the driver."""
    idf: dict[str, float]
    total_df: int
    fan_out: bool


def _query_terms(query_text: str, cfg: AnalyzerConfig) -> list[str]:
    """Search-analyzer terms, deduplicated (a bool query of unique
    TermQueries — duplicate query terms do not double-score in ES)."""
    return sorted(set(analyze_search(query_text, cfg)))


def drop_tombstoned(df: DataFrame, tombstones) -> DataFrame:
    """``df`` without its tombstoned doc_ids: the merge-on-read mask of
    every Spark locus, a broadcast anti-join.  ``tombstones`` is a
    :class:`SearchEngine` or a set of doc ids.  The mask is a local
    relation built from pandas; a Python row list would go through
    ``parallelize`` and a Python worker on every call."""
    ids = getattr(tombstones, "tombstones", tombstones)
    if not ids:
        return df
    ts = df.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": np.sort(np.fromiter(ids, dtype=np.int64,
                                                    count=len(ids)))}),
        "doc_id long")
    return df.join(F.broadcast(ts), "doc_id", "left_anti")


def live_mask(ids: np.ndarray, tombstones) -> np.ndarray:
    """The driver twin of :func:`drop_tombstoned`: a boolean mask over
    the doc_id array ``ids``, True where the doc is not tombstoned.
    ``tombstones`` is a :class:`SearchEngine` or a set of doc ids."""
    ts = getattr(tombstones, "tombstones", tombstones)
    return ~np.isin(ids, np.fromiter(ts, dtype=np.int64, count=len(ts)))


# the Spark-DF loci's result schema (:meth:`SearchEngine.fetch_top`)
RESULT_DDL = "doc_id long, url string, score double"


def top_k(scores: DataFrame, k: int) -> DataFrame:
    """The k best rows of a (doc_id, score) frame, score desc then
    doc_id asc — the last step of every Spark-DF query phase, planned as
    TakeOrderedAndProject (no global sort materialized)."""
    return (scores.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


# ---------------------------------------------------------------------------
# Exhaustive DataFrame path (correctness spine; Catalyst does the pruning)
# ---------------------------------------------------------------------------


class SearchEngine:
    """Query-time context over one index: caches global stats, tombstones
    and the doc_len/url sidecar so repeated queries don't re-run Spark jobs
    for invariant data.  Invalidate (rebuild) after incremental updates —
    the module-level helpers below do that automatically via snapshot ids.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: AnalyzerConfig = LTD_DOC, catalog=None):
        """``catalog``: the table seam (default ``ParquetCatalog(
        index_dir)``) — all engine reads (snapshot listing, point reads,
        Spark scans) go through it."""
        from .build_index import check_format_version, read_format_positions
        self.cat = catalog if catalog is not None else \
            ParquetCatalog(index_dir)
        check_format_version(index_dir, "query-time index",
                             filesystem=getattr(self.cat, "filesystem",
                                                None))
        # whether posting blocks carry real position streams (ES
        # index_options=positions) — phrase queries refuse loudly otherwise
        self.has_positions = read_format_positions(
            index_dir, getattr(self.cat, "filesystem", None))
        self.spark = spark
        self.index_dir = index_dir
        self.cfg = cfg
        # freeze the snapshot version NOW: version() must report what this
        # engine was built from, not the live catalog state, or the
        # get_engine cache can never detect staleness after incremental sync
        self._version = _current_version(self.cat)
        # init reads go through pyarrow, not Spark jobs: engine warm-up is
        # on the query-serving path (first query after build/sync).  Only
        # O(1)/O(churn) state lives in the driver: global stats and
        # tombstones.  Doc lengths travel inside posting blocks (dls_vb)
        # and urls are point-fetched for the k winners — a corpus-sized
        # doc_stats materialization here would be terabytes at 10^12 docs.
        # point-read machinery (all invalidated with the engine):
        # _RowGroupIndex per (table, key col); term_dict rows and posting
        # blocks LRU-cached per term — the Lucene analog of the resident
        # term index + the OS page cache over hot posting lists.
        self._rg_cache: dict = {}
        self._td_cache: "OrderedDict[str, tuple | None]" = OrderedDict()
        self._block_cache: "OrderedDict[str, list[dict]]" = OrderedDict()
        # (a, b) → exact bigram cf for the phrase suggester, an LRU of
        # TD_CACHE_TERMS pairs in insertion order (suggest.pair_cf)
        self._pair_cf_cache: dict[tuple[str, str], int] = {}
        # a serving process answers queries from many threads against one
        # cached engine (get_engine); the LRU OrderedDicts mutate on every
        # hit (move_to_end) and are not thread-safe — one lock over both
        # caches costs ~µs against a ~10 ms p95 serving path
        import threading
        # RLock: the locked cache methods' fetch paths re-enter _rg_index,
        # which locks again when a directory is lazily built
        self._cache_lock = threading.RLock()
        gdf = read_table_arrow(self.cat, "global_stats")
        if gdf.empty:
            raise FileNotFoundError(
                f"no index at {index_dir!r} (global_stats table missing — "
                "run the build first)")
        g = gdf.iloc[0]
        self.n_docs = int(g["n_docs"])
        self.avgdl = float(g["avgdl"] or 1.0) or 1.0
        if self.cat.table_exists("tombstones"):
            self.tombstones = set(
                read_table_arrow(self.cat, "tombstones")["doc_id"].tolist())
        else:
            self.tombstones = set()
        # the tombstone set is driver-resident by design (bounded by churn
        # since the last compaction, cleared by compact()) — but an
        # operator who defers compaction indefinitely at 10^12 docs would
        # grow it without bound; warn loudly before that becomes an OOM
        if len(self.tombstones) > TOMBSTONE_WARN_COUNT:
            import warnings
            warnings.warn(
                f"index at {index_dir!r} carries {len(self.tombstones):,} "
                f"tombstones (> {TOMBSTONE_WARN_COUNT:,}); the set is "
                "driver-resident and broadcast per fanned-out query — run "
                "operators.merge.compact() to fold deletes into the "
                "segments and clear it", RuntimeWarning)
        # live segment-file list for the fan-out path, computed lazily
        # once per engine (the segment set is frozen per snapshot)
        self._seg_files: list[tuple[str, int]] | None = None
        # live postings_flat snapshot dirs, listed lazily (_flat_scan)
        self._flat_dirs: list[str] | None = None
        # open the segment readers NOW (Lucene opens per-segment readers
        # at IndexReader construction): the footer sweep happens once at
        # engine warm-up instead of inflating the first query's latency
        for table, col in (("term_dict", "term"),
                           ("postings_blocks", "term"),
                           ("doc_stats", "doc_id")):
            if self.cat.table_exists(table):
                self._rg_index(table, col)

    def _rg_index(self, table: str, col: str) -> _RowGroupIndex:
        """Per-(table, key) row-group directory, built once per engine.
        Lazy creation is locked: most directories open at engine
        construction, but e.g. ``completion`` opens on the first
        suggest(), which may arrive on several serving threads at once."""
        key = (table, col)
        idx = self._rg_cache.get(key)
        if idx is None:
            with self._cache_lock:
                idx = self._rg_cache.get(key)
                if idx is not None:
                    return idx
                return self._build_rg_index(key, table, col)
        return idx

    def _build_rg_index(self, key, table: str, col: str) -> _RowGroupIndex:
        idx = _RowGroupIndex(self.cat.data_files(table), col,
                             self.cat.filesystem)
        self._rg_cache[key] = idx
        return idx

    def fetch_urls(self, doc_ids: list[int]) -> dict[int, str]:
        """Point-fetch urls for ≤k winners via the doc_id row-group
        directory.  doc_stats part files are doc_id-ordered (doc_id = url
        rank, files written in rank order), so pruning is tight."""
        if not doc_ids:
            return {}
        pdf = self._rg_index("doc_stats", "doc_id").read_isin(
            [int(d) for d in doc_ids], ["doc_id", "url"])
        return dict(zip(pdf["doc_id"].values, pdf["url"].values))

    def hits_frame(self, hits: list[tuple[float, int]],
                   urls: dict[int, str] | None = None) -> pd.DataFrame:
        """The scored serving paths' result: best-first ``[(score,
        doc_id)]`` → a (doc_id, url, score) frame, urls point-fetched
        (:meth:`fetch_urls`) unless the caller already holds them.  No
        hits → the empty frame."""
        if urls is None:
            urls = self.fetch_urls([d for _, d in hits])
        return pd.DataFrame(
            [{"doc_id": d, "url": urls.get(d), "score": s} for s, d in hits],
            columns=["doc_id", "url", "score"])

    def version(self) -> tuple:
        return self._version

    def close(self) -> None:
        """Release every row-group directory (thread pools + parquet file
        handles).  Called by get_engine when a snapshot advance replaces
        this engine; safe to call twice."""
        for idx in self._rg_cache.values():
            idx.close()
        self._rg_cache.clear()
        self._td_cache.clear()
        self._block_cache.clear()
        self._pair_cf_cache.clear()

    # -- Spark DataFrame loci: query phase + fetch phase ------------------
    def _flat_scan(self) -> DataFrame:
        """:func:`..build_index.read_flat`'s rows with the schema pinned to
        FLAT_DDL, which every flat writer pins: an unpinned read runs a
        schema-inference job per call.  A ParquetCatalog snapshot is one
        immutable dir, so the live files' parents are the live dirs (32+
        file paths would cost a listing job).  Other catalogs: ``read``."""
        from .build_index import FLAT_DDL, read_flat
        if not isinstance(self.cat, ParquetCatalog):
            return read_flat(self.cat, self.spark)
        with self._cache_lock:
            if self._flat_dirs is None:
                self._flat_dirs = list(dict.fromkeys(
                    os.path.dirname(f)
                    for f in self.cat.data_files("postings_flat")))
        return (self.spark.read.schema(FLAT_DDL).parquet(*self._flat_dirs)
                .filter(F.col("term").isNotNull())
                .drop("url"))

    def scored_postings(self, terms: list[str], boost: float = 1.0,
                        tombstones=None) -> DataFrame:
        """Query phase of every Spark-DF scoring locus: the flat postings
        of ``terms``' live members (:meth:`plan`), term-pushed to the
        scan, minus ``tombstones`` (default this engine's), each with its
        ``idf`` × ``boost`` and BM25 ``contrib``.  The plan's idf values
        are inlined as a literal map: no ``term_dict`` scan or join."""
        idf = self.plan(terms).idf
        flat = drop_tombstoned(
            self._flat_scan().filter(F.col("term").isin(list(idf))),
            self if tombstones is None else tombstones)
        idf_of = F.create_map(*(F.lit(v) for t, i in idf.items()
                                for v in (t, i * boost)))[F.col("term")] \
            if idf else F.lit(None).cast("double")
        return (
            flat.withColumn("idf", idf_of)
            .withColumn(
                "contrib",
                F.col("idf") * F.col("tf") * (K1 + 1.0)
                / (F.col("tf") + K1 * (1.0 - B + B * F.col("doc_len") / F.lit(self.avgdl))),
            )
        )

    def fetch_top(self, scores: DataFrame, k: int) -> DataFrame:
        """Fetch phase of every Spark-DF scoring locus: collects the
        :func:`top_k` rows of a (doc_id, score) frame and point-reads
        their urls (:meth:`hits_frame`) into a RESULT_DDL local relation."""
        hits = [(r["score"], r["doc_id"]) for r in top_k(scores, k).collect()]
        return self.spark.createDataFrame(self.hits_frame(hits), RESULT_DDL)

    def topk_df(self, query_text: str, k: int, mode: str = "or",
                search_after: tuple[float, int] | None = None,
                filter_field: str | None = None,
                filter_value=None,
                filter_normalized: bool = False,
                min_should_match: int | None = None,
                filters: "list[tuple] | None" = None) -> DataFrame:
        """BM25 top-k in ES's two phases.  Query phase: Catalyst sums the
        :meth:`scored_postings` per doc and keeps the k best as
        TakeOrderedAndProject.  Fetch phase (:meth:`fetch_top`): urls are
        point-read for those k only, returned as a local relation.

        ``search_after``: deep-paging cursor (see :meth:`topk_wand`).
        On this analytics path the cursor's score equality is only exact
        against scores from the SAME path (Spark float aggregation order
        is plan-dependent) — the same-path contract ES documents.

        ``filter_field``/``filter_value``/``filter_normalized``: ES
        ``bool: {must, filter}`` (see :meth:`topk_wand`) — here a
        doc_id semi-join against the merge-on-read ``fields`` view,
        applied BEFORE aggregation so filtered-out postings never
        shuffle; Catalyst broadcasts whichever side is small."""
        from .build_index import read_fields
        _check_k(k)
        terms = _query_terms(query_text, self.cfg)
        flat = self.scored_postings(terms)
        flt_list = self._resolve_filter_list(filter_field, filter_value,
                                             filter_normalized, filters)
        if flt_list:
            fsrc = read_fields(self.cat, self.spark)
            for sub, values in flt_list:
                negate = isinstance(values, MustNotClause)
                inner = values.inner if negate else values
                if isinstance(inner, RangeClause):
                    pred = F.col(sub).between(inner.lo, inner.hi)
                elif isinstance(inner, ExistsClause):
                    pred = F.col(sub).isNotNull()
                else:
                    pred = F.col(sub).isin(inner)
                if negate:
                    # must_not: anti-join against the MATCHING set so
                    # NULL-sub-field docs survive (a negated predicate
                    # would drop them — NULL compares to NULL, not False)
                    drop = fsrc.filter(pred).select("doc_id")
                    flat = flat.join(drop, "doc_id", "left_anti")
                else:
                    keep = fsrc.filter(pred).select("doc_id")
                    flat = flat.join(keep, "doc_id", "semi")
        scored = flat.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"), F.count("*").alias("n_terms"))
        if mode == "and":
            scored = scored.filter(F.col("n_terms") == len(terms))
        if min_should_match is not None:
            _check_msm(mode, min_should_match)
            scored = scored.filter(F.col("n_terms") >= min_should_match)
        if search_after is not None:
            s0, d0 = float(search_after[0]), int(search_after[1])
            scored = scored.filter(
                (F.col("score") < F.lit(s0))
                | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > d0)))
        return self.fetch_top(scored, k)

    # -- block-max WAND path ---------------------------------------------------
    def _read_filtered(self, table: str, terms: list[str],
                       columns: list[str] | None = None) -> pd.DataFrame:
        """Point-read index rows for ≤|q| terms WITHOUT a Spark job.

        Query serving must not pay per-job scheduling latency (hundreds of
        ms) to fetch a handful of posting blocks — the Lucene analog is a
        segment reader, not a MapReduce job.  pyarrow scans the same
        parquet snapshot dirs with the term predicate pushed to row-group
        stats (segments are written term-sorted, so pruning is tight).
        The Spark path remains for analytical scoring (topk_df).
        """
        return self._rg_index(table, "term").read_isin(terms, columns)

    def suggest(self, prefix: str, k: int = 10) -> pd.DataFrame:
        """Completion suggester (T7): top-k terms for a prefix, weighted by
        doc frequency — served from the materialized ``completion`` table
        (one prefix point-read, row-group pruned) with a term_dict range
        scan fallback for prefixes longer than MAX_PREFIX_LEN."""
        from .build_index import MAX_PREFIX_LEN
        prefix = prefix.lower()
        if self.cat.table_exists("completion") and len(prefix) <= MAX_PREFIX_LEN:
            pdf = self._rg_index("completion", "prefix").read_isin(
                [prefix], ["term", "weight"])
        else:
            pdf = self._rg_index("term_dict", "term").read_range(
                prefix, prefix + chr(0x10FFFF), ["term", "df"])
            pdf = pdf.rename(columns={"df": "weight"})
        pdf = pdf.sort_values(["weight", "term"], ascending=[False, True])
        return pdf.head(k).reset_index(drop=True)

    def keyword_term(self, field: str, value, normalized: bool = False,
                     size: int = 10,
                     after_doc_id: int | None = None) -> pd.DataFrame:
        """ES term/terms-query SERVING path over a keyword sub-field (T8)
        — point-read, NO Spark job: the value-sorted ``fields_by_<subcol>``
        sidecar (build/sync/compact maintain it) is row-group-pruned by
        the same resident footer directory the BM25 path uses, exactly as
        ES serves a term filter from the keyword field's inverted index
        rather than a scan.  ``value``: one string (ES ``term``) or a
        list of strings (ES ``terms`` — docs matching ANY value).
        Returns (doc_id, url), doc_id asc, bounded by ``size`` (ES
        ``size`` — the analytics path over the full match set stays
        ``operators.keyword.keyword_match``).  ``after_doc_id`` pages a
        match set past the ``max_result_window`` cap: only doc_ids
        STRICTLY greater are returned — the search_after analog for term
        queries, where doc_id asc is the total order (no score ties to
        break).  Merge-on-read: tombstoned docs are masked by the
        engine's tombstone set; compact folds the sidecar clean before
        clearing that set."""
        from ..functions.analysis import normalize
        from .build_index import sidecar_table
        _check_k(size)
        sub = f"{field}_normalized" if normalized else f"{field}_keyword"
        table = sidecar_table(sub)
        if not self.cat.table_exists(table):
            raise KeyError(
                f"no point-read sidecar {table!r} — was the index built "
                f"with keyword_fields=({field!r},)?")
        values = [value] if isinstance(value, str) else list(value)
        if normalized:
            values = [normalize(v) for v in values]
        # each doc carries exactly one value per sub-field, so the OR over
        # deduped query values can never emit a doc twice
        pdf = self._rg_index(table, sub).read_isin(sorted(set(values)),
                                                   ["doc_id"])
        floor = -1 if after_doc_id is None else int(after_doc_id)
        ids = sorted(int(d) for d in pdf["doc_id"].values
                     if int(d) > floor
                     and int(d) not in self.tombstones)[:size]
        urls = self.fetch_urls(ids)
        return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                             "url": [urls.get(i) for i in ids]})

    def _keyword_value_window(self, field: str, lo: str, hi: str,
                              normalized: bool, size: int,
                              after_doc_id: int | None) -> pd.DataFrame:
        """Shared serving core of :meth:`keyword_range` /
        :meth:`keyword_prefix`: a row-group-pruned ``[lo, hi)`` RANGE
        READ of the value-sorted sidecar (no Spark job — exactly how ES
        serves keyword range/prefix from the field's terms index), then
        the :meth:`keyword_term` page contract — (doc_id, url), doc_id
        asc, ``size``-bounded, ``after_doc_id`` paging,
        tombstone-masked."""
        from .build_index import sidecar_table
        _check_k(size)
        sub = f"{field}_normalized" if normalized else f"{field}_keyword"
        table = sidecar_table(sub)
        if not self.cat.table_exists(table):
            raise KeyError(
                f"no point-read sidecar {table!r} — was the index built "
                f"with keyword_fields=({field!r},)?")
        idx = self._rg_index(table, sub)
        # serving budget: the value window's overlapping row groups
        # bound what the gather can materialize driver-side (footer
        # stats only — nothing read yet).  A corpus-wide window belongs
        # on the analytics path (operators.keyword.keyword_match), the
        # same division of labor keyword_term documents.
        est = 0
        for fi, rg, mn, mx in idx.entries:
            if mn is None or not (mx < lo or mn >= hi):
                est += idx.files[fi].metadata.row_group(rg).num_rows
        if est > MAX_RESULT_WINDOW:
            raise ValueError(
                f"keyword value window [{lo!r}, {hi!r}) overlaps ~{est} "
                f"sidecar rows > max_result_window={MAX_RESULT_WINDOW} "
                "— too broad for the point-read serving path; narrow "
                "the bounds or use the Spark analytics path "
                "(operators.keyword.keyword_match)")
        pdf = idx.read_range(lo, hi, ["doc_id"])
        floor = -1 if after_doc_id is None else int(after_doc_id)
        ids = sorted(int(d) for d in pdf["doc_id"].values
                     if int(d) > floor
                     and int(d) not in self.tombstones)[:size]
        urls = self.fetch_urls(ids)
        return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                             "url": [urls.get(i) for i in ids]})

    def keyword_range(self, field: str, gte: str | None = None,
                      lte: str | None = None, normalized: bool = False,
                      size: int = 10,
                      after_doc_id: int | None = None) -> pd.DataFrame:
        """ES ``range`` query on a KEYWORD sub-field — lexicographic
        bounds, both INCLUSIVE (the gte/lte core; open ends by
        omission).  Inclusive upper is the immediate code-point
        successor bound (``lte + '\\0'``)."""
        from ..functions.analysis import normalize
        if normalized:
            gte = normalize(gte) if gte is not None else None
            lte = normalize(lte) if lte is not None else None
        lo = "" if gte is None else gte
        hi = _HI if lte is None else lte + "\0"
        return self._keyword_value_window(field, lo, hi, normalized,
                                          size, after_doc_id)

    def keyword_prefix(self, field: str, prefix: str,
                       normalized: bool = False, size: int = 10,
                       after_doc_id: int | None = None) -> pd.DataFrame:
        """ES ``prefix`` query on a keyword sub-field: the sidecar range
        read bounded by ``[prefix, prefix + MAX_CODEPOINT)`` — the FST
        common-prefix bound ES gets from the terms index."""
        from ..functions.analysis import normalize
        if normalized:
            prefix = normalize(prefix)
        if not prefix:
            raise ValueError("prefix must be non-empty (an empty prefix "
                             "is a full scan — use the analytics path)")
        return self._keyword_value_window(field, prefix, prefix + _HI,
                                          normalized, size, after_doc_id)

    def _resolve_filter(self, field: str, value,
                        normalized: bool = False) -> tuple[str, list]:
        """Validate an ES ``bool.filter`` term/terms clause against the
        index layout and fold query values through the field's analyzer
        (normalized sub-fields fold, keyword sub-fields match raw) —
        shared by every serving path so the clause means the same thing
        everywhere.  Returns ``(subcol, values)``."""
        from ..functions.analysis import normalize
        if isinstance(value, MustNotClause):
            # resolve the inner clause exactly as a positive filter
            # (same sub-field checks, same analyzer folding), then wrap
            # the resolved values back so serving paths see the negation
            sub, inner = self._resolve_filter(field, value.inner,
                                              normalized)
            return sub, MustNotClause(inner)
        if isinstance(value, RangeClause):
            sub = f"{field}_num"
        elif isinstance(value, ExistsClause):
            if value.kind not in ("keyword", "normalized", "num"):
                raise ValueError("ExistsClause.kind must be keyword/"
                                 "normalized/num")
            sub = f"{field}_{value.kind}"
        else:
            sub = f"{field}_normalized" if normalized else f"{field}_keyword"
        if not self.cat.table_exists("fields"):
            raise KeyError(
                "no 'fields' table — filtered queries need an index built "
                "with keyword_fields=(...)")
        names = self._rg_index("fields", "doc_id").files
        if names and sub not in names[0].schema_arrow.names:
            raise KeyError(
                f"fields table has no sub-field {sub!r} — was the index "
                f"built with keyword_fields=({field!r},) (or "
                f"numeric_fields for range clauses)?")
        if isinstance(value, (RangeClause, ExistsClause)):
            return sub, value
        values = [value] if isinstance(value, str) else list(value)
        if normalized:
            values = [normalize(v) for v in values]
        return sub, sorted(set(values))

    def _resolve_filter_list(self, filter_field, filter_value,
                             filter_normalized,
                             filters) -> "list[tuple[str, object]] | None":
        """Merge the legacy single-clause args and the ``filters`` list
        into one resolved ``[(subcol, values), ...]`` CONJUNCTION — the
        full ES ``bool`` filter context, where several ``filter`` and
        ``must_not`` clauses apply together.  ``filters`` elements are
        ``(field, value)`` or ``(field, value, normalized)``; each value
        is any clause shape ``_resolve_filter`` accepts (term, terms
        list, RangeClause, ExistsClause, MustNotClause)."""
        out = []
        if filter_field is not None:
            out.append(self._resolve_filter(filter_field, filter_value,
                                            filter_normalized))
        for c in (filters or []):
            f, v, *n = c
            out.append(self._resolve_filter(f, v, bool(n[0]) if n
                                            else False))
        return out or None

    def _filter_allowed_list(self, cand: "np.ndarray", clauses,
                             allowed_docs=None) -> "np.ndarray":
        """Driver locus of :func:`filter_candidates`: point-reads the
        candidates' doc-ordered ``fields`` rows through the resident
        footer directory — cost ∝ |candidates| (itself bounded by
        SEGMENT_FANOUT_CUTOFF on the driver path), NEVER ∝ the filter's
        match count: a broad filter (lang='en' ≈ 60% of a 10^12-doc
        corpus) must not materialize billions of ids driver-side the way
        reading the value-sorted sidecar would.  The fan-out tasks run
        the same evaluator over a range read (:meth:`topk_segments`)."""
        idx = self._rg_index("fields", "doc_id")

        def read_matching(c, sub, expr):
            tbl = idx.read_isin_table(c.tolist(), ["doc_id", sub])
            return tbl.filter(expr)["doc_id"].to_numpy()
        return filter_candidates(cand, clauses, read_matching, allowed_docs)

    def _restrict(self, clauses, allowed_docs=None):
        """The driver kernel's ``restrict`` callable, None when neither
        filter clauses nor a doc whitelist apply."""
        if not clauses and allowed_docs is None:
            return None
        return lambda cand: self._filter_allowed_list(cand, clauses or [],
                                                      allowed_docs)

    def _term_meta(self, terms: list[str]) -> dict:
        """term → (idf, df) | None via a bounded LRU over term_dict point
        reads (the resident term-dictionary front of a Lucene reader).
        Negative entries (term absent from the index) are cached too.

        Whole method under the cache lock: concurrent serving threads
        mutate the LRU on every hit (move_to_end).  Cold-term point
        reads serialize under it — acceptable, they are ~ms events on a
        warm path measured in µs."""
        with self._cache_lock:
            missing = [t for t in terms if t not in self._td_cache]
            if missing:
                pdf = self._read_filtered("term_dict", missing,
                                          ["term", "idf", "df"])
                got = {t: (float(i), int(d))
                       for t, i, d in zip(pdf["term"].values,
                                          pdf["idf"].values,
                                          pdf["df"].values)}
                for t in missing:
                    self._td_cache[t] = got.get(t)
            out = {}
            for t in terms:
                self._td_cache.move_to_end(t)
                out[t] = self._td_cache[t]
            # evict only after the answer is built: this query's own
            # least-recently-used entries must not be dropped from it
            while len(self._td_cache) > TD_CACHE_TERMS:
                self._td_cache.popitem(last=False)
            return out

    def _term_blocks(self, terms: list[str]) -> dict[str, list[dict]]:
        """term → posting-block rows via a bounded LRU — the page-cache
        analog over hot posting lists.  Terms whose candidate count
        exceeds BLOCK_CACHE_MAX_POSTINGS are served but not cached (head
        terms at corpus scale route to topk_segments before this point);
        empty results ARE cached (absent-term queries stay cheap).
        Runs under the cache lock (see :meth:`_term_meta`)."""
        with self._cache_lock:
            missing = [t for t in terms if t not in self._block_cache]
            fetched: dict[str, list[dict]] = {}
            if missing:
                pdf = self._read_filtered("postings_blocks", missing)
                for r in pdf.to_dict("records"):
                    fetched.setdefault(r["term"], []).append(r)
                for t in missing:
                    bl = fetched.get(t, [])
                    if sum(b["n"] for b in bl) <= BLOCK_CACHE_MAX_POSTINGS:
                        self._block_cache[t] = bl
            out = {}
            for t in terms:
                bl = self._block_cache.get(t)
                if bl is not None:
                    self._block_cache.move_to_end(t)
                else:
                    bl = fetched.get(t, [])
                if bl:
                    out[t] = bl
            # evict only after the answer is built (see _term_meta)
            while len(self._block_cache) > BLOCK_CACHE_TERMS:
                self._block_cache.popitem(last=False)
            return out

    def plan(self, terms: list[str], extra_df: int = 0) -> LocusPlan:
        """The one locus decision of every serving path.  Point-reads the
        term_dict rows of ``terms`` (:meth:`_term_meta`) and keeps the
        live ones: a fully-tombstoned term loses its dictionary row at
        sync but keeps posting blocks until compaction, and no scoring
        path may see a term it has no idf for.  ``fan_out`` is whether
        Σdf over the live terms, plus ``extra_df`` (postings the caller
        decodes besides, e.g. a prefix clause's expansions), reaches
        SEGMENT_FANOUT_CUTOFF.  Each caller keeps its own action above
        the cutoff: segment fan-out, the Spark locus, a backoff or a
        refusal."""
        meta = self._term_meta(terms)
        idf = {t: meta[t][0] for t in terms if meta[t] is not None}
        total_df = sum(meta[t][1] for t in idf) + int(extra_df)
        return LocusPlan(idf, total_df, total_df >= SEGMENT_FANOUT_CUTOFF)

    def _run_locus(self, plan: LocusPlan, k: int, shape: QueryShape,
                   flt=None, allowed_docs=None,
                   use_segments: bool | None = None) -> pd.DataFrame:
        """Run ``shape`` over the plan's live terms on the locus the plan
        chose (``use_segments`` overrides it): :meth:`topk_segments`, or
        :func:`topk_kernel` over the driver's cached blocks."""
        terms = list(plan.idf)
        if plan.fan_out if use_segments is None else use_segments:
            return self.topk_segments(terms, plan.idf, k, shape,
                                      filter_clause=flt,
                                      allowed_docs=allowed_docs)
        return self.hits_frame(topk_kernel(
            self._term_blocks(terms), plan.idf, self.avgdl, k,
            self.tombstones, shape, self._restrict(flt, allowed_docs)))

    def _check_positions(self, what: str) -> None:
        if not self.has_positions:
            raise ValueError(
                f"index at {self.index_dir!r} was built without positions "
                f"(index_positions=False) — {what} need position streams; "
                "rebuild with IndexBuilder(index_positions=True)")

    def topk_wand(self, query_text: str, k: int,
                  use_wand: bool | None = None,
                  use_segments: bool | None = None,
                  mode: str = "or",
                  search_after: tuple[float, int] | None = None,
                  filter_field: str | None = None,
                  filter_value=None,
                  filter_normalized: bool = False,
                  analyzed_terms: list[str] | None = None,
                  min_should_match: int | None = None,
                  filters: "list[tuple] | None" = None
                  ) -> pd.DataFrame:
        """Top-k over the encoded blocks, cost-based (Lucene-style): when
        the candidate postings are few (< EXHAUSTIVE_CUTOFF), decode them
        all and score vectorized — the doc-at-a-time WAND loop's per-doc
        Python overhead dwarfs its skipped work at that size.  WAND takes
        over where pruning actually pays: large corpora with selective
        queries.  Both paths return identical rankings (property-tested).
        ``use_wand`` forces a path (None = cost-based).

        Execution locus is cost-based too (:meth:`plan`): when the
        candidate posting count (Σ df from term_dict — a ≤|q|-row point
        read) reaches SEGMENT_FANOUT_CUTOFF, the query fans out per
        doc-disjoint segment group as a Spark job and only ≤k rows per
        group reach the driver (:meth:`topk_segments`) — a head term
        ("the" ≈ N postings) must never materialize its full candidate
        block set driver-side.  ``use_segments`` forces the locus (None =
        cost-based).

        ``mode="and"`` gives conjunctive semantics (ES ``bool.filter`` of
        term queries, J6): only docs containing EVERY analyzed query term,
        scored by the same BM25 sum — rank-identical to
        ``topk_df(..., mode="and")``.

        ``search_after``: ES deep-paging cursor — the previous page's
        last ``(score, doc_id)``; this page returns the next ``k`` docs
        strictly after it in (score desc, doc_id asc) order.  The paired
        remedy for the ``max_result_window`` cap (``_check_k``): page
        with bounded k instead of one giant request.  Contract: feed a
        cursor back into the SAME serving path it came from (scores are
        deterministic per path; last-bit accumulation order may differ
        across paths, exactly ES's same-shard-setup caveat).

        ``filter_field``/``filter_value``/``filter_normalized``: the ES
        ``bool: {must: match, filter: term}`` shape (the reference's own
        resume-token lookup is a bool.filter of term clauses,
        load.service.ts:151-166) — restrict the scored result to docs
        whose keyword sub-field equals ``filter_value`` (or ANY of a
        list, ES ``terms``).  Non-scoring, like ES filter context.  The
        filter resolves through :func:`filter_candidates` on both loci —
        candidate-bounded on the driver, range-pruned per fan-out task —
        never ∝ the filter's corpus-wide match count.

        ``analyzed_terms``: bypass the search analyzer and score these
        index-vocabulary terms directly (deduplicated, sorted) — the
        entry point for term-expansion queries (fuzzy/wildcard,
        operators/expand.py) whose expansions come FROM the term
        dictionary and must not be re-analyzed.

        ``min_should_match``: ES bool.should minimum_should_match — a
        doc must match ≥ this many of the analyzed term clauses
        (mode="or" only; "and" IS min_should_match=len(terms))."""
        _check_k(k)
        _check_msm(mode, min_should_match)
        analyzed = sorted(set(analyzed_terms)) if analyzed_terms is not None \
            else _query_terms(query_text, self.cfg)
        if not analyzed:
            return self.hits_frame([])
        plan = self.plan(analyzed)
        # conjunctive: a query term with no live postings means no doc can
        # contain every term (same as topk_df, whose n_terms count can
        # never reach len(analyzed))
        if not plan.idf or (mode == "and"
                            and len(plan.idf) < len(analyzed)):
            return self.hits_frame([])
        flt = self._resolve_filter_list(filter_field, filter_value,
                                        filter_normalized, filters)
        shape = QueryShape(mode, min_should_match, search_after,
                           use_wand=use_wand)
        return self._run_locus(plan, k, shape, flt,
                               use_segments=use_segments)

    def phrase_topk(self, phrase_text: str, k: int,
                    use_segments: bool | None = None,
                    search_after: tuple[float, int] | None = None,
                    filter_field: str | None = None,
                    filter_value=None,
                    filter_normalized: bool = False,
                    slop: int = 0,
                    allowed_docs=None,
                    filters: "list[tuple] | None" = None) -> pd.DataFrame:
        """ES ``match_phrase`` (slop=0 default) over positional postings.
        ``slop`` relaxes adjacency to the in-order window rule documented
        on :func:`phrase_topk_arrays`.

        Requires an index built with ``index_positions=True`` (ES
        ``index_options: positions`` — the Lucene default every reference
        text mapping inherits); refuses loudly otherwise.

        Semantics (engine spec, oracle-checked): the SEARCH analyzer's
        token sequence must occur contiguously by POSITION — consecutive
        phrase tokens at consecutive source-token positions, so
        stop-filtered gaps break adjacency and word_delimiter/edge-ngram
        expansions match at their originating token's position.
        Scoring is Lucene's BM25 PhraseQuery: ``idf_sum × tfn(phrase_freq,
        dl)`` where idf_sum is the sum of the phrase terms' idfs (repeats
        included) and phrase_freq counts DISTINCT start positions.

        Execution is cost-based like :meth:`topk_wand`: the candidate set
        is the conjunctive intersection, and the kernel intersects rarest
        term first with BLOCK-PRUNED decodes (a head term costs ~min-df
        block decodes, not its posting list — see phrase_topk_arrays).
        The block FETCH is still per-term (`_term_blocks` point-reads all
        of a term's block rows), so fan-out to doc-disjoint segment
        groups triggers on the same :meth:`plan` — a head term's encoded
        blocks must not reach the driver at corpus scale.
        ``filter_field``/``search_after``: as in :meth:`topk_wand`.
        ``allowed_docs``: restrict evaluation to these doc_ids (the
        rescore-window hook, operators/rescore.py) — candidate
        intersection and position verify are bounded by the given set.
        The plan's fan-out still applies: a head-term phrase routes
        to :meth:`topk_segments` with the window broadcast (k-sized),
        so the term's encoded blocks never reach the driver.
        """
        _check_k(k)
        self._check_positions("phrase queries")
        # ORDERED, duplicates kept: "to be or not to be" is six terms
        terms = analyze_search(phrase_text, self.cfg)
        if not terms:
            return self.hits_frame([])
        uniq = list(dict.fromkeys(terms))
        plan = self.plan(uniq)
        if len(plan.idf) < len(uniq):
            return self.hits_frame([])   # a term absent ⇒ no phrase match
        flt = self._resolve_filter_list(filter_field, filter_value,
                                        filter_normalized, filters)
        shape = QueryShape(search_after=search_after, phrase_terms=terms,
                           slop=slop)
        return self._run_locus(plan, k, shape, flt, allowed_docs,
                               use_segments)

    def phrase_prefix_topk(self, phrase_text: str, k: int,
                           max_expansions: int = 50) -> pd.DataFrame:
        """ES ``match_phrase_prefix``: the phrase's LAST token is a
        prefix — docs where the fixed terms occur contiguously followed
        by ANY vocabulary term starting with the prefix (the
        autocomplete-on-phrases query).

        Semantics (pinned, Lucene MultiPhraseQuery under BM25): the
        prefix expands against the term dictionary in term order,
        capped at ``max_expansions`` (ES default 50); the last slot
        matches if any expansion sits there; phrase_freq counts
        DISTINCT start positions; idf_sum = Σ idf(fixed terms) +
        Σ idf(expansions) — MultiPhraseQuery sums term stats over every
        term in every position.

        Execution: the expansions' postings merge into ONE pseudo-term
        (doc-sorted union, per-doc distinct position union) that rides
        the standard phrase kernel unchanged.  Driver-kernel only, cost
        ∝ the union's Σdf — the same cost profile ES warns about for
        short prefixes; give the prefix ≥ 2-3 chars at corpus scale
        (the fixed terms' block-pruned intersection does NOT bound the
        union decode, because the union must be assembled before the
        kernel prunes)."""
        _check_k(k)
        empty = self.hits_frame([])
        self._check_positions("phrase_prefix queries")
        terms = analyze_search(phrase_text, self.cfg)
        if not terms:
            return empty
        fixed, prefix = terms[:-1], terms[-1]
        exps = self._rg_index("term_dict", "term").read_range(
            prefix, prefix + chr(0x10FFFF), ["term", "idf"])
        exps = exps.sort_values("term").head(max_expansions)
        if exps.empty:
            return empty
        ufixed = list(dict.fromkeys(fixed))
        idf = dict(self.plan(ufixed).idf)
        if len(idf) < len(ufixed):
            return empty
        exp_terms = exps["term"].astype(str).tolist()
        by_term = self._term_blocks(ufixed + exp_terms)
        if len([t for t in ufixed if t in by_term]) < len(ufixed):
            return empty
        exp_blocks = [b for t in exp_terms for b in by_term.get(t, [])]
        if not exp_blocks:
            return empty
        pseudo = "\x00prefix"          # cannot collide with vocabulary
        kernel_terms = {t: by_term[t] for t in ufixed}
        kernel_terms[pseudo] = [_union_positions_block(exp_blocks)]
        idf[pseudo] = float(exps["idf"].sum())
        return self.hits_frame(topk_kernel(
            kernel_terms, idf, self.avgdl, k, self.tombstones,
            QueryShape(phrase_terms=fixed + [pseudo])))

    def explain(self, query_text: str, doc_id: int) -> pd.DataFrame:
        """ES ``_explain``: the per-term BM25 score breakdown for ONE doc
        — ``(term, tf, doc_len, idf, contribution)`` rows, term-sorted,
        empty for a tombstoned/absent doc.  Pure point reads: term_dict
        rows for the analyzed terms, then per term only the single
        posting block whose ``[first_doc, last_doc]`` range can hold the
        doc is decoded (the block cache makes repeat explains free).
        ``sum(contribution)`` equals the serving paths' score bit-for-bit
        when accumulated in term order (tested)."""
        doc_id = int(doc_id)
        cols = ["term", "tf", "doc_len", "idf", "contribution"]
        if doc_id in self.tombstones:
            return pd.DataFrame(columns=cols)
        idf_of = self.plan(_query_terms(query_text, self.cfg)).idf
        terms = list(idf_of)
        if not terms:
            return pd.DataFrame(columns=cols)
        by_term = self._term_blocks(terms)
        rows = []
        for t in terms:
            for b in by_term.get(t, []):
                if not (b["first_doc"] <= doc_id <= b["last_doc"]):
                    continue
                docs, tfs, dls = _block_arrays(b)
                i = int(np.searchsorted(docs, doc_id))
                if i < docs.size and int(docs[i]) == doc_id:
                    tf = float(tfs[i])
                    dl = int(dls[i])
                    idf = idf_of[t]
                    contrib = idf * tf * (K1 + 1.0) / (
                        tf + K1 * (1.0 - B + B * dl / self.avgdl))
                    rows.append({"term": t, "tf": int(tf), "doc_len": dl,
                                 "idf": idf, "contribution": contrib})
                break   # blocks are doc-range disjoint per term
        return pd.DataFrame(rows, columns=cols)

    # -- segment-parallel (distributed) path --------------------------------
    def _segment_files(self) -> list[tuple[str, int]]:
        """(path, bytes) of every live postings_blocks segment file, in
        doc-range order (live-dir commit order × name order — base seg-f*,
        delta seg-d* and compacted seg-c* files are all written in
        ascending doc-range order within their generation, and each delta
        generation's doc range sits above every earlier one).  Listed once
        per engine under the cache lock; the engine is replaced on any
        snapshot advance, so the list can never go stale."""
        with self._cache_lock:
            if self._seg_files is None:
                files: list[tuple[str, int]] = []
                for p in self.cat.data_files("postings_blocks"):
                    if not os.path.basename(p).startswith("seg-"):
                        # every writer of this table (build encode, delta
                        # encode, compaction) emits doc-disjoint seg-*
                        # files; a foreign file would silently break the
                        # fan-out's doc-disjointness contract
                        raise ValueError(
                            f"non-segment parquet file {p!r} in "
                            "postings_blocks — refusing to fan out over "
                            "an unrecognized layout")
                    files.append((p, fsio.file_size(p, self.cat.filesystem)))
                self._seg_files = files
            return self._seg_files

    def _segment_groups(self, max_groups: int | None = None
                        ) -> list[list[str]]:
        """BOUNDED doc-disjoint work groups over the live segment files.

        Every segment file holds ALL terms for one doc range, and the
        ranges are pairwise disjoint across generations (validated at
        write time by source_files_presorted in each writer) — so any
        partition of the file list into groups keeps each doc's postings
        for every query term inside exactly one group, the precondition
        for rank-identical per-group top-k + driver merge.

        Fan-out is capped: consecutive (doc-range-ordered) files are
        bin-packed into at most ``max_groups`` byte-balanced groups
        (default 2 × defaultParallelism), so a head-term query over a
        10^12-doc index with millions of segment files launches O(cluster
        cores) tasks and merges groups×k ≈ cores×k rows — the ES analog
        fans out to a fixed shard count, not one request per Lucene
        segment (reference configs/ltd_doc.settings.json:244).
        """
        files = self._segment_files()
        if max_groups is None:
            max_groups = SEGMENT_MAX_GROUPS if SEGMENT_MAX_GROUPS else \
                2 * self.spark.sparkContext.defaultParallelism
        return pack_segment_groups(files, max(1, int(max_groups)))

    def topk_segments(self, terms: list[str], idf_by_term: dict[str, float],
                      k: int, shape: QueryShape = QueryShape(),
                      filter_clause: "list | None" = None,
                      allowed_docs=None) -> pd.DataFrame:
        """ES-shard-style fan-out: per doc-disjoint segment group, a Spark
        task reads the group's blocks for ``terms`` and runs the same
        :func:`topk_kernel` the driver runs, with the same ``shape``
        (term or phrase semantics, ``search_after``, ``use_wand``); the
        driver merges the ≤ groups×k (score, doc_id) rows.

        Rank-identical to the driver path: every doc's postings (and
        positions) for all query terms live in exactly one group
        (doc-range-disjoint segments), so per-group conjunctions, phrase
        matches and matched-term counts are complete, and the global
        top-k is the top-k of the per-group top-ks — the reference's ES
        executes WAND per shard and merges the same way (4-shard analog,
        configs/ltd_doc.settings.json:244).  Driver traffic is ≤ k rows
        per group, never the candidate blocks.

        ``filter_clause`` (the resolved ``[(subcol, clause), ...]`` of
        :meth:`_resolve_filter_list`) and ``allowed_docs`` (an explicit
        doc_id whitelist — the rescore-window contract, ≤
        max_result_window ids, broadcast once) reach the kernel as its
        ``restrict``: the same :func:`filter_candidates` evaluator the
        driver uses, reading per task only the ``fields`` rows in its
        candidates' doc range (:func:`_fields_span_matching`), so filter
        cost ∝ the group's range, never the filter's corpus-wide match
        count.  Group slices partition the global allowed set exactly as
        the postings do, preserving rank identity.
        """
        _check_k(k)
        # only terms with a dictionary row are scorable (a fully-
        # tombstoned term keeps blocks until compaction but has no idf)
        idf = {t: idf_by_term[t] for t in terms if t in idf_by_term}
        groups = self._segment_groups() if idf else []
        ad = None
        if allowed_docs is not None:
            ad = np.unique(np.asarray(allowed_docs, dtype=np.int64))
        if not groups or (ad is not None and ad.size == 0):
            return self.hits_frame([])
        clauses = list(filter_clause or [])
        fields_paths: list[tuple[str, int, int]] = []
        if clauses:
            # per-file doc_id spans from the resident footer directory, so
            # each fan-out task opens ONLY the fields files overlapping
            # its doc range — at 10^12 docs the fields table is millions
            # of files and a task must not touch every footer.  A file
            # with any stats-less row group gets an unbounded span.
            fidx = self._rg_index("fields", "doc_id")
            spans: dict[int, list] = {}
            for fi, _rg, lo, hi in fidx.entries:
                cur = spans.setdefault(fi, [lo, hi])
                if lo is None or cur[0] is None:
                    cur[0] = cur[1] = None
                else:
                    cur[0] = min(cur[0], lo)
                    cur[1] = max(cur[1], hi)
            fields_paths = [(fidx.paths[fi], *span)
                            for fi, span in spans.items()]
        avgdl = self.avgdl
        # one group's file list per task, as a plain RDD job: the ≤ k
        # (score, doc_id) tuples per group need no DataFrame, and a
        # DataFrame over parallelize adds a Python row-conversion pass to
        # every task (~0.5 s of a ~1.5 s fan-out on the tiny fixture)
        sc = self.spark.sparkContext
        group_rdd = sc.parallelize(list(groups), len(groups))
        # per-query broadcasts: released below, or a serving process
        # leaks one per fanned-out query
        ts_bc = sc.broadcast(self.tombstones)
        ad_bc = None if ad is None else sc.broadcast(ad)

        def _seg_topk(it):
            import pyarrow.dataset as _pds
            ad_v = None if ad_bc is None else ad_bc.value
            restrict = None
            if clauses or ad_v is not None:
                read = functools.partial(_fields_span_matching, fields_paths)
                restrict = lambda cand: filter_candidates(  # noqa: E731
                    cand, clauses, read, ad_v)
            for paths in it:
                ds = _pds.dataset(list(paths), format="parquet")
                bl = ds.to_table(
                    filter=_pds.field("term").isin(list(idf))).to_pandas()
                by_term: dict[str, list[dict]] = {}
                for r in bl.to_dict("records"):
                    by_term.setdefault(r["term"], []).append(r)
                yield from topk_kernel(by_term, idf, avgdl, k, ts_bc.value,
                                       shape, restrict)

        try:
            rows = group_rdd.mapPartitions(_seg_topk).collect()
        finally:
            ts_bc.unpersist()
            if ad_bc is not None:
                ad_bc.unpersist()
        merged = sorted(((float(s), int(d)) for s, d in rows),
                        key=lambda t: (-t[0], t[1]))[:k]
        return self.hits_frame(merged)


# Module-level cache: (index_dir) → SearchEngine, invalidated when any
# index table advances to a new snapshot (e.g. after incremental sync).
# An LRU of ENGINE_CACHE_SIZE engines: every engine holds its segment
# files open (one fd per parquet file per table it has read), and a
# process that opened many indexes would otherwise keep them all — past
# fd 1024 py4j's callback server fails in select(), so streaming
# foreachBatch callbacks are silently never run.  An evicted engine is
# closed; a caller still holding it reopens its directories lazily
# (SearchEngine._rg_index).
ENGINE_CACHE_SIZE = 8
_ENGINES: "OrderedDict[str, SearchEngine]" = OrderedDict()
_ENGINES_LOCK = __import__("threading").Lock()


def _current_version(cat) -> tuple:
    return tuple(cat.current_snapshot(t) for t in
                 ("postings_flat", "postings_blocks", "doc_stats",
                  "global_stats", "term_dict", "tombstones"))


def get_engine(spark: SparkSession, index_dir: str,
               cfg: AnalyzerConfig = LTD_DOC,
               catalog=None) -> SearchEngine:
    # value (not identity) comparison: callers constructing a fresh-but-
    # equal AnalyzerConfig per query must hit the cached engine, or every
    # request pays the full segment-footer sweep the engine exists to
    # amortize (AnalyzerConfig is a frozen dataclass — != is well-defined).
    # The whole check-and-replace is locked: two serving threads racing a
    # snapshot advance would otherwise both build engines, and the loser's
    # (replaced, never closed) engine leaks its pools + file handles.
    with _ENGINES_LOCK:
        cat = catalog if catalog is not None else ParquetCatalog(index_dir)
        eng = _ENGINES.get(index_dir)
        if eng is None or eng.cfg != cfg or \
                eng.version() != _current_version(cat):
            if eng is not None:
                eng.close()  # release the stale engine's pools + fds
            eng = SearchEngine(spark, index_dir, cfg, catalog=cat)
            _ENGINES[index_dir] = eng
        _ENGINES.move_to_end(index_dir)
        while len(_ENGINES) > ENGINE_CACHE_SIZE:
            _ENGINES.popitem(last=False)[1].close()
        return eng


def bm25_topk_df(spark: SparkSession, index_dir: str, query_text: str, k: int,
                 cfg: AnalyzerConfig = LTD_DOC, mode: str = "or",
                 search_after: tuple[float, int] | None = None,
                 filter_field: str | None = None,
                 filter_value=None,
                 filter_normalized: bool = False,
                 min_should_match: int | None = None,
                 filters: "list[tuple] | None" = None) -> DataFrame:
    """BM25 top-k on the Spark DataFrame locus (SearchEngine.topk_df).

    Query phase: the term filter is an ``isin`` over the ≤|q| live terms
    → pushed into the schema-pinned ``postings_flat`` scan; idf comes
    from the engine's plan as a literal map; scoring is
    whole-stage-codegen arithmetic; top-k is TakeOrderedAndProject (no
    global sort materialized).  Fetch phase: urls are point-read for the
    k winners, returned as a local relation.

    ``mode="and"`` gives conjunctive semantics (ES ``bool.filter`` of term
    queries, J6 in SURVEY §2.3): only docs containing every term.
    ``filter_field``/``filter_value``: ES ``bool: {must, filter}`` — a
    non-scoring keyword-sub-field restriction (see SearchEngine.topk_df).
    """
    return get_engine(spark, index_dir, cfg).topk_df(
        query_text, k, mode, search_after=search_after,
        filter_field=filter_field, filter_value=filter_value,
        filter_normalized=filter_normalized,
        min_should_match=min_should_match, filters=filters)


# ---------------------------------------------------------------------------
# Block-max WAND over encoded segments
# ---------------------------------------------------------------------------


class _TermCursor:
    """Cursor over one term's encoded blocks, sorted by first_doc (segments
    are doc-range disjoint per term, so base + delta segments concatenate
    into one monotone stream).

    Per-block upper bounds are recomputed from (max_tf, min_dl) against the
    CURRENT avgdl — safe even when incremental updates have shifted avgdl
    since the block was encoded (tf_norm is increasing in tf, decreasing in
    dl, so tf_norm(max_tf, min_dl, avgdl) dominates every member).
    """

    __slots__ = ("idf", "blocks", "bi", "docs", "tfs", "dls", "pos",
                 "max_tfn", "bounds", "ord")

    _next_ord = itertools.count()

    def __init__(self, idf: float, blocks: list[dict], avgdl: float,
                 ord: int | None = None):
        # creation ordinal: scoring accumulates a doc's per-term
        # contributions in THIS order, so float summation order (and the
        # last-bit score) matches the vectorized exhaustive scorer, which
        # sums per-term contributions in term order.  Default: a global
        # monotone counter — callers build cursors in term order, so
        # within one query creation order IS term order.
        self.ord = next(self._next_ord) if ord is None else ord
        self.idf = idf
        self.blocks = sorted(blocks, key=lambda b: b["first_doc"])
        self.bounds = [
            float(b["max_tf"]) * (K1 + 1.0)
            / (b["max_tf"] + K1 * (1.0 - B + B * b["min_dl"] / avgdl))
            for b in self.blocks
        ]
        self.max_tfn = max(self.bounds)
        self.bi = -1
        self.docs: np.ndarray | None = None
        self.tfs: np.ndarray | None = None
        self.dls: np.ndarray | None = None
        self.pos = 0
        self._advance_block()

    def _advance_block(self) -> None:
        self.bi += 1
        if self.bi < len(self.blocks):
            self.docs, self.tfs, self.dls = _block_arrays(self.blocks[self.bi])
            self.pos = 0
        else:
            self.docs = None

    @property
    def exhausted(self) -> bool:
        return self.docs is None

    @property
    def doc(self) -> int:
        return int(self.docs[self.pos])

    @property
    def tf(self) -> int:
        return int(self.tfs[self.pos])

    @property
    def dl(self) -> int:
        return int(self.dls[self.pos])

    @property
    def block_max_score(self) -> float:
        return self.idf * self.bounds[self.bi]

    @property
    def max_score(self) -> float:
        return self.idf * self.max_tfn

    def seek(self, target: int) -> None:
        """Advance to the first doc >= target (skip whole blocks via the
        last_doc skip pointer, then binary-search inside the block)."""
        while not self.exhausted and self.blocks[self.bi]["last_doc"] < target:
            self._advance_block()
        if self.exhausted:
            return
        # target <= last_doc of current block → position exists in-block
        self.pos += int(np.searchsorted(self.docs[self.pos:], target, side="left"))

    def next(self) -> None:
        self.pos += 1
        if self.pos >= self.docs.size:
            self._advance_block()


# below this many candidate postings, vectorized exhaustive scoring beats
# the doc-at-a-time WAND loop (~60ms python loop vs ~2ms numpy at 20k
# postings on this hardware; the crossover is far above typical block
# counts only for selective queries on big corpora)
EXHAUSTIVE_CUTOFF = 1 << 20

# engine-resident LRU sizing: term_dict entries are ~50 B (64k ≈ 3 MB);
# block-cache entries hold encoded blocks + memoized decode for one term,
# capped at BLOCK_CACHE_MAX_POSTINGS postings each (≤ ~16 MB/term decoded;
# 256 terms ≈ bounded single-digit GB worst case, typically far less —
# the page-cache analog, invalidated with the engine on snapshot change)
TD_CACHE_TERMS = 1 << 16
BLOCK_CACHE_TERMS = 256
BLOCK_CACHE_MAX_POSTINGS = 1 << 20

# above this many candidate POSTINGS (Σ df over query terms), the query
# must not materialize its blocks in the driver: SearchEngine.plan, the
# only reader of this constant, sets fan_out, and each serving path takes
# its own off-driver action (top-k, phrase and span_first fan out per
# segment group via SearchEngine.topk_segments; hit-set aggs and
# term-only simple_query_string take their Spark locus) — at 10^12 docs a
# head term's blocks are terabytes, while ≤k rows per group is the
# bounded merge traffic.  ~64 MB of decoded postings is where the driver
# fetch stops being obviously cheap.
SEGMENT_FANOUT_CUTOFF = 1 << 22

# hard cap on fanned-out task count per query: None → 2 × the session's
# defaultParallelism (ES analog: a fixed shard count, never one request
# per Lucene segment).  Settable for tests / tuning.
SEGMENT_MAX_GROUPS: int | None = None

# driver-resident tombstone set size above which SearchEngine warns to
# compact (the set is bounded by churn-since-compaction BY POLICY, not by
# construction — ~8 B/id, 5M ≈ 40 MB driver RAM + per-query broadcast)
TOMBSTONE_WARN_COUNT = 5_000_000

# ES serving parity: index.max_result_window (reference
# configs/ltd_doc.settings.json:246) — a top-k request beyond this is a
# loud error, not a silent giant collect (k rows × groups reach the
# driver on the fan-out path; deep paging wants search_after, not k=10^9)
MAX_RESULT_WINDOW = 250_000


def _check_k(k: int) -> None:
    if k > MAX_RESULT_WINDOW:
        raise ValueError(
            f"k={k} exceeds max_result_window={MAX_RESULT_WINDOW} (the ES "
            "serving cap, reference configs/ltd_doc.settings.json:246); "
            "page with successive bounded queries instead")


def _check_msm(mode: str, min_should_match: int | None) -> None:
    if min_should_match is not None and mode == "and":
        raise ValueError("min_should_match applies to mode='or' "
                         "(mode='and' is already all-clauses)")


def topk_kernel(by_term: dict[str, list[dict]], idf: dict[str, float],
                avgdl: float, k: int, tombstones, shape: QueryShape,
                restrict=None) -> list[tuple[float, int]]:
    """The one scoring-kernel dispatch → ``[(score, doc_id)]``
    best-first, run unchanged on the driver (``SearchEngine.topk_wand``,
    ``phrase_topk``, ``phrase_prefix_topk``, ``span.span_first_topk``)
    and inside every fan-out task (:meth:`SearchEngine.topk_segments`).

    ``by_term``: the posting-block rows of the query terms that have
    any on this locus (the driver, or one segment group).  ``idf``: the
    scorable query terms in scoring order — per-doc contributions
    accumulate in this order, the last-bit float contract every
    rank-identity test relies on.  ``restrict``: maps the sorted
    candidate doc_id array to its allowed subset (filter context, an
    explicit doc whitelist), or None.

    Conjunctive and phrase queries with a term missing from ``by_term``
    match nothing.  A phrase runs the phrase kernel; term queries run
    WAND when ``shape.use_wand`` says so or, when it is None, when the
    candidate postings reach EXHAUSTIVE_CUTOFF — the exhaustive scorer
    otherwise (both rank-identical, property-tested)."""
    if (shape.mode == "and" or shape.phrase_terms is not None) \
            and any(t not in by_term for t in idf):
        return []
    if shape.phrase_terms is not None:
        return phrase_topk_arrays(shape.phrase_terms, idf, by_term, avgdl,
                                  k, tombstones, after=shape.search_after,
                                  allowed_fn=restrict, slop=shape.slop,
                                  span_end=shape.span_end)
    terms = [t for t in idf if t in by_term]
    if not terms:
        return []
    # batch-decode every not-yet-decoded block in three vectorized
    # passes (cached blocks keep their arrays across queries)
    decode_blocks_into([b for t in terms for b in by_term[t]
                        if "_arrs" not in b])
    allowed = None
    if restrict is not None:
        allowed = restrict(np.unique(np.concatenate(
            [_block_arrays(b)[0] for t in terms for b in by_term[t]])))
        if allowed.size == 0:
            return []
    use_wand = shape.use_wand
    if use_wand is None:
        use_wand = sum(b["n"] for t in terms
                       for b in by_term[t]) >= EXHAUSTIVE_CUTOFF
    if not use_wand:
        return exhaustive_topk_arrays(
            {t: (idf[t], by_term[t]) for t in terms}, avgdl, k, tombstones,
            require_all=(shape.mode == "and"), after=shape.search_after,
            allowed=allowed, min_should=shape.min_should)
    cursors = [_TermCursor(idf[t], by_term[t], avgdl) for t in terms]
    allowed_set = None if allowed is None else frozenset(allowed.tolist())
    if shape.mode == "and":
        return conjunctive_topk_arrays(cursors, avgdl, k, tombstones,
                                       after=shape.search_after,
                                       allowed=allowed_set)
    return wand_topk_arrays(cursors, avgdl, k, tombstones,
                            after=shape.search_after, allowed=allowed_set,
                            min_should=shape.min_should)


def pack_segment_groups(files: list[tuple[str, int]], max_groups: int
                        ) -> list[list[str]]:
    """Bin-pack doc-range-ordered (path, bytes) files into ≤ ``max_groups``
    contiguous, byte-balanced groups.  Contiguity keeps each group one
    doc range (locality for the in-group block concat); balance splits at
    cumulative byte quantiles so no task owns a disproportionate share."""
    if len(files) <= max_groups:
        return [[p] for p, _ in files]
    total = float(sum(sz for _, sz in files))
    per = total / max_groups
    groups: list[list[str]] = []
    cur: list[str] = []
    acc = 0.0
    for p, sz in files:
        cur.append(p)
        acc += sz
        if acc >= per * (len(groups) + 1) and len(groups) < max_groups - 1:
            groups.append(cur)
            cur = []
    if cur:
        groups.append(cur)
    return groups


def match_scores_arrays(term_blocks: dict[str, tuple[float, list[dict]]],
                        avgdl: float, need_counts: bool = True
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score EVERY doc matching ≥1 term: ``(doc_ids, scores,
    matched_term_counts)``, doc_id-sorted — the vectorized score-all pass
    behind :func:`exhaustive_topk_arrays`, exposed so multi-field scoring
    (:mod:`.multi_match`) can combine per-field score maps.

    Per-doc accumulation order is term order (blocks are concatenated per
    term, ``np.bincount`` sums in input order), matching the cursor
    kernels' ``ord``-sorted accumulation — the last-bit float contract
    every rank-identity property test relies on."""
    all_docs: list[np.ndarray] = []
    all_scores: list[np.ndarray] = []
    for idf, blocks in term_blocks.values():
        for b in blocks:
            docs, tfs, dls = _block_arrays(b)
            tf = tfs.astype(np.float64)
            all_docs.append(docs)
            all_scores.append(
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl)))
    if not all_docs:
        z = np.empty(0)
        return z.astype(np.int64), z, z.astype(np.int64)
    docs = np.concatenate(all_docs)
    scores = np.concatenate(all_scores)
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.bincount(inv, weights=scores)
    # the matched-term-count pass is O(candidate postings) — skip it for
    # callers that don't filter on clause counts (plain OR top-k)
    counts = np.bincount(inv) if need_counts else None
    return uniq, agg, counts


def exhaustive_topk_arrays(term_blocks: dict[str, tuple[float, list[dict]]],
                           avgdl: float, k: int,
                           tombstones: set[int] | None = None,
                           require_all: bool = False,
                           after: tuple[float, int] | None = None,
                           allowed: "np.ndarray | None" = None,
                           min_should: int | None = None
                           ) -> list[tuple[float, int]]:
    """Decode every candidate block and score all postings vectorized —
    rank-identical to :func:`wand_topk_arrays` (ties doc_id asc), used
    below EXHAUSTIVE_CUTOFF where pruning cannot pay for its loop.

    ``require_all``: conjunctive semantics — keep only docs matched by
    every term in ``term_blocks`` (each term contributes a doc at most
    once: posting lists are per-term unique and segments doc-disjoint, so
    a doc's occurrence count IS its matched-term count).

    ``after``: search_after cursor ``(score, doc_id)`` — keep only docs
    STRICTLY after it in (score desc, doc_id asc) order (deep paging,
    see :meth:`SearchEngine.topk_wand`).

    ``allowed``: ES filter context (``bool: {must, filter}``) — a sorted
    int64 array of doc_ids that may appear in the result; everything
    else is dropped BEFORE top-k selection (non-scoring, like ES filter
    clauses).  None = no filter."""
    uniq, agg, counts = match_scores_arrays(
        term_blocks, avgdl,
        need_counts=require_all or min_should is not None)
    if uniq.size == 0:
        return []
    if require_all:
        keep = counts == len(term_blocks)
        uniq, agg, counts = uniq[keep], agg[keep], counts[keep]
    if min_should is not None:
        # ES minimum_should_match: a doc must match ≥ m of the query's
        # term clauses (counts IS the matched-term count — posting lists
        # are per-term unique and segments doc-disjoint)
        keep = counts >= min_should
        uniq, agg = uniq[keep], agg[keep]
    if allowed is not None:
        keep = np.isin(uniq, allowed, assume_unique=True)
        uniq, agg = uniq[keep], agg[keep]
    if tombstones:
        keep = live_mask(uniq, tombstones)
        uniq, agg = uniq[keep], agg[keep]
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        keep = (agg < s0) | ((agg == s0) & (uniq > d0))
        uniq, agg = uniq[keep], agg[keep]
    if uniq.size == 0:
        return []
    order = np.lexsort((uniq, -agg))[:k]
    return [(float(agg[i]), int(uniq[i])) for i in order]


def conjunctive_topk_arrays(cursors: list[_TermCursor], avgdl: float, k: int,
                            tombstones: set[int] | None = None,
                            after: tuple[float, int] | None = None,
                            allowed: "frozenset[int] | set[int] | None" = None
                            ) -> list[tuple[float, int]]:
    """Top-k over the INTERSECTION of the cursors' posting lists (ES
    ``bool.filter`` conjunctive, J6) — doc-at-a-time zig-zag join with
    whole-block skips via the ``last_doc`` pointers: every cursor seeks to
    the current maximum, a full alignment scores, ties rank doc_id asc.
    Rank-identical to :func:`exhaustive_topk_arrays` with ``require_all``
    (property-tested); the skipping is what makes selective conjunctions
    sublinear in the longest list."""
    tombstones = tombstones or set()
    if not cursors:
        return []
    # search_after in heap-key space: acceptable ⇔ (score, -doc) < after_key
    after_key = (float(after[0]), -int(after[1])) if after is not None \
        else None
    by_ord = sorted(cursors, key=lambda c: c.ord)
    heap: list[tuple[float, int]] = []   # min-heap of (score, -doc_id)
    while True:
        if any(c.exhausted for c in cursors):
            break
        target = max(c.doc for c in cursors)
        aligned = True
        for c in cursors:
            if c.doc < target:
                c.seek(target)
                aligned = False
                if c.exhausted:
                    break
        if not aligned:
            continue
        if target not in tombstones and (allowed is None or target in allowed):
            # accumulate in cursor-creation (term) order — float addition
            # order must match the vectorized scorer's term order, or the
            # last bit can flip near-tied ranks (same contract as
            # wand_topk_arrays)
            score = 0.0
            norm = None
            for c in by_ord:
                if norm is None:
                    norm = K1 * (1.0 - B + B * float(c.dl) / avgdl)
                tf = float(c.tf)
                score += c.idf * tf * (K1 + 1.0) / (tf + norm)
            if after_key is None or (score, -target) < after_key:
                if len(heap) < k:
                    heapq.heappush(heap, (score, -target))
                elif (score, -target) > heap[0]:
                    heapq.heapreplace(heap, (score, -target))
        for c in cursors:
            c.next()
    out = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(s, -nd) for s, nd in out]


def _block_arrays(b: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decoded (docs, tfs, dls) of one block, memoized on the block dict —
    blocks held in the engine's LRU decode once, not once per query.  The
    arrays are treated as immutable by both scoring kernels."""
    arrs = b.get("_arrs")
    if arrs is None:
        docs, tfs = decode_block(b["docs_vb"], b["tfs_vb"])
        arrs = b["_arrs"] = (docs, tfs, decode_dls(b["dls_vb"]))
    return arrs


def _union_positions_block(blocks: list[dict]) -> dict:
    """Merge many terms' positional posting blocks into ONE pseudo-term
    block: doc-sorted union of postings, per-doc DISTINCT union of
    positions (tf = position count), dl carried through — the
    MultiPhraseQuery last-slot union, pre-decoded so the phrase kernel
    consumes it like any block (``_arrs`` + ``_pos`` memoized fields;
    the varbyte streams are never re-encoded)."""
    from ..functions.encode import decode_blocks_into
    decode_blocks_into([b for b in blocks if "_arrs" not in b])
    doc_parts, pos_parts, dld_parts, dll_parts = [], [], [], []
    for b in blocks:
        docs, tfs, dls = _block_arrays(b)
        flat, _ends = _block_positions(b)
        doc_parts.append(np.repeat(docs, tfs))   # one row per position
        pos_parts.append(flat)
        dld_parts.append(docs)
        dll_parts.append(dls)
    all_docs = np.concatenate(doc_parts)
    all_pos = np.concatenate(pos_parts)
    order = np.lexsort((all_pos, all_docs))
    d, p = all_docs[order], all_pos[order]
    keep = np.ones(d.size, dtype=bool)
    keep[1:] = (d[1:] != d[:-1]) | (p[1:] != p[:-1])
    d, p = d[keep], p[keep]
    udocs, counts = np.unique(d, return_counts=True)
    ends = np.cumsum(counts)
    cd = np.concatenate(dld_parts)
    cl = np.concatenate(dll_parts)
    o2 = np.argsort(cd, kind="stable")
    cds, cls = cd[o2], cl[o2]
    first = np.ones(cds.size, dtype=bool)
    first[1:] = cds[1:] != cds[:-1]
    dls_u = cls[first]                 # aligned with np.unique(cd) == udocs
    return {"n": int(udocs.size), "first_doc": int(udocs[0]),
            "last_doc": int(udocs[-1]),
            "_arrs": (udocs, counts.astype(np.int64), dls_u),
            "_pos": (p, ends)}


def _block_positions(b: dict) -> tuple[np.ndarray, np.ndarray]:
    """Decoded ``(flat_positions, row_ends)`` of one block's position
    streams, memoized like :func:`_block_arrays` — posting i's positions
    are ``flat[row_ends[i-1]:row_ends[i]]``."""
    pv = b.get("_pos")
    if pv is None:
        if b.get("pos_vb") is None:
            raise ValueError(
                "posting block has no position stream — the index was "
                "built without index_positions=True")
        _, tfs, _ = _block_arrays(b)
        pv = b["_pos"] = decode_positions_block(b["pos_vb"], tfs)
    return pv


def phrase_topk_arrays(phrase_terms: list[str],
                       idf_by_term: dict[str, float],
                       by_term: dict[str, list[dict]],
                       avgdl: float, k: int,
                       tombstones: set[int] | None = None,
                       after: tuple[float, int] | None = None,
                       allowed_fn=None,
                       slop: int = 0,
                       span_end: int | None = None
                       ) -> list[tuple[float, int]]:
    """Exact-phrase top-k over positional posting blocks (ES
    ``match_phrase``, slop=0) → [(score, doc_id)] best-first.

    ``slop`` > 0 relaxes adjacency to IN-ORDER proximity (ES
    span_near in_order=true): term_j may sit at ``p + j + e_j`` with
    non-decreasing displacements ``e_1 ≤ … ≤ e_{n-1} ≤ slop`` — i.e.
    the whole phrase fits in a window of ``len(phrase) + slop`` tokens
    in order; phrase_freq counts DISTINCT admissible start positions.
    (Documented delta vs Lucene's SloppyPhraseMatcher: no
    transposition matches and no 1/(slop+1) freq weighting — the
    in-order window rule is what the SQL oracle can pin exactly.)

    Two phases: (1) candidate docs = the conjunctive intersection of the
    phrase terms' posting lists (vectorized over the doc-sorted
    concatenated block arrays — cost bounded by the RAREST term's df);
    (2) position verify per candidate: phrase_freq = the number of
    DISTINCT start positions p with term_j at p+j for every j (duplicate
    emissions at one position — word_delimiter/edge-ngram expansions —
    count once).  Position streams decode lazily and only for blocks
    holding candidates.

    Scoring is Lucene's BM25 PhraseQuery (public:
    org.apache.lucene.search.PhraseWeight + BM25Similarity): a phrase
    behaves as one pseudo-term with tf = phrase_freq and
    idf = Σ idf(term_j) over the phrase's terms, repeats included.

    ``allowed_fn``: ES filter context — maps the sorted candidate doc
    array to its allowed subset (candidate-bounded resolution, see
    :func:`filter_candidates`).  ``after``: search_after
    cursor, as in the other kernels.  ``span_end``: only start positions
    below it count (ES ``span_first``; a one-term phrase then scores
    tf = its distinct positions below ``end``).
    """
    uniq = list(dict.fromkeys(phrase_terms))
    if any(t not in by_term or not by_term[t] for t in uniq):
        return []
    # Candidate intersection, BLOCK-PRUNED: terms are intersected rarest
    # first (posting count from block metadata — no decode), and each
    # later term decodes ONLY the blocks whose [first_doc, last_doc]
    # range can contain a surviving candidate.  A head term in the
    # phrase ("the quick") therefore costs ~min-df block decodes, not
    # its full posting list — the zig-zag analog for the vectorized
    # kernel.  Skipped blocks can hold no candidate, so the decoded
    # subset is exact for everything downstream (positions included).
    # per term: (decoded blocks subset sorted by first_doc, their
    # concatenated doc array, cumulative posting-count boundaries)
    per_term: dict[str, tuple[list[dict], np.ndarray, np.ndarray]] = {}
    by_size = sorted(uniq, key=lambda t: sum(b["n"] for b in by_term[t]))
    cand: np.ndarray | None = None
    for t in by_size:
        blocks = sorted(by_term[t], key=lambda b: b["first_doc"])
        if cand is not None:
            firsts = np.array([b["first_doc"] for b in blocks],
                              dtype=np.int64)
            lasts = np.array([b["last_doc"] for b in blocks],
                             dtype=np.int64)
            # block i survives iff some candidate falls in its range
            pos_in = np.searchsorted(cand, firsts)
            keep = (pos_in < cand.size) & \
                (cand[np.minimum(pos_in, cand.size - 1)] <= lasts)
            blocks = [b for b, k in zip(blocks, keep) if k]
            if not blocks:
                return []
        decode_blocks_into([b for b in blocks if "_arrs" not in b])
        docs = np.concatenate([_block_arrays(b)[0] for b in blocks])
        bends = np.cumsum(np.array([b["n"] for b in blocks],
                                   dtype=np.int64))
        per_term[t] = (blocks, docs, bends)
        cand = docs if cand is None else \
            np.intersect1d(cand, docs, assume_unique=True)
        if cand.size == 0:
            return []
    if tombstones:
        cand = cand[live_mask(cand, tombstones)]
    if allowed_fn is not None and cand.size:
        cand = np.asarray(allowed_fn(cand), dtype=np.int64)
    if cand.size == 0:
        return []
    # positions per (unique term, candidate) — decode only touched blocks
    pos_of: dict[str, list[np.ndarray]] = {}
    for t in uniq:
        blocks, docs, bends = per_term[t]
        gidx = np.searchsorted(docs, cand)
        bidx = np.searchsorted(bends, gidx, side="right")
        runs: list[np.ndarray] = []
        for g, bi in zip(gidx, bidx):
            b = blocks[bi]
            flat, ends = _block_positions(b)
            local = int(g - (bends[bi] - b["n"]))
            s = int(ends[local - 1]) if local else 0
            runs.append(flat[s:int(ends[local])])
        pos_of[t] = runs
    # doc lengths for the candidates, from the first term's blocks
    blocks0, docs0, _ = per_term[uniq[0]]
    dls0 = np.concatenate([_block_arrays(b)[2] for b in blocks0])
    dl = dls0[np.searchsorted(docs0, cand)].astype(np.float64)
    # phrase frequency per candidate, VECTORIZED across all candidates:
    # pack (candidate index, position) into one int64 key (idx << 32 |
    # pos) — the candidate index (not the doc id, which can exceed 2^31
    # at corpus scale) bounds the high half, positions bound the low half
    # (a doc would need 2^32 source tokens to overflow) — then chain the
    # adjacency test as key+j membership, which can never cross a doc
    # boundary.  One np.isin per phrase term instead of a Python loop
    # over candidates.
    keys: dict[str, np.ndarray] = {}
    for t in uniq:
        runs = pos_of[t]
        lens = np.fromiter((r.size for r in runs), dtype=np.int64,
                           count=len(runs))
        flat = np.concatenate(runs) if runs else np.empty(0, np.int64)
        idx_rep = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
        keys[t] = (idx_rep << np.int64(32)) | flat
    starts = np.unique(keys[phrase_terms[0]])
    if span_end is not None:
        starts = starts[(starts & np.int64(0xFFFFFFFF)) < span_end]
    if slop == 0:
        for j, tj in enumerate(phrase_terms[1:], start=1):
            if starts.size == 0:
                return []
            starts = starts[np.isin(starts + j, keys[tj])]
    else:
        # in-order window DP, vectorized over starts: track the MINIMAL
        # feasible displacement e_j per start (smaller e only widens the
        # next term's options, so the greedy minimum decides existence);
        # O(slop) membership tests per term.  Offsetting by j + e keeps
        # positions strictly increasing, so order is enforced and the
        # packed key can never cross a doc boundary.
        emin = np.zeros(starts.size, dtype=np.int64)
        for j, tj in enumerate(phrase_terms[1:], start=1):
            if starts.size == 0:
                return []
            new_e = np.full(starts.size, -1, dtype=np.int64)
            for e in range(slop + 1):
                m = (new_e < 0) & (emin <= e) \
                    & np.isin(starts + j + e, keys[tj])
                new_e[m] = e
            keep = new_e >= 0
            starts, emin = starts[keep], new_e[keep]
    ptf = np.bincount((starts >> np.int64(32)).astype(np.int64),
                      minlength=cand.size) if starts.size else \
        np.zeros(cand.size, dtype=np.int64)
    keep = ptf > 0
    if not keep.any():
        return []
    idf_sum = float(sum(idf_by_term[t] for t in phrase_terms))
    tf = ptf[keep].astype(np.float64)
    dlk = dl[keep]
    scores = idf_sum * tf * (K1 + 1.0) \
        / (tf + K1 * (1.0 - B + B * dlk / avgdl))
    docs_k = cand[keep]
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        m = (scores < s0) | ((scores == s0) & (docs_k > d0))
        scores, docs_k = scores[m], docs_k[m]
    if docs_k.size == 0:
        return []
    order = np.lexsort((docs_k, -scores))[:k]
    return [(float(scores[i]), int(docs_k[i])) for i in order]


def wand_topk_arrays(cursors: list[_TermCursor], avgdl: float, k: int,
                     tombstones: set[int] | None = None,
                     after: tuple[float, int] | None = None,
                     allowed: "frozenset[int] | set[int] | None" = None,
                     min_should: int | None = None
                     ) -> list[tuple[float, int]]:
    """Block-max WAND over term cursors → [(score, doc_id)] best-first.

    Doc lengths come from the cursors themselves (``dls_vb`` travels in
    every block), so no corpus-sized doc→len lookup is needed.  Docs in
    ``tombstones`` (deleted/superseded by incremental updates) are skipped.

    ``after``: search_after cursor — only docs strictly after
    ``(score, doc_id)`` in (score desc, doc_id asc) order are accepted.
    Block-max pruning stays correct: the threshold only ever rises from
    ACCEPTED candidates, and a pruned block (upper bound < threshold)
    cannot hold an acceptable doc that would beat the accepted floor.
    Pruning is weaker on deep pages (high scorers are scored then
    rejected) — exactly ES's search_after cost profile.

    ``allowed``: ES filter context — docs outside the set are skipped at
    accept time without scoring, by the same argument that keeps
    tombstone skipping safe under block-max pruning (removing candidates
    can only lower what a pruned block could have contributed).

    ``min_should``: ES ``minimum_should_match`` — a doc must be matched
    by ≥ this many term cursors to be accepted.  Checked at pivot
    alignment (the cursors at the pivot ARE the matching terms); the
    sum-of-upper-bounds pruning stays sound because dropping candidates
    never raises a pruned block's potential contribution.
    """
    tombstones = tombstones or set()
    after_key = (float(after[0]), -int(after[1])) if after is not None \
        else None
    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)
    threshold = 0.0
    cursors = [c for c in cursors if not c.exhausted]
    while cursors:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.doc)
        # pivot: smallest prefix whose cumulative max_score REACHES the
        # threshold.  The comparisons here and at the block-max check are
        # NON-strict: ties rank by doc_id asc, so a doc whose score equals
        # the heap floor can still displace a larger-doc_id entry — strict
        # pruning would skip it and break rank-identity with the
        # exhaustive scorer (found by the hypothesis property test)
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(cursors):
            acc += c.max_score
            if acc >= threshold:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # no doc can beat (or tie into) the threshold
        pivot_doc = cursors[pivot_i].doc
        if cursors[0].doc == pivot_doc:
            # block-max check: sum of CURRENT block maxima for cursors at pivot
            bm = 0.0
            for c in cursors:
                if c.exhausted or c.doc > pivot_doc:
                    break
                bm += c.block_max_score
            if bm >= threshold and pivot_doc not in tombstones \
                    and (allowed is None or pivot_doc in allowed):
                score = 0.0
                norm = None
                # accumulate in cursor-creation (term) order — the sorted
                # cursor list's order among equal docs is sort-history
                # dependent, and float addition order changes the last
                # bit, which can flip the ranking of near-tied docs vs
                # the exhaustive scorer (rank-identity contract)
                at_pivot = sorted(
                    (c for c in cursors
                     if not c.exhausted and c.doc == pivot_doc),
                    key=lambda c: c.ord)
                if min_should is not None and len(at_pivot) < min_should:
                    pass    # below the clause floor: rejected unscored
                else:
                    for c in at_pivot:
                        if norm is None:
                            # every cursor at the pivot carries the same
                            # doc_len; decode it from the first one
                            norm = K1 * (1.0 - B + B * float(c.dl) / avgdl)
                        tf = float(c.tf)
                        score += c.idf * tf * (K1 + 1.0) / (tf + norm)
                    if after_key is not None \
                            and (score, -pivot_doc) >= after_key:
                        pass    # at/above the page cursor: scored, rejected
                    elif len(heap) < k:
                        heapq.heappush(heap, (score, -pivot_doc))
                        if len(heap) == k:
                            threshold = heap[0][0]
                    elif (score, -pivot_doc) > heap[0]:
                        heapq.heapreplace(heap, (score, -pivot_doc))
                        threshold = heap[0][0]
            for c in cursors:
                if not c.exhausted and c.doc == pivot_doc:
                    c.next()
        else:
            # advance all pre-pivot cursors to the pivot doc
            for c in cursors:
                if c.exhausted or c.doc >= pivot_doc:
                    break
                c.seek(pivot_doc)
    out = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(s, -nd) for s, nd in out]


def bm25_topk_wand(spark: SparkSession, index_dir: str, query_text: str, k: int,
                   cfg: AnalyzerConfig = LTD_DOC,
                   mode: str = "or",
                   search_after: tuple[float, int] | None = None,
                   filter_field: str | None = None,
                   filter_value=None,
                   filter_normalized: bool = False,
                   min_should_match: int | None = None,
                   filters: "list[tuple] | None" = None
                   ) -> pd.DataFrame:
    """Top-k via block-max WAND over the encoded ``postings_blocks``.

    The block fetch is a DataFrame scan with the term predicate pushed to
    parquet; the WAND loop itself runs driver-side in numpy (|q| cursors).
    ``mode="and"`` intersects via the zig-zag conjunctive kernel (J6).
    ``filter_field``/``filter_value``: ES ``bool: {must, filter}`` — a
    non-scoring keyword-sub-field restriction (see SearchEngine.topk_wand).
    """
    return get_engine(spark, index_dir, cfg).topk_wand(
        query_text, k, mode=mode, search_after=search_after,
        filter_field=filter_field, filter_value=filter_value,
        filter_normalized=filter_normalized,
        min_should_match=min_should_match, filters=filters)


def bm25_phrase_topk(spark: SparkSession, index_dir: str, phrase_text: str,
                     k: int, cfg: AnalyzerConfig = LTD_DOC,
                     search_after: tuple[float, int] | None = None,
                     filter_field: str | None = None,
                     filter_value=None,
                     filter_normalized: bool = False,
                     slop: int = 0,
                     filters: "list[tuple] | None" = None) -> pd.DataFrame:
    """ES ``match_phrase`` top-k over a positional index (see
    :meth:`SearchEngine.phrase_topk`)."""
    return get_engine(spark, index_dir, cfg).phrase_topk(
        phrase_text, k, search_after=search_after,
        filter_field=filter_field, filter_value=filter_value,
        filter_normalized=filter_normalized, slop=slop, filters=filters)
