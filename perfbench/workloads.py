"""The benchmark's workloads: one closed-loop client against the engine's
public API at ``local[nproc]`` in one driver process.

Every workload starts with the same set-up (Spark session, seeded corpus,
full index build with positions and a ``lang`` keyword field, engine
open, warm-up), then runs its operation mix for the requested seconds and
finally checks the answers it recorded.  See NOTES.md for why each
workload exists and what it should stress.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

import pyarrow.parquet as pq

import checks
import gen
import harness
import tracing as tr

N_DOCS = 5000          # corpus rows; see NOTES.md for the sizing
SAMPLE_EVERY = 20      # serve: every 20th measured query is oracle-checked
MAX_SAMPLES = 40
MAX_CYCLES = 8         # ingest_loci: batch + loci cycles per run
LOCI_ROUNDS = 2        # ingest_loci: rounds of every locus per batch
WARM = 300             # serve: warm-up queries (fill the block LRU)
WORKER_HEAP_MB = 64    # worker warm-up heap; 5,000 pages need far less
                       # than the engine's 384 MB default


class Run:
    """State and results of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.rec = tr.Recorder() if trace else None
        self.jobs = None               # trace.SparkJobs in the traced run
        self.tracing = False
        self.spark = None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.op_kind: dict[int, str] = {}     # request id -> op kind
        self.op_jobs: dict[int, tuple[int, int]] = {}
        self.traced_ops: set[int] = set()
        self.untraced_lat: list[float] = []
        self.traced_lat: list[float] = []
        self.attempted = 0
        self.bad: set = set()              # ids of failed ops
        self.errors: list[str] = []
        self.info: dict[str, float] = {}      # human-report extras
        self.sizes: dict[str, int] = {}       # index bytes per table
        self.lineage: dict[str, float] = {}   # build lineage totals
        self.index_dir = ""
        self.setup_t0 = 0.0
        self._rid = 0

    # -- tracing switches ----------------------------------------------------
    def trace_on(self) -> None:
        if self.trace and not self.tracing:
            tr.install(self.rec)
            self.tracing = True

    def trace_off(self) -> None:
        if self.tracing:
            tr.uninstall(self.rec)
            self.tracing = False

    def span(self, name: str):
        """A span from benchmark code, recorded only while tracing."""
        if self.tracing:
            return self.rec.span(name)
        return contextlib.nullcontext()

    # -- one closed-loop operation --------------------------------------------
    def op(self, kind: str, fn):
        """Run and time one operation; returns its result, or None if it
        raised (counted as failed)."""
        self._rid += 1
        rid = self._rid
        self.attempted += 1
        self.op_kind[rid] = kind
        traced = self.tracing
        if traced:
            group = self.jobs.start()
        with self.rec.span(f"op.{kind}", rid) if traced else \
                contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                out, ok = fn(), True
            except Exception as e:       # a failed op is a result, not a crash
                out, ok = None, False
                self.errors.append(f"{kind}: {e!r}"[:300])
            dt = time.perf_counter() - t0
        if traced:
            self.op_jobs[rid] = self.jobs.finish(group)
            self.traced_ops.add(rid)
        (self.traced_lat if traced else self.untraced_lat).append(dt)
        if ok:
            self.lat[kind].append(dt)
        else:
            self.bad.add(rid)
        return out

    @property
    def failed(self) -> int:
        return len(self.bad)

    def last_op(self) -> int:
        return self._rid

    def fail(self, rid: int, msg: str) -> None:
        """A correctness check of op ``rid`` failed: the op failed."""
        self.bad.add(rid)
        self.errors.append(msg[:300])

    def untimed_op(self) -> int:
        """An op id for checks of work done outside the timed window."""
        self._rid += 1
        self.attempted += 1
        return self._rid

    def verify(self, rid: int | None, msg: str, pred) -> None:
        """Check ``pred()`` for op ``rid``; False or an exception fails
        the op.  A check that belongs to no op (``rid`` None) counts as
        an op itself."""
        if rid is None:
            rid = self.untimed_op()
        try:
            ok = pred()
        except Exception as e:
            ok, msg = False, f"{msg} ({e!r})"
        if not ok:
            self.fail(rid, msg)


# ---------------------------------------------------------------------------
# shared set-up
# ---------------------------------------------------------------------------

def index_sizes(index_dir: str) -> dict[str, int]:
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    cat = ParquetCatalog(index_dir)
    return {t: harness.dir_bytes(cat.data_files(t))
            for t in cat.list_tables()}


def lineage_totals(index_dir: str) -> dict[str, float]:
    """Per-task build seconds and counts from the lineage rows the build
    writes (``Lineage.rows()``), summed over partitions."""
    from mongoesindexer_spark.plans.lineage import Lineage
    out: dict[str, float] = defaultdict(float)
    for r in Lineage(index_dir).rows():
        if not r.get("partition"):
            continue
        if r["stage"] == "flat_files":
            out["flat_task"] += float(r.get("secs", 0.0))
        elif r["stage"] == "encode":
            for k in ("read", "kernel", "write"):
                out[f"encode_{k}"] += float(r.get(k, 0.0))
            out["postings"] += int(r.get("rows", 0))
            out["blocks"] += int(r.get("blocks", 0))
    return dict(out)


def build(run: Run, pages_path: str, index_dir: str) -> float:
    """One full build through ``IndexBuilder``; returns seconds."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    t0 = time.perf_counter()
    IndexBuilder(index_dir, keyword_fields=("lang",),
                 index_positions=True).build(
        run.spark, run.spark.read.parquet(pages_path))
    return time.perf_counter() - t0


def setup(run: Run):
    """Spark session, corpus, index build, engine open.  The Python UDF
    workers are started before the build (``warm_python_workers``, as
    ``tools/profile_stages.py`` does), so the timed build does not pay
    their serial start-up; the JVM's first run of each build job is still
    in it (see NOTES.md).  The traced run traces the build (build stages,
    Spark jobs)."""
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.session import warm_python_workers
    t0 = time.perf_counter()
    run.spark = harness.start_spark()
    warm_python_workers(run.spark, heap_mb=WORKER_HEAP_MB)
    corpus = gen.generate_corpus(N_DOCS, run.seed)
    pages_path = os.path.join(run.work, "pages.parquet")
    pq.write_table(corpus.pages, pages_path)
    index_dir = os.path.join(run.work, "index")
    if run.trace:
        run.jobs = tr.SparkJobs(run.spark)
        run.trace_on()
        group = run.jobs.start()
        with run.rec.span("setup.build", "setup"):
            build_s = build(run, pages_path, index_dir)
            eng = get_engine(run.spark, index_dir)
        run.info["build_jobs"], run.info["build_tasks"] = \
            run.jobs.finish(group)
        run.trace_off()
        run.lineage = lineage_totals(index_dir)
    else:
        build_s = build(run, pages_path, index_dir)
        eng = get_engine(run.spark, index_dir)
    run.info["build_s"] = build_s
    run.info["build_docs"] = corpus.pages.num_rows
    sizes = index_sizes(index_dir)
    run.info["index_bytes"] = sum(sizes.values())
    run.info["text_bytes"] = corpus.text_bytes
    run.sizes = sizes
    run.index_dir = index_dir
    run.setup_t0 = t0
    return corpus, eng


def finish_setup(run: Run) -> None:
    run.info["setup_s"] = time.perf_counter() - run.setup_t0


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def serve_call(eng, q: dict):
    kind, text, k = q["kind"], q["text"], q["k"]
    if kind == "match_or":
        return eng.topk_wand(text, k)
    if kind == "match_and":
        return eng.topk_wand(text, k, mode="and")
    if kind == "bool_filter":
        return eng.topk_wand(text, k, filter_field="lang",
                             filter_value=q["lang"])
    if kind == "phrase":
        return eng.phrase_topk(text, k)
    if kind == "suggest":
        return eng.suggest(text, k)
    raise ValueError(kind)


def serve(run: Run) -> None:
    corpus, eng = setup(run)
    log = gen.serve_queries(corpus, 6000, run.seed)
    for q in log[:WARM]:
        serve_call(eng, q)
    finish_setup(run)
    samples = []
    i = WARM
    t0 = time.perf_counter()
    while True:
        el = time.perf_counter() - t0
        if el >= run.seconds:
            break
        if run.trace and el >= run.seconds / 2:
            run.trace_on()
        q = log[i % len(log)]
        out = run.op(f"{q['kind']}.{q['pop']}", lambda: serve_call(eng, q))
        if i % SAMPLE_EVERY == 0 and len(samples) < MAX_SAMPLES \
                and out is not None:
            samples.append((run.last_op(), q, out))
        i += 1
    run.trace_off()
    # oracle: built once per run, outside the timed window
    t = time.perf_counter()
    oracle = checks.OracleAnswers(corpus.pages.to_pandas())
    for rid, q, out in samples:
        run.verify(rid, f"oracle mismatch: {q}",
                   lambda: oracle.check(q, out))
    run.info["checked"] = len(samples)
    run.info["check_s"] = time.perf_counter() - t


# ---------------------------------------------------------------------------
# ingest_loci
# ---------------------------------------------------------------------------

def _all_terms(text: str, n: int = 8) -> str:
    """Up to ``n`` distinct plain-word terms of a document: a conjunctive
    query over them must return the document whenever it is live."""
    from mongoesindexer_spark.functions.analysis import analyze_search
    words = [t for t in analyze_search(text) if t.isascii() and t.isalpha()]
    return " ".join(list(dict.fromkeys(words))[:n])


def _page_text(pdf_row) -> str:
    from mongoesindexer_spark.functions.analysis import extract_text
    t = pdf_row["text"]
    return t if t is not None else extract_text(pdf_row["html"])


def loci_call(run: Run, eng, q: dict):
    from mongoesindexer_spark.operators.aggs import (search_count,
                                                     search_terms_agg)
    kind, text, k = q["kind"], q["text"], q["k"]
    if kind == "wand":
        return eng.topk_wand(text, k, use_wand=True)
    if kind == "fanout":
        return eng.topk_wand(text, k, use_segments=True)
    if kind == "topk_df":
        with run.span("topk.df"):
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in eng.topk_df(text, k).collect()]
    with run.span("aggs.agg"):
        if kind == "count":
            return int(search_count(eng, text).collect()[0]["doc_count"])
        return [(r["value"], int(r["doc_count"]))
                for r in search_terms_agg(eng, text, "lang").collect()]


def locus_matches(eng, q: dict, out, lang_of_url: dict) -> bool:
    """Forced loci must rank like the engine's own driver path."""
    from mongoesindexer_spark.operators.topk import MAX_RESULT_WINDOW
    if q["kind"] in ("count", "terms_agg"):
        hits = eng.topk_wand(q["text"], MAX_RESULT_WINDOW)
        if q["kind"] == "count":
            return out == len(hits)
        return out == checks.terms_agg_expect(hits["url"], lang_of_url)
    want = checks.rows(eng.topk_wand(q["text"], q["k"] + 50))
    got = out if q["kind"] == "topk_df" else checks.rows(out)
    return checks.same_ranking(got, want, q["k"])


def ingest_loci(run: Run) -> None:
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.streaming.incremental import \
        IncrementalIndexer
    corpus, eng = setup(run)
    spark, idx = run.spark, run.index_dir
    batches = gen.change_batches(corpus, MAX_CYCLES + 1, run.seed)
    n_loci = len(gen.SCALE_MIX)
    per_cycle = n_loci * LOCI_ROUNDS
    loci = gen.scale_queries(corpus, n_loci + per_cycle * MAX_CYCLES,
                             run.seed)
    pdf = corpus.pages.to_pandas()
    lang_of_url = dict(zip(pdf["url"], pdf["lang"]))
    row_of_url = {u: i for i, u in enumerate(pdf["url"])}
    applied = []

    def sync(n: int, timed: bool):
        """Apply batch ``n``, reopen the engine, run the read-after-write
        query and check it; returns the engine to query next."""
        b = batches[n]
        marks = " ".join(b.inserts)
        upd = spark.createDataFrame(b.updates.to_pandas())

        def fn():
            IncrementalIndexer(idx).apply_updates(spark, upd,
                                                  batch_id=f"b{n}")
            e = get_engine(spark, idx)
            return e, e.topk_wand(marks, len(b.inserts) + 10)
        if timed:
            res = run.op("sync", fn)
            rid = run.last_op()
        else:
            res, rid = fn(), run.untimed_op()
        applied.append(b)
        u = b.updates.to_pandas()
        for url, op, lang in zip(u["url"], u["op"], u["lang"]):
            if op == "delete":
                lang_of_url.pop(url, None)
            else:
                lang_of_url[url] = lang
        if res is None:
            return get_engine(spark, idx)
        e, raw = res
        run.verify(rid, f"read-after-write: batch {n} inserts",
                   lambda: set(raw["url"]) == set(b.inserts.values()))
        check_deletes_updates(run, rid, e, b, u, pdf, row_of_url)
        return e

    # warm-up, part of the set-up: the first batch (the sync path's first
    # Spark jobs) and each Spark locus once, so no timed op pays first-use
    # JVM costs; later batches delete some of this batch's inserts
    eng = sync(0, timed=False)
    for q in loci[:n_loci]:
        loci_call(run, eng, q)
    finish_setup(run)
    t0 = time.perf_counter()
    cycle, last = 0, 0.0
    # whole cycles only, and a next one only if it should end inside the
    # window; the traced run times one cycle untraced, then traces more
    min_cycles = 2 if run.trace else 1
    while cycle < min_cycles or (
            cycle < MAX_CYCLES and
            time.perf_counter() - t0 + last <= run.seconds):
        if run.trace and cycle >= 1:
            run.trace_on()
        c0 = time.perf_counter()
        eng = sync(cycle + 1, timed=True)
        first = n_loci + per_cycle * cycle
        for q in loci[first: first + per_cycle]:
            out = run.op(q["kind"], lambda: loci_call(run, eng, q))
            if out is not None:
                run.verify(run.last_op(),
                           f"locus mismatch vs driver path: {q}",
                           lambda: locus_matches(eng, q, out, lang_of_url))
        cycle, last = cycle + 1, time.perf_counter() - c0
    run.trace_off()
    # the synced index must answer like a fresh build of the final corpus:
    # the oracle is that build, made from scratch outside the engine
    final = gen.apply_batches(corpus.pages, applied).to_pandas()
    oracle = checks.OracleAnswers(final)
    synced = get_engine(spark, idx)
    sample = [q for q in gen.serve_queries(corpus, 60, run.seed + 1)
              if q["kind"] == "match_or"][:20]
    sample += [{"kind": "match_or", "text": " ".join(b.inserts), "k": 30}
               for b in applied]
    for q in sample:
        got = synced.topk_wand(q["text"], q["k"])
        want = [(oracle.ora.urls[d], s) for d, s in oracle.expect(q)]
        run.verify(None, f"synced index differs from rebuild: {q['text']!r}",
                   lambda: checks.same_ranking(
                       list(zip(got["url"], got["score"])), want, q["k"]))


def check_deletes_updates(run: Run, rid: int, eng, b, u, pdf,
                          row_of_url) -> None:
    """Deleted docs never come back; updated docs serve new content."""
    from mongoesindexer_spark.operators.topk import MAX_RESULT_WINDOW

    def served(text: str) -> set:
        return set(eng.topk_wand(text, MAX_RESULT_WINDOW, mode="and")["url"])
    if b.deleted_inserts:
        run.verify(rid, "read-after-write: deleted insert still served",
                   lambda: not len(eng.topk_wand(" ".join(b.deleted_inserts),
                                                 50)))
    for url in b.deleted_base:
        text = _all_terms(_page_text(pdf.iloc[row_of_url[url]]))
        run.verify(rid, f"read-after-write: deleted doc {url} served",
                   lambda: url not in served(text))
    for url, text in zip(u["url"][u["op"] == "update"],
                         u["text"][u["op"] == "update"]):
        run.verify(rid, f"read-after-write: updated doc {url} missing",
                   lambda: url in served(_all_terms(text)))


WORKLOADS = {
    "serve": serve,
    "ingest_loci": ingest_loci,
}
