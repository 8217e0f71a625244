"""Query-then-fetch on the Spark DataFrame loci (operators/topk.py
``SearchEngine.scored_postings`` + ``fetch_top``).

Every Spark-DF scoring locus ranks doc ids in Catalyst (the query phase:
a schema-pinned postings_flat scan with the plan's idf inlined) and
point-reads urls for the k winners on the driver (the fetch phase).
Each locus must rank like its driver-kernel twin on an index that
carries tombstones and a delta flat generation, launch few Spark jobs,
and keep its result schema when nothing matches.
"""

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pytest

from mongoesindexer_spark.operators.build_index import IndexBuilder
from mongoesindexer_spark.operators.topk import (RESULT_DDL, get_engine,
                                                 live_mask,
                                                 match_scores_arrays)
from mongoesindexer_spark.streaming.incremental import IncrementalIndexer
from tests.test_sync_loci import _batches, _frame

# two and three head terms of the tiny corpus, and terms of the batch
QUERIES = ("udrndau lda", "fiut kni zfaj", "data engine")


@pytest.fixture(scope="module")
def synced_index(spark, tiny_index_pos, tiny_pages, tmp_path_factory):
    """A copy of tiny_index_pos with a ``fields`` table (lang keyword, n
    numeric) and one applied change batch: tombstones, a delta flat
    generation and delta fields rows all exist."""
    d = str(tmp_path_factory.mktemp("idx-fetch")) + "/idx"
    shutil.copytree(tiny_index_pos, d)
    pages = spark.createDataFrame(tiny_pages.assign(
        n=(np.arange(len(tiny_pages)) % 7) * 10))
    IndexBuilder(d, n_buckets=8, block_size=32, keyword_fields=("lang",),
                 numeric_fields=("n",),
                 index_positions=True)._stage_fields(spark, pages)
    batch = _batches(sorted(tiny_pages["url"]))[0]
    IncrementalIndexer(d).apply_updates(spark, _frame(spark, batch),
                                        batch_id="b0")
    eng = get_engine(spark, d)
    assert eng.tombstones
    assert len({os.path.dirname(f)
                for f in eng.cat.data_files("postings_flat")}) >= 2
    return d


def _rows(pdf):
    return [(int(d), u, float(s))
            for d, u, s in zip(pdf["doc_id"], pdf["url"], pdf["score"])]


def _assert_same(got, want):
    """Same docs and urls in the same order, scores equal to 1e-9 (the
    loci sum float contributions in different orders)."""
    got, want = _rows(got), _rows(want)
    assert got, "the parity query must match something"
    assert [(d, u) for d, u, _ in got] == [(d, u) for d, u, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def _jobs_launched(spark, fn):
    """(result, Spark jobs launched while ``fn`` ran), counted through a
    job group and the status tracker."""
    sc = spark.sparkContext
    group = f"query-fetch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"query-fetch-after-{uuid.uuid4().hex}", "after")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_topk_df_collect_launches_at_most_three_jobs(spark, synced_index):
    eng = get_engine(spark, synced_index)
    rows, n_jobs = _jobs_launched(
        spark, lambda: eng.topk_df("udrndau lda", 10).collect())
    assert rows
    assert n_jobs <= 3, n_jobs


def test_topk_df_through_catalog_seam(spark, synced_index):
    """An injected catalog reads postings_flat through its own ``read``
    (the schema-pinned dir scan is ParquetCatalog's) and answers alike."""
    from mongoesindexer_spark.operators.topk import SearchEngine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from tests.test_round4 import SeamOnlyCatalog
    cat = SeamOnlyCatalog(ParquetCatalog(synced_index))
    eng = SearchEngine(spark, synced_index, catalog=cat)
    try:
        _assert_same(eng.topk_df("udrndau lda", 20).toPandas(),
                     get_engine(spark, synced_index).topk_df(
                         "udrndau lda", 20).toPandas())
    finally:
        eng.close()
    assert "read" in cat.calls


@pytest.mark.parametrize("mode,queries", [
    ("or", QUERIES), ("and", ("udrndau lda", "fiut kni", "data engine"))])
def test_topk_df_matches_driver_kernel(spark, synced_index, mode, queries):
    eng = get_engine(spark, synced_index)
    for q in queries:
        _assert_same(eng.topk_df(q, 20, mode=mode).toPandas(),
                     eng.topk_wand(q, 20, mode=mode))


def test_function_score_spark_matches_kernel(spark, synced_index):
    from mongoesindexer_spark.operators.function_score import \
        function_score_topk
    for q in QUERIES:
        got, want = (function_score_topk(spark, synced_index, q, 15, "n",
                                         factor=0.5, locus=locus)
                     for locus in ("spark", "kernel"))
        _assert_same(got, want)


def test_decay_score_spark_matches_kernel(spark, synced_index):
    from mongoesindexer_spark.operators.function_score import \
        decay_score_topk
    for q in QUERIES:
        got, want = (decay_score_topk(spark, synced_index, q, 15, "n",
                                      origin=20.0, scale=10.0, locus=locus)
                     for locus in ("spark", "kernel"))
        _assert_same(got, want)


@pytest.mark.parametrize("mtype,tie_breaker", [("best_fields", 0.3),
                                               ("most_fields", 0.0)])
def test_multi_match_spark_matches_kernel(spark, synced_index, tmp_path,
                                          mtype, tie_breaker):
    """Two field indexes in one doc_id space: the synced index and a
    copy of it, the first boosted."""
    from mongoesindexer_spark.operators.multi_match import multi_match_topk
    other = str(tmp_path / "idx")
    shutil.copytree(synced_index, other)
    dirs = {"title": synced_index, "body": other}
    for q in QUERIES:
        got, want = (multi_match_topk(spark, dirs, q, 15, mtype=mtype,
                                      tie_breaker=tie_breaker,
                                      boosts={"title": 1.5}, locus=locus)
                     for locus in ("spark", "kernel"))
        _assert_same(got, want)


def test_boosting_spark_matches_kernel(spark, synced_index):
    from mongoesindexer_spark.operators.compound import boosting_topk
    for q in QUERIES:
        got, want = (boosting_topk(spark, synced_index, q, "kni data",
                                   15, 0.3, locus=locus)
                     for locus in ("spark", "kernel"))
        _assert_same(got, want)


def test_simple_query_string_df_matches_kernel(spark, synced_index):
    from mongoesindexer_spark.operators.query_string import (
        simple_query_string_df, simple_query_string_topk)
    for q in ("udrndau -lda", "+fiut kni", "atreq +zfaj -kni data"):
        _assert_same(
            simple_query_string_df(spark, synced_index, q, 15).toPandas(),
            simple_query_string_topk(spark, synced_index, q, 15))


def _terms_set_kernel(eng, terms, sub, k):
    """terms_set on the driver, from the kernel pieces: per-doc BM25 and
    matched-term counts (match_scores_arrays over the cached blocks),
    tombstones masked, the per-doc threshold point-read from ``fields``
    and clamped to the term count."""
    idf = eng.plan(terms).idf
    blocks = eng._term_blocks(list(idf))
    docs, scores, counts = match_scores_arrays(
        {t: (idf[t], blocks[t]) for t in idf if t in blocks}, eng.avgdl)
    keep = live_mask(docs, eng)
    docs, scores, counts = docs[keep], scores[keep], counts[keep]
    vals = eng._rg_index("fields", "doc_id").read_isin(
        docs.tolist(), ["doc_id", sub])
    msm = dict(zip(vals["doc_id"], vals[sub]))
    hits = [(float(s), int(d)) for d, s, c in zip(docs, scores, counts)
            if pd.notna(msm.get(d)) and c >= min(msm[d], len(terms))]
    hits.sort(key=lambda h: (-h[0], h[1]))
    return eng.hits_frame(hits[:k])


def test_terms_set_matches_kernel_pieces(spark, synced_index):
    from mongoesindexer_spark.operators.query_string import terms_set_topk
    eng = get_engine(spark, synced_index)
    for q in QUERIES:
        terms = sorted(set(q.split()))
        _assert_same(
            terms_set_topk(spark, synced_index, terms, "n", 15,
                           clamp=True).toPandas(),
            _terms_set_kernel(eng, terms, "n_num", 15))


@pytest.mark.parametrize("query,mode", [("zzqxv", "or"),
                                        ("data zzqxv", "and")])
def test_empty_result_keeps_schema(spark, synced_index, query, mode):
    df = get_engine(spark, synced_index).topk_df(query, 5, mode=mode)
    assert df.schema == spark.createDataFrame([], RESULT_DDL).schema
    assert df.collect() == []
