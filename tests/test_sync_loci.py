"""Incremental sync's two loci (streaming/incremental.py): a change batch
of at most ``LOCAL_APPLY_MAX_ROWS`` rows is applied on the driver, a
larger one by Spark jobs.  The same two batches applied on each locus must
leave the same tables and give the same answers, and the driver locus
launches Spark jobs only for the term_dict and completion rewrites.
"""

import datetime as dt
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from mongoesindexer_spark.operators.aggs import search_count
from mongoesindexer_spark.operators.build_index import IndexBuilder
from mongoesindexer_spark.operators.topk import get_engine
from mongoesindexer_spark.sources.catalog import (ParquetCatalog,
                                                  read_table_arrow)
from mongoesindexer_spark.streaming import incremental
from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

COLS = ["op", "url", "warc_ts", "html", "text", "lang", "n"]
UPD_DDL = ("op string, url string, warc_ts timestamp, html binary, "
           "text string, lang string, n long")
T0 = dt.datetime(2027, 1, 1)
T1 = dt.datetime(2027, 2, 1)
NEW_A, NEW_B, NEW_C = (f"https://new.example/{c}" for c in "abc")


def _batches(urls: list[str]) -> list[list[tuple]]:
    html_b = (b"<html><body><p>html only page about merge join "
              b"pipelines</p></body></html>")
    b1 = [
        ("insert", NEW_A, T0, None, "fresh data flows into the new engine",
         "en", 5),
        # no text: extracted from html
        ("insert", NEW_B, T0, html_b, None, "fr", 123),
        # an insert for an already-indexed url replaces the doc
        ("insert", urls[0], T0, None, "an insert for an indexed url", "es",
         7),
        ("update", urls[1], T0, None, "updated text about hash join scan",
         "en", 42),
        ("update", urls[2], T0, None, "another update table sort", None,
         None),
        ("delete", urls[3], None, None, None, None, None),
        ("delete", urls[4], T0, None, None, None, None),
        # duplicate events for one url: the payload-less delete wins
        ("insert", urls[5], T0, None, "dup insert", "en", 1),
        ("update", urls[5], T1, None, "dup update", "en", 2),
        ("delete", urls[5], None, None, None, None, None),
        # two versions of one url: the newer one wins
        ("update", urls[6], T0, None, "older version text", "en", 3),
        ("update", urls[6], T0 + dt.timedelta(hours=1), None,
         "newer version wins", "fr", 4),
    ]
    b2 = [
        ("delete", NEW_A, None, None, None, None, None),
        ("update", NEW_B, T1, None, "rewritten page about merge data", "es",
         9),
        ("insert", NEW_C, T1, None, "third new page data engine", "en", 77),
        ("delete", "https://never.example/x", None, None, None, None, None),
        ("update", urls[1], T1, None, "second update of the same url", "en",
         43),
    ]
    return [b1, b2]


def _frame(spark, rows):
    pdf = pd.DataFrame(rows, columns=COLS)
    pdf["n"] = pdf["n"].astype("Int64")
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return spark.createDataFrame(pdf, UPD_DDL)


@pytest.fixture(scope="module")
def fielded_index(spark, tiny_index_pos, tiny_pages, tmp_path_factory):
    """tiny_index_pos plus a ``fields`` table (lang keyword, n numeric)
    and its sidecars — the fields stage run on a copy, not a new build."""
    d = str(tmp_path_factory.mktemp("idx-loci")) + "/idx"
    shutil.copytree(tiny_index_pos, d)
    pages = spark.createDataFrame(tiny_pages.assign(
        n=(np.arange(len(tiny_pages)) % 7) * 10))
    IndexBuilder(d, n_buckets=8, block_size=32, keyword_fields=("lang",),
                 numeric_fields=("n",),
                 index_positions=True)._stage_fields(spark, pages)
    return d


def _sync_counting_jobs(spark, idx, upd, batch_id) -> dict:
    """Apply one batch; Spark jobs per job group: ``write`` inside
    ``cat.overwrite`` (term_dict, completion, global_stats), ``driver``
    inside the driver locus, ``rest`` everything else."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    groups = {k: f"loci-{tag}-{k}" for k in ("rest", "driver", "write")}
    ixr = IncrementalIndexer(idx)
    calls = {"driver": 0}

    def grouped(fn, key, count=False):
        def run(*a, **kw):
            if count:
                calls[key] += 1
            sc.setJobGroup(groups[key], key)
            try:
                return fn(*a, **kw)
            finally:
                sc.setJobGroup(groups["rest"], "rest")
        return run

    ixr.cat.overwrite = grouped(ixr.cat.overwrite, "write")
    ixr._apply_on_driver = grouped(ixr._apply_on_driver, "driver", True)
    sc.setJobGroup(groups["rest"], "rest")
    try:
        res = ixr.apply_updates(spark, upd, batch_id=batch_id)
    finally:
        sc.setJobGroup(f"loci-{tag}-after", "after")
    assert res["applied"]
    tr = sc.statusTracker()
    out = {k: len(tr.getJobIdsForGroup(g)) for k, g in groups.items()}
    out["on_driver"] = calls["driver"]
    return out


@pytest.fixture(scope="module")
def synced_loci(spark, fielded_index, tiny_pages, tmp_path_factory):
    """The same two batches applied to two copies: one at the real
    cutoff (driver locus), one with the cutoff at 0 (Spark locus)."""
    batches = _batches(sorted(tiny_pages["url"]))
    out = {}
    for locus, cutoff in (("driver", incremental.LOCAL_APPLY_MAX_ROWS),
                          ("spark", 0)):
        d = str(tmp_path_factory.mktemp(f"idx-loci-{locus}")) + "/idx"
        shutil.copytree(fielded_index, d)
        jobs = []
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(incremental, "LOCAL_APPLY_MAX_ROWS", cutoff)
            for i, rows in enumerate(batches):
                jobs.append(_sync_counting_jobs(
                    spark, d, _frame(spark, rows), f"b{i}"))
        out[locus] = (d, jobs)
    return out


def _table(idx: str, table: str) -> pd.DataFrame:
    pdf = read_table_arrow(ParquetCatalog(idx), table)
    cols = sorted(pdf.columns)
    pdf = pdf[cols].astype(object).where(pdf[cols].notna(), None)
    return pdf.sort_values(cols).reset_index(drop=True)


def test_driver_locus_launches_jobs_only_for_dictionary_writes(synced_loci):
    _, drv = synced_loci["driver"]
    _, spk = synced_loci["spark"]
    for j in drv:
        assert j["on_driver"] == 1 and j["driver"] == 0, j
    for j in spk:
        assert j["on_driver"] == 0, j
    # the shared prep (op check, per-url collapse, term_dict read) is all
    # that runs outside the writes on the driver locus
    assert sum(j["rest"] + j["driver"] for j in drv) < \
        sum(j["rest"] for j in spk) / 4, (drv, spk)


def test_loci_leave_identical_tables(synced_loci):
    a, _ = synced_loci["driver"]
    b, _ = synced_loci["spark"]
    ta, tb = _table(a, "term_dict"), _table(b, "term_dict")
    assert ta[["term", "df", "cf"]].equals(tb[["term", "df", "cf"]])
    # bitwise-equal idf
    assert np.array_equal(ta["idf"].to_numpy(np.float64).view(np.int64),
                          tb["idf"].to_numpy(np.float64).view(np.int64))
    tables = ["global_stats", "doc_stats", "tombstones", "fields",
              "completion", "sync_log"] + [
        t for t in ParquetCatalog(a).list_tables()
        if t.startswith("fields_by_")]
    assert len(tables) == 8
    assert set(tables) <= set(ParquetCatalog(b).list_tables())
    for t in tables:
        pd.testing.assert_frame_equal(_table(a, t), _table(b, t), obj=t)


def test_loci_give_identical_answers(spark, synced_loci):
    a = get_engine(spark, synced_loci["driver"][0])
    b = get_engine(spark, synced_loci["spark"][0])
    for q in ("data engine", "merge join", "newer version wins",
              "older version", "hash join scan", "dup insert"):
        pd.testing.assert_frame_equal(a.topk_wand(q, 10),
                                      b.topk_wand(q, 10), obj=q)
        pd.testing.assert_frame_equal(
            search_count(a, q).toPandas(), search_count(b, q).toPandas())
    for p in ("merge join", "new engine", "version wins"):
        pd.testing.assert_frame_equal(a.phrase_topk(p, 10),
                                      b.phrase_topk(p, 10), obj=p)
    for v in ("en", "fr", "es"):
        pd.testing.assert_frame_equal(a.keyword_term("lang", v, size=600),
                                      b.keyword_term("lang", v, size=600))
    for p in ("da", "mer", "ver", "th"):
        pd.testing.assert_frame_equal(a.suggest(p), b.suggest(p), obj=p)


def test_synced_batches_have_their_effect(spark, synced_loci, tiny_pages):
    urls = sorted(tiny_pages["url"])
    d, _ = synced_loci["driver"]
    eng = get_engine(spark, d)
    live = set(eng.keyword_term("lang", ["en", "fr", "es"],
                                size=1000)["url"])
    assert {NEW_B, NEW_C, urls[0], urls[1], urls[6]} <= live
    assert not live & {NEW_A, urls[3], urls[4], urls[5]}
    g = read_table_arrow(ParquetCatalog(d), "global_stats").iloc[0]
    # batch 1: +2 new urls, -3 deletes; batch 2: +1 new, -1 batch-1 insert
    assert int(g["n_docs"]) == len(tiny_pages) - 1
    top = eng.topk_wand("newer version wins", 3)["url"].tolist()
    assert top[0] == urls[6]
    assert eng.topk_wand("older", 3).empty


def _assert_term_sorted(idx: str) -> None:
    for path in ParquetCatalog(idx).data_files("term_dict"):
        f = pq.ParquetFile(path)
        terms = f.read(columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), path
        md = f.metadata
        ranges = [(md.row_group(i).column(0).statistics.min,
                   md.row_group(i).column(0).statistics.max)
                  for i in range(md.num_row_groups)
                  if md.row_group(i).num_rows]
        assert all(hi <= lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))


def test_term_dict_term_sorted_after_sync(fielded_index, synced_loci):
    """As after a build: every term_dict file is term-sorted, so term
    point reads prune by row group."""
    _assert_term_sorted(fielded_index)
    for d, _ in synced_loci.values():
        assert len(ParquetCatalog(d).data_files("term_dict")) > 0
        _assert_term_sorted(d)
        assert not os.path.exists(os.path.join(d, "_sync_journal.json"))
