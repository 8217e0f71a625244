"""Incremental-sync correctness (SURVEY §5.2-6, FIXTURES.md §3): after
applying the change batch, the incrementally-maintained index answers
queries identically to a from-scratch oracle on the updated corpus;
compaction preserves results; duplicate batches are no-ops.
"""

import os
import shutil

import pandas as pd
import pytest

QUERIES = ["data", "the fast", "merge join", "scan", "table sort hash",
           "zzzzmissingterm"]


@pytest.fixture(scope="module")
def inc_index(spark, tiny_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx-inc")) + "/idx"
    shutil.copytree(tiny_index, d)
    return d


@pytest.fixture(scope="module")
def updated_pages(tiny_dir, tiny_pages):
    upd = pd.read_parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    pages = tiny_pages.set_index("url")
    for r in upd.itertuples():
        if r.op == "delete":
            pages = pages.drop(r.url)
        else:
            pages.loc[r.url] = {"warc_ts": r.warc_ts, "html": r.html,
                                "text": r.text, "lang": r.lang}
    return pages.reset_index()


@pytest.fixture(scope="module")
def oracle_updated(updated_pages):
    from tests.oracle import OracleIndex

    return OracleIndex.build(updated_pages)


@pytest.fixture(scope="module")
def synced(spark, inc_index, tiny_dir):
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    inc = IncrementalIndexer(inc_index)
    res = inc.apply_updates(spark, upd, batch_id="batch-1")
    assert res["applied"]
    assert res["inserted"] == 35  # 20 inserts + 15 updates
    assert res["tombstoned"] == 25  # 15 updates + 10 deletes
    return inc_index


def _topk_pairs_df(spark, idx, q, k):
    from mongoesindexer_spark.operators.topk import bm25_topk_df
    return sorted(
        (round(r["score"], 6), r["url"])
        for r in bm25_topk_df(spark, idx, q, k).collect()
    )


def _topk_pairs_wand(spark, idx, q, k):
    from mongoesindexer_spark.operators.topk import bm25_topk_wand
    pdf = bm25_topk_wand(spark, idx, q, k)
    return sorted(zip(pdf["score"].round(6), pdf["url"]))


def _oracle_pairs(oracle, q, k):
    return sorted((round(s, 6), u) for _, u, s in oracle.topk(q, k))


def test_incremental_equals_rebuild_df_path(spark, synced, oracle_updated):
    for q in QUERIES:
        got = _topk_pairs_df(spark, synced, q, 10)
        want = _oracle_pairs(oracle_updated, q, 10)
        assert got == want, q


def test_incremental_equals_rebuild_wand_path(spark, synced, oracle_updated):
    for q in QUERIES:
        got = _topk_pairs_wand(spark, synced, q, 10)
        want = _oracle_pairs(oracle_updated, q, 10)
        assert got == want, q


def test_global_stats_exact_after_sync(spark, synced, oracle_updated):
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    g = ParquetCatalog(synced).read(spark, "global_stats").collect()[0]
    assert g["n_docs"] == oracle_updated.n_docs
    assert abs(g["avgdl"] - oracle_updated.avgdl) < 1e-9


def test_duplicate_batch_is_noop(spark, synced, tiny_dir):
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    res = IncrementalIndexer(synced).apply_updates(spark, upd, batch_id="batch-1")
    assert not res["applied"]


def test_segment_fanout_rank_identical_after_sync(spark, synced,
                                                  oracle_updated):
    """The distributed segment fan-out locus must stay rank-identical to
    the DataFrame path and the oracle on the MERGED view — base segments
    + delta segments + tombstones, merge-on-read, before compaction
    folds them (the round-3 gate only pinned segments on a base-only
    index).  Runs before test_compaction_preserves_results so the delta
    generation is still live."""
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(synced)
    # the premise: this index really is multi-generation right now
    files = [f for d in cat._live_dirs("postings_blocks")
             for f in os.listdir(d) if f.endswith(".parquet")]
    assert any("seg-d" in f for f in files), files
    assert cat.read(spark, "tombstones").count() > 0
    eng = get_engine(spark, synced)
    for q in QUERIES:
        for mode in ("or", "and"):
            pdf = eng.topk_wand(q, 10, use_segments=True, mode=mode)
            got = sorted(zip(pdf["score"].round(6), pdf["url"]))
            want = sorted(
                (round(r["score"], 6), r["url"]) for r in
                eng.topk_df(q, 10, mode=mode).collect())
            assert got == want, (q, mode)
        assert sorted(zip(
            eng.topk_wand(q, 10, use_segments=True)["score"].round(6),
            eng.topk_wand(q, 10, use_segments=True)["url"],
        )) == _oracle_pairs(oracle_updated, q, 10), q


def test_compaction_preserves_results(spark, synced, oracle_updated):
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.sources.catalog import ParquetCatalog

    before = {q: _topk_pairs_wand(spark, synced, q, 10) for q in QUERIES}
    res = compact(spark, synced)
    assert res["compacted"] and res["removed_docs"] == 25
    cat = ParquetCatalog(synced)
    assert cat.read(spark, "tombstones").count() == 0
    for q in QUERIES:
        assert _topk_pairs_wand(spark, synced, q, 10) == before[q], q
        assert _topk_pairs_df(spark, synced, q, 10) == _oracle_pairs(oracle_updated, q, 10), q
    # the rewritten doc_stats must keep the build's small row groups —
    # fetch_urls point reads decode whole row groups, and a Spark-default
    # ~1M-row group would regress every post-compaction query
    import pyarrow.parquet as pq
    for d in cat._live_dirs("doc_stats"):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, f)).metadata
                for i in range(md.num_row_groups):
                    assert md.row_group(i).num_rows <= 8192, (d, f)


def test_delta_segments_doc_disjoint_per_file(spark, tiny_index, tiny_dir,
                                              tmp_path):
    """Delta encode is per-file over the appended flat parts (no term-hash
    shuffle exists anymore): every delta segment file must cover a doc
    range disjoint from its siblings — the invariant that makes per-file
    encoding and per-segment query fan-out correct."""
    import glob
    import pyarrow.parquet as pq
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer
    from mongoesindexer_spark.sources.catalog import ParquetCatalog

    d = str(tmp_path / "idx")
    shutil.copytree(tiny_index, d)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    IncrementalIndexer(d).apply_updates(spark, upd)
    cat = ParquetCatalog(d)
    delta_dirs = [p for p in cat._live_dirs("postings_blocks")
                  if "delta-" in os.path.basename(p)]
    assert delta_dirs, "sync must register a delta segment dir"
    for dd in delta_dirs:
        spans = []
        for f in glob.glob(os.path.join(dd, "seg-*.parquet")):
            t = pq.read_table(f, columns=["first_doc", "last_doc"])
            if t.num_rows:
                spans.append((min(t.column("first_doc").to_pylist()),
                              max(t.column("last_doc").to_pylist())))
        spans.sort()
        for (_, b1), (a2, _) in zip(spans, spans[1:]):
            assert b1 < a2, "delta segment files overlap in doc range"


def test_compaction_avoids_corpus_shuffle(spark, tiny_index, tiny_dir,
                                          tmp_path):
    """Compaction re-encodes per doc-range file; a corpus-wide
    groupBy/repartition (the old hash(term) bucket shuffle, which puts a
    head term's whole posting list on one task) must never reappear."""
    from pyspark.sql import DataFrame
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    shutil.copytree(tiny_index, d)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    IncrementalIndexer(d).apply_updates(spark, upd)

    def forbid(self, *a, **k):
        raise AssertionError("corpus shuffle operator used in compaction")

    orig_gb, orig_rp = DataFrame.groupBy, DataFrame.repartition
    DataFrame.groupBy, DataFrame.repartition = forbid, forbid
    try:
        res = compact(spark, d)
    finally:
        DataFrame.groupBy, DataFrame.repartition = orig_gb, orig_rp
    assert res["compacted"] and res["removed_docs"] == 25


def test_query_with_fully_tombstoned_term(spark, tiny_index, tiny_dir,
                                          tmp_path_factory):
    """A term whose only docs were all deleted loses its term_dict row at
    sync (exact delta arithmetic) but keeps posting blocks until
    compaction.  Querying it alongside live terms must score the live
    terms, not crash — on every execution locus (regression: KeyError)."""
    import pandas as pd

    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("idx-deadterm")) + "/idx"
    shutil.copytree(tiny_index, d)
    td = ParquetCatalog(d).read(spark, "term_dict")
    rare = td.filter("df = 1").orderBy("term").first()["term"]
    common = td.orderBy("df", ascending=False).first()["term"]
    eng = get_engine(spark, d)
    victim_url = eng.topk_wand(rare, 1)["url"].iloc[0]

    pages = pd.read_parquet(os.path.join(tiny_dir, "pages.parquet"))
    row = pages[pages["url"] == victim_url].iloc[0]
    upd = spark.createDataFrame(pd.DataFrame([{
        "op": "delete", "url": victim_url, "warc_ts": row["warc_ts"],
        "html": row["html"], "text": row["text"], "lang": row["lang"],
    }]))
    IncrementalIndexer(d).apply_updates(spark, upd, batch_id="dead-term")

    eng = get_engine(spark, d)  # fresh snapshot
    assert eng._term_meta([rare])[rare] is None  # dictionary row gone
    q = f"{rare} {common}"
    for kw in ({}, {"use_segments": True}, {"use_wand": True},
               {"use_wand": False}):
        out = eng.topk_wand(q, 5, **kw)
        assert len(out) > 0, kw  # live term still scores
        assert victim_url not in set(out["url"]), kw
    # the dead term ALONE returns empty, not an error
    assert len(eng.topk_wand(rare, 5)) == 0


def test_within_batch_duplicate_url_collapses(spark, tiny_index,
                                              tmp_path_factory):
    """One micro-batch can carry several events for the same url
    (stream_sync coalesces up to 8 files per trigger).  They must collapse
    to ONE upsert — the greatest warc_ts wins — not two live docs under
    fresh doc_ids (regression: both inserted, queries returned the doc
    twice)."""
    import datetime as dt

    import pandas as pd

    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("idx-batchdup")) + "/idx"
    shutil.copytree(tiny_index, d)
    t0 = dt.datetime(2026, 1, 1)
    url = "http://example.test/batch-dup"
    upd = spark.createDataFrame(pd.DataFrame([
        {"op": "insert", "url": url, "warc_ts": t0, "html": None,
         "text": "zzbatchdup old version", "lang": "en"},
        {"op": "update", "url": url, "warc_ts": t0 + dt.timedelta(hours=1),
         "html": None, "text": "zzbatchdup new version", "lang": "en"},
    ]))
    res = IncrementalIndexer(d).apply_updates(spark, upd, batch_id="dup-url")
    assert res["inserted"] == 1 and res["tombstoned"] == 0

    eng = get_engine(spark, d)
    hits = eng.topk_wand("zzbatchdup", 10)
    assert list(hits["url"]) == [url]  # exactly one live doc
    # and the LATER event's payload won
    cat = ParquetCatalog(d)
    live = cat.read(spark, "doc_stats").filter(f"url = '{url}'").collect()
    assert len(live) == 1
    assert eng.topk_wand("version", 10)["url"].tolist().count(url) == 1


@pytest.mark.parametrize("locus", ["driver", "spark"])
def test_crash_mid_sync_replays_cleanly(spark, tiny_index, tiny_dir,
                                        tmp_path_factory, monkeypatch, locus):
    """apply_updates commits to many tables with no cross-table
    transaction; the intent journal must roll a half-committed batch back
    on replay so doc_ids are not reused and postings are not
    double-registered (VERDICT r2 'What's wrong': replayed batch reuses
    the same doc_ids and double-counts scores).  Run on both sync loci
    (the Spark one by a cutoff of 0)."""
    import pandas as pd

    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming import incremental
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    if locus == "spark":
        monkeypatch.setattr(incremental, "LOCAL_APPLY_MAX_ROWS", 0)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))

    # clean twin: same batch applied without a crash
    clean = str(tmp_path_factory.mktemp("idx-clean")) + "/idx"
    shutil.copytree(tiny_index, clean)
    IncrementalIndexer(clean).apply_updates(spark, upd, batch_id="b1")

    crash = str(tmp_path_factory.mktemp("idx-crash")) + "/idx"
    shutil.copytree(tiny_index, crash)
    inc = IncrementalIndexer(crash)

    # crash AFTER delta postings/blocks are committed but BEFORE
    # doc_stats/term_dict/sync_log — the partial state that poisoned
    # replay before the journal existed
    orig = IncrementalIndexer._encode_delta

    def _boom(self, *a, **kw):
        orig(self, *a, **kw)
        raise RuntimeError("injected crash after delta encode")

    IncrementalIndexer._encode_delta = _boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            inc.apply_updates(spark, upd, batch_id="b1")
    finally:
        IncrementalIndexer._encode_delta = orig

    # partial state is visible (postings_flat advanced, no sync_log row)
    cat = ParquetCatalog(crash)
    assert os.path.exists(os.path.join(crash, "_sync_journal.json"))
    assert not cat.table_exists("sync_log")

    # replay: recovery rolls back, then the batch applies fully
    res = IncrementalIndexer(crash).apply_updates(spark, upd, batch_id="b1")
    assert res["applied"] and res["inserted"] == 35 and res["tombstoned"] == 25
    assert not os.path.exists(os.path.join(crash, "_sync_journal.json"))

    for q in QUERIES:
        assert _topk_pairs_wand(spark, crash, q, 10) == \
            _topk_pairs_wand(spark, clean, q, 10), q
        assert _topk_pairs_df(spark, crash, q, 10) == \
            _topk_pairs_df(spark, clean, q, 10), q
    # stats identical to the clean twin (no double counting)
    g_crash = ParquetCatalog(crash).read(spark, "global_stats").collect()[0]
    g_clean = ParquetCatalog(clean).read(spark, "global_stats").collect()[0]
    assert g_crash["n_docs"] == g_clean["n_docs"]
    assert g_crash["sum_dl"] == g_clean["sum_dl"]


def test_unversioned_delete_wins_within_batch(spark, tiny_index, tiny_dir,
                                              tmp_path_factory):
    """A delete event usually carries no page payload and hence a null
    warc_ts.  It must still win the within-batch collapse — nulls-last
    version ordering alone would drop it and leave the doc live."""
    import pandas as pd

    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("idx-nulldel")) + "/idx"
    shutil.copytree(tiny_index, d)
    pages = pd.read_parquet(os.path.join(tiny_dir, "pages.parquet"))
    victim = pages.iloc[0]
    upd = spark.createDataFrame(
        [("update", victim["url"],
          victim["warc_ts"].to_pydatetime().replace(tzinfo=None), None,
          "resurrect attempt", "en"),
         ("delete", victim["url"], None, None, None, None)],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    res = IncrementalIndexer(d).apply_updates(spark, upd, batch_id="nd")
    assert res["inserted"] == 0 and res["tombstoned"] == 1
    eng = get_engine(spark, d)
    assert victim["url"] not in set(eng.topk_wand("resurrect", 10)["url"])


def test_unknown_op_rejected_loudly(spark, tiny_index, tmp_path_factory):
    """An op outside insert/update/delete must raise, not fall through:
    it would miss the insert filter yet still retire the url via
    dead_urls — a silent delete."""
    import datetime as dt

    import pytest

    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("idx-badop")) + "/idx"
    shutil.copytree(tiny_index, d)
    upd = spark.createDataFrame(
        [("upsert", "http://x/1", dt.datetime(2026, 3, 1), None, "x", "en")],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    with pytest.raises(ValueError, match="unknown change op 'upsert'"):
        IncrementalIndexer(d).apply_updates(spark, upd, batch_id="bad")


def test_crash_after_full_commit_keeps_batch(spark, tiny_index, tiny_dir,
                                             tmp_path_factory):
    """If the crash lands AFTER every table commit (sync_log included) but
    BEFORE the journal removal, the batch is fully applied — recovery must
    retire the journal via the sync_log witness, NOT roll the batch back
    (a poll loop moving on to the next batch would otherwise silently
    lose it)."""
    import json

    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("idx-postcommit")) + "/idx"
    shutil.copytree(tiny_index, d)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    inc = IncrementalIndexer(d)
    inc.apply_updates(spark, upd, batch_id="b1")
    before = {q: _topk_pairs_wand(spark, d, q, 10) for q in QUERIES}

    # simulate the crash window: resurrect b1's journal after the fact
    pre = {t: 0 for t in IncrementalIndexer._SYNC_TABLES}
    with open(os.path.join(d, "_sync_journal.json"), "w") as f:
        json.dump({"batch_id": "b1", "pre": pre}, f)

    got = IncrementalIndexer(d).recover(spark)
    assert got is None  # witnessed in sync_log → no rollback
    assert not os.path.exists(os.path.join(d, "_sync_journal.json"))
    cat = ParquetCatalog(d)
    assert cat.table_exists("sync_log")  # NOT rolled back to pre-state
    for q in QUERIES:
        assert _topk_pairs_wand(spark, d, q, 10) == before[q], q
