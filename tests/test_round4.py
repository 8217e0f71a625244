"""Round-4 hardening: bounded segment fan-out, serving caps, the injected
catalog seam, and end-to-end filesystem threading (VERDICT r3 items 1-5, 9).
"""

import datetime as dt
import os
import warnings

import pyarrow.fs as pafs
import pytest


# ---------------------------------------------------------------------------
# bounded segment-group fan-out (the last 10^12-doc scale-killer shape)
# ---------------------------------------------------------------------------


def test_pack_segment_groups_unit():
    from mongoesindexer_spark.operators.topk import pack_segment_groups

    files = [(f"seg-{i:04d}.parquet", 100 + (i % 7) * 40) for i in range(200)]
    for max_groups in (1, 3, 8, 50, 199, 200, 500):
        groups = pack_segment_groups(files, max_groups)
        # bounded, non-empty, and nothing dropped
        assert len(groups) <= max_groups
        assert all(groups)
        flat = [p for g in groups for p in g]
        assert flat == [p for p, _ in files]  # contiguous, order-preserving
    # byte balance: no group owns a wildly disproportionate share
    sizes = {p: s for p, s in files}
    groups = pack_segment_groups(files, 8)
    per = [sum(sizes[p] for p in g) for g in groups]
    assert max(per) <= 2 * (sum(per) / len(per))
    # fewer files than groups → one file per group (max parallelism)
    assert pack_segment_groups(files[:3], 16) == [[p] for p, _ in files[:3]]


def test_segment_group_count_bounded_many_files(spark, tiny_dir, tmp_path):
    """An index whose segment-file count far exceeds the cap must fan out
    O(cores) tasks, not one per file (ES fans out per shard, not per
    Lucene segment — reference configs/ltd_doc.settings.json:244)."""
    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import get_engine

    idx = str(tmp_path / "idx")
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    # tiny blocks + many buckets → many small doc-range segment files
    IndexBuilder(idx, n_buckets=16, block_size=8).build(spark, pages)
    eng = get_engine(spark, idx)
    n_files = len(eng._segment_files())
    assert n_files > 4, "fixture too small to exercise bin-packing"
    groups = eng._segment_groups(max_groups=4)
    assert len(groups) <= 4
    assert sorted(p for g in groups for p in g) == \
        sorted(p for p, _ in eng._segment_files())
    # default cap: 2 × defaultParallelism
    default_groups = eng._segment_groups()
    assert len(default_groups) <= \
        2 * spark.sparkContext.defaultParallelism


def test_fanout_rank_identical_with_multifile_groups(spark, tiny_dir,
                                                     tiny_queries, tmp_path,
                                                     monkeypatch):
    """Rank identity must survive bin-packing multiple doc-disjoint
    segment files into one task (groups stay doc-disjoint because files
    are doc-range-ordered and consecutive)."""
    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    idx = str(tmp_path / "idx")
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(idx, n_buckets=16, block_size=8).build(spark, pages)
    # add a delta generation so groups can mix base + delta files
    ups = spark.createDataFrame(
        [("insert", "https://new.example/a", dt.datetime(2026, 1, 1), None,
          "quick brown data flows through the new spark engine quick data",
          "en")],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    IncrementalIndexer(idx).apply_updates(spark, ups)

    monkeypatch.setattr(topk_mod, "SEGMENT_MAX_GROUPS", 2)
    eng = get_engine(spark, idx)
    assert len(eng._segment_groups()) <= 2
    assert any(len(g) > 1 for g in eng._segment_groups()), \
        "cap did not force multi-file groups — test is vacuous"
    for r in tiny_queries.itertuples():
        for mode in ("or", "and"):
            drv = eng.topk_wand(r.query_text, r.k, use_segments=False,
                                mode=mode)
            seg = eng.topk_wand(r.query_text, r.k, use_segments=True,
                                mode=mode)
            assert [(x.doc_id, round(x.score, 9)) for x in drv.itertuples()] \
                == [(x.doc_id, round(x.score, 9)) for x in seg.itertuples()], \
                (r.query_text, mode)


# ---------------------------------------------------------------------------
# serving caps: max_result_window parity + tombstone-size guard
# ---------------------------------------------------------------------------


def test_max_result_window_rejected(spark, tiny_index):
    """ES serving parity (index.max_result_window, reference
    configs/ltd_doc.settings.json:246): an unbounded k is a loud error on
    every serving path, never a silent giant collect."""
    from mongoesindexer_spark.operators.topk import (MAX_RESULT_WINDOW,
                                                     get_engine)

    eng = get_engine(spark, tiny_index)
    too_big = MAX_RESULT_WINDOW + 1
    with pytest.raises(ValueError, match="max_result_window"):
        eng.topk_wand("data", too_big)
    with pytest.raises(ValueError, match="max_result_window"):
        eng.topk_df("data", too_big)
    with pytest.raises(ValueError, match="max_result_window"):
        eng.topk_segments(["data"], {"data": 1.0}, too_big)
    # at the cap is fine
    assert len(eng.topk_wand("data", MAX_RESULT_WINDOW)) >= 0


def test_tombstone_count_warning(spark, tiny_dir, tmp_path, monkeypatch):
    """Driver-resident tombstones are bounded by churn-since-compaction BY
    POLICY only — above the threshold the engine must say so and point at
    compact()."""
    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.operators.topk import SearchEngine
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    idx = str(tmp_path / "idx")
    pages_pdf = None
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(idx, n_buckets=8, block_size=32).build(spark, pages)
    victims = [r.url for r in pages.select("url").limit(3).collect()]
    dels = spark.createDataFrame(
        [("delete", u, dt.datetime(2026, 1, 1), None, None, None)
         for u in victims],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    IncrementalIndexer(idx).apply_updates(spark, dels)

    monkeypatch.setattr(topk_mod, "TOMBSTONE_WARN_COUNT", 2)
    with pytest.warns(RuntimeWarning, match="compact"):
        eng = SearchEngine(spark, idx)
    eng.close()
    # compaction clears the set → no warning
    compact(spark, idx)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        eng = SearchEngine(spark, idx)
    assert not eng.tombstones
    eng.close()


# ---------------------------------------------------------------------------
# catalog-seam injection: build → sync → compact → query through an
# injected catalog restricted to the surface IcebergCatalog implements
# ---------------------------------------------------------------------------


class SeamOnlyCatalog:
    """Delegates EXACTLY the seam surface (the methods IcebergCatalog
    implements, tests/test_iceberg_catalog.py) to a real ParquetCatalog
    and records every call; any access outside the surface raises —
    proving build/sync/compact/query consume only the seam.

    ``snapshot_dir`` is part of the surface: the delta encode post-
    processes the files of one just-committed append (Iceberg analog: the
    snapshot's data-file list from the .files metadata table)."""

    SURFACE = ("table_exists", "list_tables", "drop_table", "append",
               "overwrite", "write_small_arrow", "register_external",
               "read", "read_incremental", "current_snapshot", "rollback",
               "data_files", "snapshot_dir")

    def __init__(self, inner):
        object.__setattr__(self, "_inner", inner)
        object.__setattr__(self, "calls", [])
        object.__setattr__(self, "filesystem", inner.filesystem)

    def __getattr__(self, name):
        if name not in SeamOnlyCatalog.SURFACE:
            raise AttributeError(
                f"{name!r} is outside the catalog seam surface — the "
                "engine would not run against IcebergCatalog")
        fn = getattr(self._inner, name)

        def wrapped(*a, **kw):
            self.calls.append(name)
            return fn(*a, **kw)
        return wrapped


def test_build_sync_compact_query_through_injected_catalog(
        spark, tiny_dir, tiny_queries, tmp_path):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.operators.topk import SearchEngine, get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    idx = str(tmp_path / "idx_seam")
    cat = SeamOnlyCatalog(ParquetCatalog(idx))
    IndexBuilder(idx, n_buckets=8, block_size=32, catalog=cat).build(
        spark, pages)
    assert "append" in cat.calls or "register_external" in cat.calls

    # sync one upsert + one delete through the same injected seam
    ups = spark.createDataFrame(
        [("insert", "https://new.example/a", dt.datetime(2026, 1, 1), None,
          "quick brown data flows through the new spark engine", "en"),
         ("delete", pages.select("url").first().url,
          dt.datetime(2026, 1, 2), None, None, None)],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    IncrementalIndexer(idx, catalog=cat).apply_updates(spark, ups)

    # reference build for result comparison (plain catalog, same ops)
    ref = str(tmp_path / "idx_ref")
    IndexBuilder(ref, n_buckets=8, block_size=32).build(spark, pages)
    IncrementalIndexer(ref).apply_updates(spark, ups)

    eng = SearchEngine(spark, idx, catalog=cat)
    ref_eng = get_engine(spark, ref)
    for r in tiny_queries.itertuples():
        a = eng.topk_wand(r.query_text, r.k)
        b = ref_eng.topk_wand(r.query_text, r.k)
        assert [(x.doc_id, round(x.score, 9)) for x in a.itertuples()] == \
            [(x.doc_id, round(x.score, 9)) for x in b.itertuples()], \
            r.query_text
    eng.close()

    # compaction through the seam, then re-query
    out = compact(spark, idx, catalog=SeamOnlyCatalog(ParquetCatalog(idx)))
    assert out["compacted"]
    eng = SearchEngine(spark, idx, catalog=SeamOnlyCatalog(ParquetCatalog(idx)))
    for r in tiny_queries.itertuples():
        a = eng.topk_wand(r.query_text, r.k)
        b = ref_eng.topk_wand(r.query_text, r.k)
        assert [(x.doc_id, round(x.score, 9)) for x in a.itertuples()] == \
            [(x.doc_id, round(x.score, 9)) for x in b.itertuples()]
    eng.close()


def test_injected_catalog_format_wipe_drops_tables(spark, tiny_dir,
                                                   tmp_path, monkeypatch):
    """A stale-format rebuild with an injected catalog must drop its
    tables through the seam (they may live outside index_dir)."""
    from mongoesindexer_spark.operators import build_index as bi
    from mongoesindexer_spark.sources.catalog import ParquetCatalog

    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    idx = str(tmp_path / "idx")
    cat = SeamOnlyCatalog(ParquetCatalog(idx))
    bi.IndexBuilder(idx, n_buckets=8, block_size=32, catalog=cat).build(
        spark, pages)
    # simulate a format bump → next build must wipe via the seam
    monkeypatch.setattr(bi, "INDEX_FORMAT_VERSION",
                        bi.INDEX_FORMAT_VERSION + 1)
    cat2 = SeamOnlyCatalog(ParquetCatalog(idx))
    bi.IndexBuilder(idx, n_buckets=8, block_size=32, catalog=cat2).build(
        spark, pages)
    assert "drop_table" in cat2.calls
    assert cat2.calls.count("drop_table") >= 5  # every live table dropped


# ---------------------------------------------------------------------------
# filesystem threading: the whole lifecycle through an EXPLICIT pyarrow
# FileSystem (control plane + data plane on the same fs — VERDICT wrong #2)
# ---------------------------------------------------------------------------


def test_lifecycle_through_explicit_filesystem(spark, tiny_dir, tiny_queries,
                                               tmp_path):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.operators.topk import SearchEngine, get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    fs = pafs.LocalFileSystem()
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    ups = spark.createDataFrame(
        [("insert", "https://new.example/a", dt.datetime(2026, 1, 1), None,
          "quick brown data flows through the new spark engine", "en"),
         ("delete", pages.select("url").first().url,
          dt.datetime(2026, 1, 2), None, None, None)],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")

    idx_fs = str(tmp_path / "idx_fs")
    IndexBuilder(idx_fs, n_buckets=8, block_size=32, filesystem=fs).build(
        spark, pages)
    IncrementalIndexer(idx_fs, filesystem=fs).apply_updates(spark, ups)
    out = compact(spark, idx_fs, filesystem=fs)
    assert out["compacted"]

    idx_os = str(tmp_path / "idx_os")
    IndexBuilder(idx_os, n_buckets=8, block_size=32).build(spark, pages)
    IncrementalIndexer(idx_os).apply_updates(spark, ups)
    compact(spark, idx_os)

    eng_fs = SearchEngine(spark, idx_fs,
                          catalog=ParquetCatalog(idx_fs, fs))
    eng_os = get_engine(spark, idx_os)
    assert eng_fs.n_docs == eng_os.n_docs
    for r in tiny_queries.itertuples():
        a = eng_fs.topk_wand(r.query_text, r.k)
        b = eng_os.topk_wand(r.query_text, r.k)
        assert [(x.doc_id, round(x.score, 9)) for x in a.itertuples()] == \
            [(x.doc_id, round(x.score, 9)) for x in b.itertuples()], \
            r.query_text
    eng_fs.close()


# ---------------------------------------------------------------------------
# search_after deep paging (the ES remedy the max_result_window cap names)
# ---------------------------------------------------------------------------


def test_search_after_pages_reconstruct_full_ranking(spark, tiny_index,
                                                     tiny_queries,
                                                     monkeypatch):
    """Paging with the previous page's last (score, doc_id) cursor must
    walk the exact full ranking, page by page, on every serving path and
    kernel (the ES search_after contract: strictly after the cursor in
    (score desc, doc_id asc) order, no skips, no repeats).

    The fan-out walk launches one Spark job per 3-hit page (~270 jobs),
    and a job's cost grows with its task count, so the fan-out is capped
    at 4 multi-file groups: still a cross-group merge of per-group
    cursors, with 4 tasks per page instead of 2 × defaultParallelism."""
    import pandas as pd

    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.topk import get_engine

    monkeypatch.setattr(topk_mod, "SEGMENT_MAX_GROUPS", 4)
    eng = get_engine(spark, tiny_index)
    groups = eng._segment_groups()
    assert len(groups) == 4 and any(len(g) > 1 for g in groups), \
        "fan-out is not a multi-group merge — test is vacuous"
    queries = list(tiny_queries["query_text"].head(4))
    for q in queries:
        for mode in ("or", "and"):
            for force in (dict(use_wand=True), dict(use_wand=False),
                          dict(use_segments=True)):
                full = eng.topk_wand(q, 1000, mode=mode, **force)
                pages, cursor = [], None
                for _ in range(400):
                    page = eng.topk_wand(q, 3, mode=mode,
                                         search_after=cursor, **force)
                    if not len(page):
                        break
                    pages.append(page)
                    cursor = (float(page.iloc[-1]["score"]),
                              int(page.iloc[-1]["doc_id"]))
                got = (pd.concat(pages, ignore_index=True) if pages
                       else full.iloc[:0])
                assert list(got["doc_id"]) == list(full["doc_id"]), \
                    (q, mode, force)
                assert list(got["score"]) == list(full["score"]), \
                    (q, mode, force)


def test_search_after_df_path(spark, tiny_index):
    """The analytics DataFrame path pages identically against its own
    cursors (same-path contract)."""
    from mongoesindexer_spark.operators.topk import get_engine

    eng = get_engine(spark, tiny_index)
    q = "data"
    full = [(r.doc_id, r.score) for r in eng.topk_df(q, 1000).collect()]
    got, cursor = [], None
    for _ in range(400):
        rows = eng.topk_df(q, 4, search_after=cursor).collect()
        if not rows:
            break
        got.extend((r.doc_id, r.score) for r in rows)
        cursor = (float(rows[-1].score), int(rows[-1].doc_id))
    assert got == full


# ---------------------------------------------------------------------------
# keyword term-query point-read serving (VERDICT r3 missing #3 / next #6)
# ---------------------------------------------------------------------------


def _kw_expected(spark, idx, field, value, normalized):
    """The Spark analytics path as the oracle for the serving path."""
    from mongoesindexer_spark.operators.keyword import keyword_match
    return sorted((r.doc_id, r.url) for r in
                  keyword_match(spark, idx, field, value,
                                normalized=normalized).collect())


def _kw_served(eng, field, value, normalized):
    pdf = eng.keyword_term(field, value, normalized=normalized, size=1000)
    return sorted(zip(pdf["doc_id"].astype(int), pdf["url"]))


def test_keyword_term_point_read_lifecycle(spark, tmp_path):
    """SearchEngine.keyword_term serves ES term queries from the
    value-sorted sidecar — identical results to the Spark path across
    build → sync (insert/update/delete) → compact, and WITHOUT launching
    a Spark job (the ES analog is an index read, not a scan job)."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.operators.topk import get_engine

    page_ddl = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
    pages = spark.createDataFrame([
        ("a", dt.datetime(2026, 1, 1), None, "alpha beta", "EN"),
        ("b", dt.datetime(2026, 1, 1), None, "beta gamma", "DÉ"),
        ("c", dt.datetime(2026, 1, 1), None, "gamma delta", "en"),
        ("d", dt.datetime(2026, 1, 1), None, "delta epsilon", "EN"),
    ], page_ddl)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, n_buckets=2, keyword_fields=("lang",)).build(
        spark, pages)

    cases = [("lang", "EN", False), ("lang", "en", True),
             ("lang", "DÉ", False), ("lang", "dé", True),
             ("lang", "nope", False)]
    eng = get_engine(spark, idx)
    for f, v, n in cases:
        assert _kw_served(eng, f, v, n) == _kw_expected(spark, idx, f, v, n)

    # normalized query value goes through the same analyzer chain
    assert _kw_served(eng, "lang", "DÉ", True) == \
        _kw_expected(spark, idx, "lang", "DÉ", True)
    assert len(_kw_served(eng, "lang", "de", True)) == 1  # asciifolded hit

    # the serving path must not launch Spark jobs
    sc = spark.sparkContext
    sc.setJobGroup("kw-point-read", "no jobs expected")
    try:
        eng.keyword_term("lang", "EN")
        eng.keyword_term("lang", "en", normalized=True)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "kw-point-read")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # sync: update flips b's lang, insert adds one, delete retires c —
    # tombstone masking + delta sidecar generations must serve correctly
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer
    upd = spark.createDataFrame([
        ("update", "b", dt.datetime(2026, 2, 1), None, "beta gamma two",
         "EN"),
        ("insert", "e", dt.datetime(2026, 2, 1), None, "epsilon zeta", "EN"),
        ("delete", "c", dt.datetime(2026, 2, 1), None, None, None),
    ], "op string, " + page_ddl)
    IncrementalIndexer(idx).apply_updates(spark, upd, batch_id="kw1")
    eng = get_engine(spark, idx)   # snapshot advanced → fresh engine
    for f, v, n in cases:
        assert _kw_served(eng, f, v, n) == _kw_expected(spark, idx, f, v, n)
    assert len(_kw_served(eng, "lang", "en", True)) == 4  # a,b,d,e

    # compact folds the sidecars clean; results unchanged
    assert compact(spark, idx)["compacted"]
    eng = get_engine(spark, idx)
    for f, v, n in cases:
        assert _kw_served(eng, f, v, n) == _kw_expected(spark, idx, f, v, n)

    # size bound (ES `size`): bounded, doc_id-asc determinism
    top2 = eng.keyword_term("lang", "en", normalized=True, size=2)
    assert list(top2["doc_id"]) == sorted(top2["doc_id"])[:2]

    # missing sidecar → loud error, not a silent scan
    with pytest.raises(KeyError, match="sidecar"):
        eng.keyword_term("title", "x")


def test_keyword_terms_multi_value(spark, tmp_path):
    """ES `terms` query: a list of values is an OR over exact matches,
    one hit per doc, doc_id asc — served by the same point read."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import get_engine

    page_ddl = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
    pages = spark.createDataFrame([
        ("a", dt.datetime(2026, 1, 1), None, "alpha beta", "EN"),
        ("b", dt.datetime(2026, 1, 1), None, "beta gamma", "fr"),
        ("c", dt.datetime(2026, 1, 1), None, "gamma delta", "DÉ"),
        ("d", dt.datetime(2026, 1, 1), None, "delta epsilon", "pt"),
    ], page_ddl)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, n_buckets=2, keyword_fields=("lang",)).build(
        spark, pages)
    eng = get_engine(spark, idx)
    hit = eng.keyword_term("lang", ["EN", "pt", "nope"], size=10)
    assert sorted(hit["url"]) == ["a", "d"]
    # normalized variant folds every query value; duplicates collapse
    hit = eng.keyword_term("lang", ["DE", "dé", "FR"], normalized=True)
    assert sorted(hit["url"]) == ["b", "c"]
    assert list(hit["doc_id"]) == sorted(hit["doc_id"])
    # after_doc_id pages the match set: size-1 pages chained on the last
    # doc_id reconstruct the full doc_id-asc match set with no repeats
    full = eng.keyword_term("lang", ["EN", "pt", "fr"], size=10)
    got, cursor = [], None
    for _ in range(10):
        page = eng.keyword_term("lang", ["EN", "pt", "fr"], size=1,
                                after_doc_id=cursor)
        if not len(page):
            break
        got.extend(page["doc_id"])
        cursor = int(page["doc_id"].iloc[-1])
    assert got == list(full["doc_id"]) and len(got) == 3


def test_keyword_sidecar_rolled_back_with_crashed_batch(spark, tmp_path):
    """The sidecar delta append is journaled like every other sync commit:
    a crash after the sidecar append but before sync_log must roll the
    sidecars back, or the replayed batch double-serves its docs."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    page_ddl = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
    pages = spark.createDataFrame(
        [("a", dt.datetime(2026, 1, 1), None, "alpha beta", "EN")], page_ddl)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, n_buckets=2, keyword_fields=("lang",)).build(
        spark, pages)
    upd = spark.createDataFrame(
        [("insert", "b", dt.datetime(2026, 2, 1), None, "beta gamma", "EN")],
        "op string, " + page_ddl)

    ixr = IncrementalIndexer(idx)
    orig = ParquetCatalog.append

    def exploding_append(self, df, table):
        snap = orig(self, df, table)
        if table.startswith("fields_by_"):
            raise RuntimeError("injected crash after sidecar append")
        return snap

    import pytest as _pytest
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetCatalog, "append", exploding_append)
        with _pytest.raises(RuntimeError, match="injected crash"):
            ixr.apply_updates(spark, upd, batch_id="crash1")

    # replay heals: recover() rolls the sidecar back, then the batch
    # re-applies — exactly one serving row for the new doc
    ixr.apply_updates(spark, upd, batch_id="crash1-retry")
    eng = get_engine(spark, idx)
    served = _kw_served(eng, "lang", "EN", False)
    assert served == _kw_expected(spark, idx, "lang", "EN", False)
    assert len(served) == 2


def test_builder_catalog_uses_builder_filesystem(tmp_path):
    """VERDICT wrong #2 regression pin: the default catalog and the
    builder must share one filesystem — a remote-fs build's snapshot log
    must land on the remote root, not the driver's local disk."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder

    fs = pafs.LocalFileSystem()
    b = IndexBuilder(str(tmp_path / "i"), filesystem=fs)
    assert b.catalog.filesystem is fs
