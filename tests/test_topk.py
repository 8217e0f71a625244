"""Top-k BM25 correctness: rank-identical docIDs, scores within 1e-6 vs the
pure-Python oracle, for the whole reference query set; WAND == exhaustive.
"""

import numpy as np
import pytest

from mongoesindexer_spark.operators.topk import bm25_topk_df, bm25_topk_wand


def _assert_matches_oracle(got, want, qtext):
    """got: list[(doc_id, url, score)] — must be rank-identical to oracle."""
    assert len(got) == len(want), f"{qtext}: {len(got)} vs {len(want)} hits"
    for i, ((gd, gu, gs), (wd, wu, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"{qtext}: rank {i} doc {gd} != {wd}"
        assert gu == wu, f"{qtext}: rank {i} url"
        assert abs(gs - ws) < 1e-6, f"{qtext}: rank {i} score {gs} vs {ws}"


def test_bm25_df_matches_oracle_all_queries(spark, tiny_index, tiny_queries, oracle_tiny):
    for r in tiny_queries.itertuples():
        want = oracle_tiny.topk(r.query_text, r.k)
        got = [
            (row["doc_id"], row["url"], row["score"])
            for row in bm25_topk_df(spark, tiny_index, r.query_text, r.k).collect()
        ]
        _assert_matches_oracle(got, want, r.query_text)


def test_bm25_wand_matches_oracle_all_queries(spark, tiny_index, tiny_queries, oracle_tiny):
    for r in tiny_queries.itertuples():
        want = oracle_tiny.topk(r.query_text, r.k)
        pdf = bm25_topk_wand(spark, tiny_index, r.query_text, r.k)
        got = list(zip(pdf["doc_id"], pdf["url"], pdf["score"]))
        _assert_matches_oracle(got, want, r.query_text)


def test_empty_result_for_absent_term(spark, tiny_index, oracle_tiny):
    assert bm25_topk_df(spark, tiny_index, "zzzzmissingterm", 10).count() == 0
    assert len(bm25_topk_wand(spark, tiny_index, "zzzzmissingterm", 10)) == 0


def test_conjunctive_mode(spark, tiny_index, oracle_tiny):
    """AND semantics (J6): every hit contains every query term."""
    q = "the of"  # two head-ish terms
    hits = bm25_topk_df(spark, tiny_index, q, 1000, mode="and").collect()
    terms = set()
    from mongoesindexer_spark.functions.analysis import analyze_search
    terms = set(analyze_search(q))
    for h in hits:
        for t in terms:
            plist = oracle_tiny.postings.get(t, {})
            assert h["doc_id"] in plist, f"doc {h['doc_id']} missing term {t}"


# ---------------------------------------------------------------------------
# segment-parallel (distributed) WAND — the head-term scale path
# ---------------------------------------------------------------------------


def test_segment_fanout_matches_driver_path(spark, tiny_index, tiny_queries):
    """Per-segment top-k + driver merge must be rank-identical to the
    driver-side WAND for every fixture query (doc-disjoint segments ⇒
    the global top-k is the top-k of per-group top-ks)."""
    from mongoesindexer_spark.operators.topk import get_engine

    eng = get_engine(spark, tiny_index)
    for r in tiny_queries.itertuples():
        drv = eng.topk_wand(r.query_text, r.k, use_segments=False)
        seg = eng.topk_wand(r.query_text, r.k, use_segments=True)
        assert [(x.doc_id, round(x.score, 9)) for x in drv.itertuples()] == \
            [(x.doc_id, round(x.score, 9)) for x in seg.itertuples()], \
            r.query_text


def test_segment_fanout_never_reads_blocks_driver_side(spark, tiny_index):
    """The scale path must not materialize candidate blocks in the driver:
    only term_dict point reads and the ≤k-per-group merge rows cross."""
    from mongoesindexer_spark.operators.topk import SearchEngine, get_engine

    eng = get_engine(spark, tiny_index)
    orig = SearchEngine._read_filtered

    def guarded(self, table, terms, columns=None):
        assert table != "postings_blocks", \
            "segment fan-out fetched candidate blocks into the driver"
        return orig(self, table, terms, columns)

    SearchEngine._read_filtered = guarded
    try:
        out = eng.topk_wand("the quick data", 5, use_segments=True)
        assert len(out) > 0
    finally:
        SearchEngine._read_filtered = orig


def test_segment_fanout_with_delta_segments(spark, tiny_dir, tmp_path):
    """After incremental sync (term-bucketed delta snapshot dirs), the
    group split must keep each delta batch whole — per-file splitting
    would split a doc's terms across tasks and mis-score it."""
    import os
    import datetime as dt
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import get_engine
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    idx = str(tmp_path / "idx")
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(idx, n_buckets=8, block_size=32).build(spark, pages)
    ups = spark.createDataFrame(
        [("insert", "https://new.example/a", dt.datetime(2026, 1, 1), None,
          "quick brown data flows through the new spark engine quick data", "en")],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    IncrementalIndexer(idx).apply_updates(spark, ups)
    eng = get_engine(spark, idx)
    for q, k in [("quick data", 10), ("the", 20), ("spark engine", 5)]:
        drv = eng.topk_wand(q, k, use_segments=False)
        seg = eng.topk_wand(q, k, use_segments=True)
        assert [(x.doc_id, round(x.score, 9)) for x in drv.itertuples()] == \
            [(x.doc_id, round(x.score, 9)) for x in seg.itertuples()], q


def test_conjunctive_wand_matches_df_all_paths(spark, tiny_index,
                                               tiny_queries):
    """mode="and" must rank identically across every execution path:
    exhaustive DataFrame (topk_df), block-kernel exhaustive, zig-zag
    conjunctive WAND, and segment fan-out (J6 on the scale path)."""
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, tiny_index)
    for r in tiny_queries.itertuples():
        q, k = r.query_text, int(r.k)
        want = [(row["doc_id"], round(row["score"], 9))
                for row in bm25_topk_df(spark, tiny_index, q, k,
                                        mode="and").collect()]
        for kw in ({"use_wand": True}, {"use_wand": False},
                   {"use_segments": True}):
            pdf = eng.topk_wand(q, k, mode="and", **kw)
            got = [(int(d), round(float(s), 9))
                   for d, s in zip(pdf["doc_id"], pdf["score"])]
            assert got == want, (q, kw)


def test_conjunctive_empty_when_term_absent(spark, tiny_index):
    """A query term absent from the index ⇒ conjunctive result is empty on
    every path (matches topk_df, whose n_terms count can't be reached)."""
    from mongoesindexer_spark.operators.topk import get_engine
    q = "the zzzzmissingterm"
    assert bm25_topk_df(spark, tiny_index, q, 10, mode="and").count() == 0
    eng = get_engine(spark, tiny_index)
    for kw in ({"use_wand": True}, {"use_segments": True}):
        assert len(eng.topk_wand(q, 10, mode="and", **kw)) == 0


def test_concurrent_queries_thread_safe(spark, tiny_index, tiny_queries):
    """A serving process answers queries from many threads against ONE
    cached engine: the LRU caches mutate on every hit and must be locked.
    8 threads × the whole query mix (or/and/suggest) on a COLD engine —
    every result must equal the single-threaded answer, no exceptions."""
    import threading

    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.topk import get_engine

    # force a cold engine so threads race the cache-fill paths
    topk_mod._ENGINES.pop(tiny_index, None)
    eng = get_engine(spark, tiny_index)

    jobs = [(r.query_text, int(r.k), mode)
            for r in tiny_queries.itertuples() for mode in ("or", "and")]
    want = {(q, k, m): [(int(d), round(float(s), 9)) for d, s in
                        zip(*[eng.topk_wand(q, k, mode=m)[c]
                              for c in ("doc_id", "score")])]
            for q, k, m in jobs}
    want_suggest = list(eng.suggest("th", 5)["term"])

    topk_mod._ENGINES.pop(tiny_index, None)
    eng = get_engine(spark, tiny_index)          # cold again
    errors: list[BaseException] = []

    def _worker(offset: int) -> None:
        try:
            for q, k, m in jobs[offset:] + jobs[:offset]:
                got = [(int(d), round(float(s), 9)) for d, s in
                       zip(*[eng.topk_wand(q, k, mode=m)[c]
                             for c in ("doc_id", "score")])]
                assert got == want[(q, k, m)], (q, m)
            assert list(eng.suggest("th", 5)["term"]) == want_suggest
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=_worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[0]


def test_conjunctive_with_delta_segments(spark, tiny_dir, tmp_path):
    """mode="and" across all execution paths on an index that has BOTH
    base and delta segments (a doc's terms span one group; intersections
    partition across doc-disjoint groups even with deltas present)."""
    import os
    import datetime as dt
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.topk import bm25_topk_df, get_engine
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    idx = str(tmp_path / "idx")
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(idx, n_buckets=8, block_size=32).build(spark, pages)
    ups = spark.createDataFrame(
        [("insert", "https://new.example/a", dt.datetime(2026, 1, 1), None,
          "quick brown data flows through the new spark engine quick data",
          "en")],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    IncrementalIndexer(idx).apply_updates(spark, ups)
    eng = get_engine(spark, idx)
    for q, k in [("quick data", 10), ("the data", 20), ("spark engine", 5)]:
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                bm25_topk_df(spark, idx, q, k, mode="and").collect()]
        for kw in ({"use_wand": True}, {"use_wand": False},
                   {"use_segments": True}):
            pdf = eng.topk_wand(q, k, mode="and", **kw)
            got = [(int(d), round(float(s), 9))
                   for d, s in zip(pdf["doc_id"], pdf["score"])]
            assert got == want, (q, kw)


def test_block_lru_keeps_the_querys_own_terms(spark, tiny_index,
                                              oracle_tiny, monkeypatch):
    """A full block LRU must not evict a cached term of the query it is
    answering: the term would silently drop out of scoring.  Term a is
    cached by an earlier query, then a query on a plus two uncached terms
    overfills a 2-term cache."""
    import mongoesindexer_spark.operators.topk as topk_mod
    from mongoesindexer_spark.functions.analysis import analyze_search
    monkeypatch.setattr(topk_mod, "BLOCK_CACHE_TERMS", 2)
    a, b, c = sorted(t for t, ds in oracle_tiny.postings.items()
                     if len(ds) >= 3 and analyze_search(t) == [t])[:3]
    eng = topk_mod.SearchEngine(spark, tiny_index)
    try:
        eng.topk_wand(a, 10, use_segments=False)
        q = f"{a} {b} {c}"
        got = eng.topk_wand(q, 50, use_segments=False)
        want = bm25_topk_df(spark, tiny_index, q, 50).collect()
        assert [(int(d), round(float(s), 9))
                for d, s in zip(got["doc_id"], got["score"])] == \
            [(r["doc_id"], round(r["score"], 9)) for r in want]
    finally:
        eng.close()


def test_engine_cache_is_bounded(spark, tiny_index, tmp_path):
    """get_engine keeps at most ENGINE_CACHE_SIZE engines and closes each
    one it evicts, so a process that opens many indexes holds a bounded
    number of fds; an evicted engine a caller kept reopens its files on
    its next query and answers as before."""
    import os
    import shutil

    from mongoesindexer_spark.operators import topk as topk_mod
    from mongoesindexer_spark.operators.topk import get_engine

    cap = topk_mod.ENGINE_CACHE_SIZE
    q = "udrndau lda"
    dirs = []
    for i in range(cap + 6):
        dirs.append(str(tmp_path / f"idx{i}"))
        shutil.copytree(tiny_index, dirs[-1])
    held = get_engine(spark, dirs[0])
    want = held.topk_wand(q, 10)
    fds = []
    for d in dirs[1:]:
        get_engine(spark, d).topk_wand(q, 10)
        assert len(topk_mod._ENGINES) <= cap
        fds.append(len(os.listdir("/proc/self/fd")))
    assert dirs[0] not in topk_mod._ENGINES
    # each tiny engine holds ~19 fds: once the cache is full, five more
    # opens must not grow the process's fd count by more than a few
    assert fds[-1] - fds[cap - 1] <= 8, fds
    got = held.topk_wand(q, 10)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["score"]) == list(want["score"])
    for d in dirs:
        eng = topk_mod._ENGINES.pop(d, None)
        if eng is not None:
            eng.close()
    held.close()
