"""Phrase queries (ES match_phrase, slop=0) over positional postings.

The reference's text mappings inherit Lucene's ``index_options:
positions`` default, and ES serves match_phrase from them; the engine
analog is ``IndexBuilder(index_positions=True)`` + ``SearchEngine
.phrase_topk`` (operators/topk.py).  Pinned here:

* the position-aware analyzer emits the SAME token stream as the plain
  one, with non-decreasing source-token positions (property test);
* position streams round-trip through the block encode (property test);
* phrase top-k is rank-identical (scores within 1e-6) to the pure-Python
  positional oracle, on the driver kernel AND the segment fan-out path;
* phrase results survive incremental sync + compaction (merged view ==
  from-scratch rebuild);
* filter context / search_after compose with phrase;
* a positions-less index refuses phrase queries loudly.
"""

import os

import numpy as np
import pandas as pd
import pytest

from mongoesindexer_spark.functions.analysis import (LTD_DOC, analyze_index,
                                                     analyze_index_pos)
from mongoesindexer_spark.operators.build_index import IndexBuilder
from mongoesindexer_spark.operators.topk import bm25_phrase_topk, get_engine
from tests.oracle import OracleIndex


def _phrases_from_corpus(oracle: OracleIndex, tiny_pages, n: int = 12):
    """Bigrams + trigrams that actually occur in the corpus, plus a few
    that cannot match."""
    rng = np.random.default_rng(7)
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    out = []
    for i in rng.choice(len(rows), size=min(n, len(rows)), replace=False):
        text = rows.iloc[int(i)]["text"]
        if not isinstance(text, str):
            continue
        toks = analyze_index(text, LTD_DOC)
        if len(toks) < 3:
            continue
        j = int(rng.integers(0, len(toks) - 2))
        out.append(" ".join(toks[j:j + 2]))
        out.append(" ".join(toks[j:j + 3]))
    out += ["zzz yyy", "the zzzmissing"]
    return out


def _assert_rank_identical(got: pd.DataFrame, want, label: str):
    assert len(got) == len(want), f"{label}: {len(got)} vs {len(want)}"
    for i, ((wd, wu, ws), row) in enumerate(zip(want, got.itertuples())):
        assert row.doc_id == wd, f"{label}: rank {i} doc {row.doc_id} != {wd}"
        assert row.url == wu, f"{label}: rank {i} url"
        assert abs(row.score - ws) < 1e-6, f"{label}: rank {i} score"


def test_phrase_matches_oracle(spark, tiny_index_pos, tiny_pages, oracle_tiny):
    for q in _phrases_from_corpus(oracle_tiny, tiny_pages):
        want = oracle_tiny.phrase_topk(q, 10)
        got = bm25_phrase_topk(spark, tiny_index_pos, q, 10)
        _assert_rank_identical(got, want, q)


def test_phrase_segment_path_identical(spark, tiny_index_pos, tiny_pages,
                                       oracle_tiny):
    """The distributed (ES-shard-style) locus returns the same ranking as
    the driver kernel — per-group phrase matches partition the global
    match set because segments are doc-disjoint."""
    eng = get_engine(spark, tiny_index_pos)
    for q in _phrases_from_corpus(oracle_tiny, tiny_pages, n=5):
        a = eng.phrase_topk(q, 10)
        b = eng.phrase_topk(q, 10, use_segments=True)
        pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                      b.reset_index(drop=True))


def test_phrase_freq_scoring_repeated_occurrence(spark, tmp_path):
    """A doc holding the phrase twice outscores an equal-length doc
    holding it once (tf = phrase_freq, not term tf)."""
    docs = [("u1", "alpha beta gamma alpha beta delta x"),
            ("u2", "alpha beta gamma delta alpha x beta")]
    df = spark.createDataFrame(docs, "url string, text string")
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_buckets=2, index_positions=True).build(spark, df)
    got = bm25_phrase_topk(spark, d, "alpha beta", 10)
    assert list(got["url"]) == ["u1", "u2"]
    assert got.iloc[0]["score"] > got.iloc[1]["score"]


def test_phrase_repeated_term_in_phrase(spark, tmp_path, tiny_pages):
    """Phrases with repeated terms ("be or be") verify every offset of the
    repeated term and sum its idf twice."""
    docs = [("u1", "to be or not to be that is"),
            ("u2", "be or to not be to that is")]
    df = spark.createDataFrame(docs, "url string, text string")
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_buckets=2, index_positions=True).build(spark, df)
    oracle = OracleIndex.build(
        pd.DataFrame({"url": [u for u, _ in docs],
                      "text": [t for _, t in docs],
                      "html": [None, None]}))
    q = "to be or not to be"
    want = oracle.phrase_topk(q, 10)
    got = bm25_phrase_topk(spark, d, q, 10)
    _assert_rank_identical(got, want, q)
    assert list(got["url"]) == ["u1"]


def test_phrase_survives_sync_and_compaction(spark, tmp_path):
    """Delta docs carry positions; tombstoned docs drop out; compaction
    re-slices the streams — the merged view stays rank-identical to a
    from-scratch positional rebuild on the live corpus."""
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    base = [("u1", "red fox runs fast", "b"),
            ("u2", "red fox sleeps", "b"),
            ("u3", "fox red fox red", "b")]
    df = spark.createDataFrame([(u, t) for u, t, _ in base],
                               "url string, text string")
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_buckets=2, index_positions=True).build(spark, df)
    # update u2 to CONTAIN the phrase, insert u4 with it, delete u3
    import datetime as _dt
    ts = _dt.datetime(2026, 1, 1)
    upd = spark.createDataFrame(
        [("update", "u2", ts, None, "now a red fox appears", "en"),
         ("insert", "u4", ts, None, "a second red fox here red fox", "en"),
         ("delete", "u3", None, None, None, None)],
        "op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    inc = IncrementalIndexer(d)
    assert inc.positions is True
    inc.apply_updates(spark, upd, batch_id="b1")

    live = pd.DataFrame({
        "url": ["u1", "u2", "u4"],
        "text": ["red fox runs fast", "now a red fox appears",
                 "a second red fox here red fox"],
        "html": [None, None, None]})
    # doc_ids differ (sync assigns fresh ids above the old max; the
    # rebuilt oracle ranks urls from 0) but stats are delta-exact, so
    # urls and scores must match rank-for-rank
    oracle = OracleIndex.build(live)
    want = oracle.phrase_topk("red fox", 10)
    got = bm25_phrase_topk(spark, d, "red fox", 10)
    assert set(u for _, u, _ in want) == {"u1", "u2", "u4"}
    assert want[0][1] == "u4"   # sanity: u4 holds the phrase twice
    assert list(got["url"]) == [u for _, u, _ in want]
    for (wd, wu, ws), row in zip(want, got.itertuples()):
        assert abs(row.score - ws) < 1e-6

    compact(spark, d)
    got2 = bm25_phrase_topk(spark, d, "red fox", 10)
    assert list(got2["url"]) == list(got["url"])
    for a, b in zip(got["score"], got2["score"]):
        assert abs(a - b) < 1e-9


def test_phrase_filter_context_and_paging(spark, tmp_path):
    from mongoesindexer_spark.operators.topk import get_engine

    rows = [(f"u{i}", "find the exact phrase here",
             "en" if i % 2 == 0 else "de") for i in range(8)]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_buckets=2, index_positions=True,
                 keyword_fields=("lang",)).build(spark, df)
    eng = get_engine(spark, d)
    full = eng.phrase_topk("exact phrase", 100)
    assert len(full) == 8
    filt = eng.phrase_topk("exact phrase", 100, filter_field="lang",
                           filter_value="en")
    assert len(filt) == 4 and all(u in {"u0", "u2", "u4", "u6"}
                                  for u in filt["url"])
    # paging: two pages of 3 reproduce the head of the full list
    p1 = eng.phrase_topk("exact phrase", 3)
    cur = (float(p1.iloc[-1]["score"]), int(p1.iloc[-1]["doc_id"]))
    p2 = eng.phrase_topk("exact phrase", 3, search_after=cur)
    paged = list(p1["doc_id"]) + list(p2["doc_id"])
    assert paged == list(full["doc_id"][:6])


def test_phrase_refuses_nonpositional(spark, tiny_index):
    with pytest.raises(ValueError, match="without positions"):
        bm25_phrase_topk(spark, tiny_index, "the quick", 5)


def test_phrase_empty_and_absent(spark, tiny_index_pos):
    eng = get_engine(spark, tiny_index_pos)
    assert len(eng.phrase_topk("", 5)) == 0
    assert len(eng.phrase_topk("zzzzmissing alsomissing", 5)) == 0


def test_phrase_kernel_bruteforce_random_corpus():
    """Spark-free: the block-pruned vectorized kernel == an obviously
    correct O(docs × len) scan over a 2000-doc random corpus, including
    head-term phrases (block pruning must not change results) and
    repeated-term phrases."""
    from mongoesindexer_spark.functions.encode import (bm25_idf,
                                                       encode_blocks,
                                                       encode_positions_rows)
    from mongoesindexer_spark.operators.topk import phrase_topk_arrays

    rng = np.random.default_rng(3)
    n_docs = 2000
    avgdl = 12.0
    vocab = ["the", "quick", "brown", "fox", "dog", "run"]
    docs_tokens = [list(rng.choice(vocab, size=rng.integers(5, 20)))
                   for _ in range(n_docs)]
    post: dict[str, dict[int, list[int]]] = {}
    for d, toks in enumerate(docs_tokens):
        for p, t in enumerate(toks):
            post.setdefault(t, {}).setdefault(d, []).append(p)
    by_term, idf = {}, {}
    for t, m in post.items():
        ds = np.array(sorted(m), dtype=np.int64)
        tfs = np.array([len(m[d]) for d in ds])
        dls = np.array([len(docs_tokens[d]) for d in ds])
        flat = np.concatenate([np.array(m[d]) for d in ds])
        pos = encode_positions_rows(flat, np.cumsum(tfs))
        by_term[t] = encode_blocks(ds, tfs, dls, avgdl, block_size=64,
                                   pos=pos)
        idf[t] = float(bm25_idf(len(ds), n_docs))

    def brute(terms, k):
        idf_sum = sum(idf[t] for t in terms)
        out = []
        for d, toks in enumerate(docs_tokens):
            ptf = sum(1 for i in range(len(toks) - len(terms) + 1)
                      if all(toks[i + j] == terms[j]
                             for j in range(len(terms))))
            if ptf:
                dl = len(toks)
                out.append((idf_sum * ptf * 2.2
                            / (ptf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
                            d))
        out.sort(key=lambda x: (-x[0], x[1]))
        return out[:k]

    for phrase in ["the quick", "quick brown fox", "the the",
                   "fox dog run", "run run run"]:
        terms = phrase.split()
        want = brute(terms, 15)
        got = phrase_topk_arrays(terms, idf, by_term, avgdl, 15)
        assert len(got) == len(want)
        for (ws, wd), (gs, gd) in zip(want, got):
            assert wd == gd and abs(ws - gs) < 1e-9


# ---------------------------------------------------------------------------
# property tests: analyzer positions + position-stream round trip
# ---------------------------------------------------------------------------


def test_analyze_pos_stream_identity_and_monotone():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongoesindexer_spark.functions.analysis import KEYWORD

    token = st.one_of(
        st.sampled_from(["WiFi", "state-of-the-art", "IC-01/04", "café",
                         "the", "o'clock", "x"]),
        st.text(alphabet="abzAZ019'-_é/", min_size=1, max_size=8),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(token, max_size=12), st.sampled_from([LTD_DOC, KEYWORD]))
    def check(tokens, cfg):
        text = " ".join(tokens)
        toks, poss = analyze_index_pos(text, cfg)
        assert toks == analyze_index(text, cfg)
        assert len(poss) == len(toks)
        assert poss == sorted(poss)
        assert all(0 <= p < max(1, len(text.split())) for p in poss)

    check()


def test_position_stream_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongoesindexer_spark.functions.encode import (
        decode_positions_block, encode_positions_rows)

    run = st.lists(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=20).map(sorted)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(run, min_size=1, max_size=30))
    def check(runs):
        flat = np.array([x for r in runs for x in r], dtype=np.int64)
        ends = np.cumsum([len(r) for r in runs])
        enc = encode_positions_rows(flat, ends)
        assert len(enc) == len(runs)
        # concatenated block stream splits back by tf
        tfs = np.array([len(r) for r in runs], dtype=np.int64)
        f2, e2 = decode_positions_block(b"".join(enc), tfs)
        assert f2.tolist() == flat.tolist()
        assert e2.tolist() == ends.tolist()
        # any sub-slice of postings is independently decodable
        # (compaction re-slices streams by surviving docs)
        sub = enc[1::2]
        if sub:
            f3, _ = decode_positions_block(
                b"".join(sub), tfs[1::2])
            assert f3.tolist() == [x for r in runs[1::2] for x in r]

    check()


def test_phrase_slop_kernel_bruteforce_random_corpus():
    """slop > 0 (in-order window rule, span_near in_order analog): the
    vectorized displacement DP == a brute force that enumerates every
    admissible displacement tuple, over a 1500-doc random corpus."""
    import itertools

    from mongoesindexer_spark.functions.encode import (bm25_idf,
                                                       encode_blocks,
                                                       encode_positions_rows)
    from mongoesindexer_spark.operators.topk import phrase_topk_arrays

    rng = np.random.default_rng(11)
    n_docs = 1500
    avgdl = 10.0
    vocab = ["a", "b", "c", "d"]
    docs_tokens = [list(rng.choice(vocab, size=rng.integers(4, 16)))
                   for _ in range(n_docs)]
    post: dict[str, dict[int, list[int]]] = {}
    for d, toks in enumerate(docs_tokens):
        for p, t in enumerate(toks):
            post.setdefault(t, {}).setdefault(d, []).append(p)
    by_term, idf = {}, {}
    for t, m in post.items():
        ds = np.array(sorted(m), dtype=np.int64)
        tfs = np.array([len(m[d]) for d in ds])
        dls = np.array([len(docs_tokens[d]) for d in ds])
        flat = np.concatenate([np.array(m[d]) for d in ds])
        pos = encode_positions_rows(flat, np.cumsum(tfs))
        by_term[t] = encode_blocks(ds, tfs, dls, avgdl, block_size=32,
                                   pos=pos)
        idf[t] = float(bm25_idf(len(ds), n_docs))

    def brute(terms, slop, k):
        n = len(terms)
        idf_sum = sum(idf[t] for t in terms)
        out = []
        for d, toks in enumerate(docs_tokens):
            starts = set()
            for p in range(len(toks)):
                if toks[p] != terms[0]:
                    continue
                for es in itertools.product(range(slop + 1), repeat=n - 1):
                    if any(es[i] > es[i + 1] for i in range(len(es) - 1)):
                        continue   # displacements must be non-decreasing
                    if all(p + j + es[j - 1] < len(toks)
                           and toks[p + j + es[j - 1]] == terms[j]
                           for j in range(1, n)):
                        starts.add(p)
                        break
            if starts:
                ptf = len(starts)
                dl = len(toks)
                out.append((idf_sum * ptf * 2.2
                            / (ptf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
                            d))
        out.sort(key=lambda x: (-x[0], x[1]))
        return out[:k]

    for phrase, slop in [("a b", 1), ("a b", 2), ("a b c", 1),
                         ("a b c", 3), ("a a", 2), ("b d", 0)]:
        terms = phrase.split()
        want = brute(terms, slop, 12)
        got = phrase_topk_arrays(terms, idf, by_term, avgdl, 12, slop=slop)
        assert len(got) == len(want), (phrase, slop)
        for (ws, wd), (gs, gd) in zip(want, got):
            assert wd == gd and abs(ws - gs) < 1e-9


def test_phrase_prefix_matches_bruteforce(spark, tiny_index_pos,
                                          tiny_pages, oracle_tiny):
    """match_phrase_prefix == brute force over the oracle's position
    index (fixed terms contiguous, ANY prefix expansion at the last
    slot, distinct starts; idf_sum over fixed + every expansion)."""
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, tiny_index_pos)
    oi = oracle_tiny
    # pick a (bigram) seed: a term that actually precedes some other
    # term, then query "<first> <one-char prefix of a follower>"
    first = sorted(t for t, ds in oi.postings.items() if len(ds) >= 5)[0]
    followers = set()
    for d, ps in oi.positions[first].items():
        for t2, dmap in oi.positions.items():
            if d in dmap and any(p + 1 in dmap[d] for p in ps):
                followers.add(t2)
    assert followers
    # 3-char prefix keeps the true follower inside the max_expansions
    # cap on this 4k-term vocabulary
    prefix = sorted(f for f in followers if len(f) >= 3)[0][:3]
    q = f"{first} {prefix}"

    exps = sorted(t for t in oi.postings if t.startswith(prefix))[:50]
    idf_sum = oi.idf(first) + sum(oi.idf(e) for e in exps)
    want = []
    for d in oi.doc_len:
        ps = oi.positions.get(first, {}).get(d, [])
        starts = {p for p in ps
                  if any(p + 1 in oi.positions.get(e, {}).get(d, [])
                         for e in exps)}
        if not starts:
            continue
        tf = len(starts)
        dl = oi.doc_len[d]
        tfn = tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / oi.avgdl))
        want.append((idf_sum * tfn, d))
    want.sort(key=lambda x: (-x[0], x[1]))
    assert want, "seed produced no phrase-prefix matches"

    got = eng.phrase_prefix_topk(q, 15)
    assert [int(x) for x in got["doc_id"]] == [d for _, d in want[:15]]
    for gs, (ws, _) in zip(got["score"], want):
        assert abs(gs - ws) < 1e-6


def test_phrase_prefix_expansion_cap_and_validation(spark, tiny_index_pos,
                                                    oracle_tiny):
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, tiny_index_pos)
    # cap=1: only the term-sorted FIRST expansion participates
    oi = oracle_tiny
    first = sorted(t for t, ds in oi.postings.items() if len(ds) >= 5)[0]
    got_all = eng.phrase_prefix_topk(f"{first} a", 50)
    got_one = eng.phrase_prefix_topk(f"{first} a", 50, max_expansions=1)
    assert len(got_one) <= len(got_all)
    # unmatched prefix -> empty frame
    assert eng.phrase_prefix_topk(f"{first} zzzzqqq", 5).empty


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.integers(0, 5000), st.integers(1, 4), st.integers(2, 30))
@settings(max_examples=60, deadline=None)
def test_union_positions_block_property(seed, n_terms, n_docs):
    """_union_positions_block == brute-force merge on random positional
    corpora: doc-sorted posting union, per-doc DISTINCT sorted position
    union, tf = position count, dl carried through."""
    from mongoesindexer_spark.functions.encode import (
        encode_blocks, encode_positions_rows)
    from mongoesindexer_spark.operators.topk import (
        _block_arrays, _block_positions, _union_positions_block)

    rng = np.random.RandomState(seed)
    doc_lens = rng.randint(4, 40, size=n_docs).astype(np.int64)
    avgdl = float(doc_lens.mean())
    blocks = []
    brute: dict[int, set] = {}
    for _t in range(n_terms):
        df = rng.randint(1, n_docs + 1)
        docs = np.sort(rng.choice(n_docs, size=df,
                                  replace=False)).astype(np.int64)
        row_ends, flat = [], []
        for d in docs:
            npos = rng.randint(1, min(4, doc_lens[d]) + 1)
            ps = np.sort(rng.choice(doc_lens[d], size=npos,
                                    replace=False)).astype(np.int64)
            flat.extend(int(p) for p in ps)
            row_ends.append(len(flat))
            brute.setdefault(int(d), set()).update(int(p) for p in ps)
        tfs = np.diff(np.array([0] + row_ends)).astype(np.int64)
        pos_rows = encode_positions_rows(
            np.array(flat, dtype=np.int64),
            np.array(row_ends, dtype=np.int64))
        blocks.extend(encode_blocks(docs, tfs, doc_lens[docs], avgdl,
                                    block_size=8, pos=pos_rows))
    u = _union_positions_block(blocks)
    udocs, utfs, udls = _block_arrays(u)
    uflat, uends = _block_positions(u)
    want_docs = sorted(brute)
    assert udocs.tolist() == want_docs
    assert u["n"] == len(want_docs)
    assert u["first_doc"] == want_docs[0] and u["last_doc"] == want_docs[-1]
    for i, d in enumerate(want_docs):
        s = int(uends[i - 1]) if i else 0
        assert uflat[s:int(uends[i])].tolist() == sorted(brute[d])
        assert int(utfs[i]) == len(brute[d])
        assert int(udls[i]) == int(doc_lens[d])
