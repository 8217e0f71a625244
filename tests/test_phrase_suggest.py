"""ES phrase suggester (operators/suggest.py): Stupid-Backoff bigram
re-ranking of single-slot corrections vs a pure-python brute force on a
controlled positional corpus."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def ps_index(spark, tmp_path_factory):
    """Corpus engineered so the bigram model disambiguates: 'spark' and
    'spare' are both 1 edit from 'sparc', with similar unigram mass,
    but 'apache spark' is a frequent bigram while 'apache spare' never
    occurs."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-psuggest"))
    rows = []
    for i in range(30):
        if i % 3 == 0:
            body = "apache spark engine runs apache spark jobs"
        elif i % 3 == 1:
            body = "spare parts spare tyre in the garage"
        else:
            body = "apache httpd serves spare pages quickly"
        # pure-letter filler (digits would word_delimiter-split and
        # desync the test's plain whitespace tokenization)
        filler = "w" + chr(97 + i // 10) + chr(97 + i % 10)
        rows.append((f"u{i:02d}", body + " " + filler))
    df = spark.createDataFrame(rows, "url string, text string")
    IndexBuilder(d, n_buckets=2, block_size=8,
                 index_positions=True).build(spark, df)
    return d, rows


def _brute_pair_cf(rows, a, b):
    n = 0
    for _, t in rows:
        ts = t.lower().split()
        n += sum(1 for x, y in zip(ts, ts[1:]) if x == a and y == b)
    return n


def _brute_cf(rows, w):
    return sum(t.lower().split().count(w) for _, t in rows)


def test_pair_cf_exact(spark, ps_index):
    from mongoesindexer_spark.operators.suggest import pair_cf
    from mongoesindexer_spark.operators.topk import get_engine
    d, rows = ps_index
    eng = get_engine(spark, d)
    for a, b in [("apache", "spark"), ("apache", "spare"),
                 ("spare", "parts"), ("spark", "engine"),
                 ("nosuch", "spark"), ("spark", "spark")]:
        assert pair_cf(eng, a, b) == _brute_pair_cf(rows, a, b), (a, b)


def test_phrase_suggest_bigram_disambiguates(spark, ps_index):
    """'apache sparc' must correct to 'apache spark' (bigram evidence),
    not 'apache spare' (similar unigram mass, zero bigram)."""
    from mongoesindexer_spark.operators.suggest import phrase_suggest
    d, rows = ps_index
    got = phrase_suggest(spark, d, "apache sparc", size=3)
    assert not got.empty
    assert got["suggestion"].iloc[0] == "apache spark"
    # both candidates surfaced; bigram-backed one strictly outranks
    sugg = dict(zip(got["suggestion"], got["score"]))
    if "apache spare" in sugg:
        assert sugg["apache spark"] > sugg["apache spare"]
    # big_cf column carries the exact corpus bigram count
    row = got[got["suggestion"] == "apache spark"].iloc[0]
    assert row["big_cf"] == _brute_pair_cf(rows, "apache", "spark")
    assert row["cand_cf"] == _brute_cf(rows, "spark")


def test_phrase_suggest_matches_bruteforce_scores(spark, ps_index):
    from mongoesindexer_spark.operators.suggest import (BACKOFF_ALPHA,
                                                        phrase_suggest)
    d, rows = ps_index
    total = sum(len(t.lower().split()) for _, t in rows)

    def brute_score(toks):
        s = _brute_cf(rows, toks[0]) / total
        for a, b in zip(toks, toks[1:]):
            cf2 = _brute_pair_cf(rows, a, b) if _brute_cf(rows, a) else 0
            if cf2 > 0:
                s *= cf2 / _brute_cf(rows, a)
            else:
                s *= BACKOFF_ALPHA * _brute_cf(rows, b) / total
        return s

    got = phrase_suggest(spark, d, "apache sparc", size=10)
    for r in got.itertuples():
        assert abs(r.score - brute_score(r.suggestion.split())) < 1e-12

    # 3-token input, middle-slot correction chains two bigrams
    got3 = phrase_suggest(spark, d, "apache sparc engine", size=5)
    assert not got3.empty
    assert got3["suggestion"].iloc[0] == "apache spark engine"
    for r in got3.itertuples():
        assert abs(r.score - brute_score(r.suggestion.split())) < 1e-12


def test_phrase_suggest_modes_and_guards(spark, ps_index):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    from mongoesindexer_spark.operators.suggest import phrase_suggest
    d, rows = ps_index
    # missing mode: a fully in-vocabulary input yields no suggestions
    assert phrase_suggest(spark, d, "apache spark").empty
    # always mode: in-vocab slots correct too (real-word errors)
    alw = phrase_suggest(spark, d, "apache spark", size=5,
                         suggest_mode="always", confidence=0.0)
    assert (alw["suggestion"] != "apache spark").all()
    # collate drops corrections whose touching bigrams never occur
    col = phrase_suggest(spark, d, "apache sparc", size=10, collate=True)
    assert set(col["suggestion"]) == {"apache spark"}
    with pytest.raises(ValueError):
        phrase_suggest(spark, d, "x", suggest_mode="phrase")
    with pytest.raises(ValueError):
        phrase_suggest(spark, d, "x", size=0)
    # positions are required
    import os
    d2 = d + "-nopos"
    if not os.path.exists(d2):
        df = spark.createDataFrame(rows, "url string, text string")
        IndexBuilder(d2, n_buckets=2, block_size=8,
                     index_positions=False).build(spark, df)
    with pytest.raises(ValueError, match="positions"):
        phrase_suggest(spark, d2, "apache sparc")


def test_pair_cf_budget_backoff(spark, ps_index):
    """Over-budget pairs return 0 (the LM's backoff leg) instead of
    decoding head-term blocks driver-side."""
    import mongoesindexer_spark.operators.topk as tk
    from mongoesindexer_spark.operators.suggest import pair_cf
    from mongoesindexer_spark.operators.topk import get_engine
    d, rows = ps_index
    eng = get_engine(spark, d)
    eng._pair_cf_cache = {}
    orig = tk.SEGMENT_FANOUT_CUTOFF
    tk.SEGMENT_FANOUT_CUTOFF = 1
    try:
        assert pair_cf(eng, "apache", "spark") == 0
    finally:
        tk.SEGMENT_FANOUT_CUTOFF = orig
        eng._pair_cf_cache = {}


def test_pair_cf_cache_is_bounded(spark, ps_index, monkeypatch):
    """The bigram memo is an LRU of TD_CACHE_TERMS pairs: more distinct
    pairs than the bound keep it at the bound, holding the most recent
    ones with exact counts; close() empties it."""
    import mongoesindexer_spark.operators.topk as tk
    from mongoesindexer_spark.operators.suggest import pair_cf
    d, rows = ps_index
    eng = tk.SearchEngine(spark, d)
    monkeypatch.setattr(tk, "TD_CACHE_TERMS", 3)
    pairs = [("apache", "spark"), ("apache", "spare"), ("spare", "parts"),
             ("spark", "engine"), ("spare", "tyre"), ("apache", "httpd")]
    for i, (a, b) in enumerate(pairs):
        assert pair_cf(eng, a, b) == _brute_pair_cf(rows, a, b)
        assert len(eng._pair_cf_cache) == min(i + 1, 3)
    assert list(eng._pair_cf_cache) == pairs[-3:]
    # a hit refreshes recency: the oldest survivor outlives the next miss
    assert pair_cf(eng, *pairs[3]) == _brute_pair_cf(rows, *pairs[3])
    pair_cf(eng, "spark", "jobs")
    assert list(eng._pair_cf_cache) == [pairs[5], pairs[3],
                                        ("spark", "jobs")]
    eng.close()
    assert eng._pair_cf_cache == {}
