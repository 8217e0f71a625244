"""ES simple_query_string (operators/query_string.py): parser, mixed
must/should/not scoring incl. quoted phrases, default_operator, and
driver-kernel vs DataFrame loci parity — against a pure-python brute
force on a controlled positional corpus."""

import numpy as np
import pytest


def test_parser():
    from mongoesindexer_spark.operators.query_string import \
        parse_simple_query_string as p
    assert p("data +query -merge") == [
        ("should", "data", False), ("must", "query", False),
        ("not", "merge", False)]
    assert p('alpha +"big data" -"bad apple"') == [
        ("should", "alpha", False), ("must", "big data", True),
        ("not", "bad apple", True)]
    # and-default promotes bare tokens to must
    assert p("a b", default_operator="and") == [
        ("must", "a", False), ("must", "b", False)]
    # forgiving: lone +/-, unterminated quote
    assert p("+ -") == []
    assert p('x "unterminated ph') == [
        ("should", "x", False), ("should", "unterminated ph", True)]
    with pytest.raises(ValueError):
        p("x", default_operator="xor")


@pytest.fixture(scope="module")
def qs_index(spark, tmp_path_factory):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-qs"))
    rows = []
    for i in range(30):
        body = ["common"]
        if i % 2 == 0:
            body += ["alpha"]
        if i % 3 == 0:
            body += ["beta", "gamma"]        # phrase "beta gamma"
        if i % 3 == 1:
            body += ["beta", "x", "gamma"]   # words, no phrase
        if i % 5 == 0:
            body += ["nope"]
        body += ["w" + chr(97 + i // 10) + chr(97 + i % 10)]
        rows.append((f"u{i:02d}", " ".join(body)))
    df = spark.createDataFrame(rows, "url string, text string")
    IndexBuilder(d, n_buckets=2, block_size=8,
                 index_positions=True).build(spark, df)
    return d, rows


def _brute(rows, must, should, nots, must_phrases=(), k=10):
    from tests.oracle import OracleIndex
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    pdf["html"] = None
    oi = OracleIndex.build(pdf)
    n = len(rows)
    out = []
    for d in range(n):
        toks = rows[d][1].split()
        if any(t not in toks for t in must):
            continue
        if any(t in toks for t in nots):
            continue
        pscores = []
        skip = False
        for ph in must_phrases:
            ptf = oi.phrase_freq(list(ph), d)
            if ptf == 0:
                skip = True
                break
            dl = oi.doc_len[d]
            tfn = ptf * 2.2 / (ptf + 1.2 * (1 - 0.75 + 0.75 * dl
                                            / oi.avgdl))
            pscores.append(sum(oi.idf(t) for t in ph) * tfn)
        if skip:
            continue
        scored = set(must) | set(should)
        if not must and not must_phrases and \
                not any(t in toks for t in scored):
            continue
        s = oi.score(" ".join(sorted(scored)), d) + sum(pscores)
        if s > 0:
            out.append((s, d))
    out.sort(key=lambda x: (-x[0], x[1]))
    return out[:k]


def test_terms_only_matches_bruteforce_and_loci_agree(spark, qs_index):
    from mongoesindexer_spark.operators.query_string import (
        simple_query_string_df, simple_query_string_topk)
    d, rows = qs_index
    q = "alpha +common -nope"
    got = simple_query_string_topk(spark, d, q, 10)
    want = _brute(rows, ["common"], ["alpha"], ["nope"])
    assert [int(x) for x in got["doc_id"]] == [i for _, i in want]
    for g, (w, _) in zip(got["score"], want):
        assert abs(g - w) < 1e-9
    dfp = simple_query_string_df(spark, d, q, 10).toPandas()
    assert [int(x) for x in dfp["doc_id"]] == [int(x) for x in
                                               got["doc_id"]]
    assert np.allclose(dfp["score"], got["score"])


def test_or_default_and_and_default(spark, qs_index):
    from mongoesindexer_spark.operators.query_string import (
        simple_query_string_df, simple_query_string_topk)
    d, rows = qs_index
    # OR default: union of matchers, minimum_should_match=1
    got = simple_query_string_topk(spark, d, "alpha nope", 30)
    want = _brute(rows, [], ["alpha", "nope"], [], k=30)
    assert [int(x) for x in got["doc_id"]] == [i for _, i in want]
    # AND default: both required
    gand = simple_query_string_topk(spark, d, "alpha nope", 30,
                                    default_operator="and")
    wand = _brute(rows, ["alpha", "nope"], [], [], k=30)
    assert [int(x) for x in gand["doc_id"]] == [i for _, i in wand]
    dand = simple_query_string_df(spark, d, "alpha nope", 30,
                                  default_operator="and").toPandas()
    assert [int(x) for x in dand["doc_id"]] == [i for _, i in wand]


def test_phrase_clauses(spark, qs_index):
    from mongoesindexer_spark.operators.query_string import \
        simple_query_string_topk
    d, rows = qs_index
    # must-phrase: only i%3==0 docs carry adjacent "beta gamma"
    got = simple_query_string_topk(spark, d, 'alpha +"beta gamma"', 30)
    want = _brute(rows, [], ["alpha"], [], must_phrases=[("beta",
                                                          "gamma")],
                  k=30)
    assert len(got) > 0
    assert [int(x) for x in got["doc_id"]] == [i for _, i in want]
    for g, (w, _) in zip(got["score"], want):
        assert abs(g - w) < 1e-9
    # not-phrase: excluded docs drop, word-separated docs survive
    ex = simple_query_string_topk(spark, d, '+alpha -"beta gamma"', 30)
    bad = {i for i in range(len(rows)) if i % 3 == 0}
    assert set(int(x) for x in ex["doc_id"]).isdisjoint(bad)
    assert any(int(x) % 3 == 1 for x in ex["doc_id"])


def test_guards(spark, qs_index):
    from mongoesindexer_spark.operators.query_string import (
        simple_query_string_df, simple_query_string_topk)
    d, rows = qs_index
    # dead must term ⇒ empty, not error
    assert simple_query_string_topk(spark, d, "+zzznope alpha", 5).empty
    with pytest.raises(ValueError, match="term clauses only"):
        simple_query_string_df(spark, d, '+"beta gamma"', 5)
    # Σdf over the cutoff with phrases raises; term-only falls back
    import mongoesindexer_spark.operators.topk as tk
    orig = tk.SEGMENT_FANOUT_CUTOFF
    tk.SEGMENT_FANOUT_CUTOFF = 1
    try:
        with pytest.raises(ValueError, match="driver candidate budget"):
            simple_query_string_topk(spark, d, '+common "beta gamma"', 5)
        fb = simple_query_string_topk(spark, d, "alpha +common -nope", 5)
        want = _brute(rows, ["common"], ["alpha"], ["nope"], k=5)
        assert [int(x) for x in fb["doc_id"]] == [i for _, i in want]
    finally:
        tk.SEGMENT_FANOUT_CUTOFF = orig


def test_match_bool_prefix(spark, qs_index):
    """Term clauses score BM25; the prefix clause adds constant 1.0 for
    docs containing ANY expansion (Lucene constant_score rewrite)."""
    from tests.oracle import OracleIndex
    import pandas as pd
    from mongoesindexer_spark.operators.query_string import \
        match_bool_prefix_topk
    d, rows = qs_index
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    pdf["html"] = None
    oi = OracleIndex.build(pdf)

    def brute(q, operator="or", k=30):
        *full, prefix = q.split()
        out = []
        for i, (_, t) in enumerate(rows):
            toks = t.split()
            pref_hit = any(x.startswith(prefix) for x in toks)
            if operator == "and":
                if not pref_hit or any(f not in toks for f in full):
                    continue
            else:
                if not pref_hit and not any(f in toks for f in full):
                    continue
            s = oi.score(" ".join(sorted(set(full))), i) \
                + (1.0 if pref_hit else 0.0)
            out.append((s, i))
        out.sort(key=lambda x: (-x[0], x[1]))
        return out[:k]

    for q, op in [("alpha bet", "or"), ("alpha bet", "and"),
                  ("gam", "or"), ("common nope gam", "and")]:
        got = match_bool_prefix_topk(spark, d, q, 30, operator=op)
        want = brute(q, op)
        assert [int(x) for x in got["doc_id"]] == [i for _, i in want], \
            (q, op)
        for g, (w, _) in zip(got["score"], want):
            assert abs(g - w) < 1e-9, (q, op)
    # dead prefix: OR still ranks the term matchers; AND is empty
    got = match_bool_prefix_topk(spark, d, "alpha zzz", 10)
    assert len(got) > 0 and all(int(x) % 2 == 0 for x in got["doc_id"])
    assert match_bool_prefix_topk(spark, d, "alpha zzz", 10,
                                  operator="and").empty
    import pytest as _pt
    with _pt.raises(ValueError):
        match_bool_prefix_topk(spark, d, "a b", 5, operator="nor")


@pytest.fixture(scope="module")
def ts_index(spark, tmp_path_factory):
    """Docs carry a per-doc required-match count (ES
    minimum_should_match_field): doc i requires i%4 matches and
    contains a varying subset of the query terms."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-termsset"))
    rows = []
    for i in range(24):
        body = ["base"]
        if i % 2 == 0:
            body.append("red")
        if i % 3 == 0:
            body.append("green")
        if i % 5 == 0:
            body.append("blue")
        req = i % 4 if i != 12 else None      # one NULL threshold
        rows.append((f"u{i:02d}",
                     " ".join(body) + " w" + chr(97 + i), req))
    df = spark.createDataFrame(rows, "url string, text string, req long")
    IndexBuilder(d, n_buckets=2, block_size=8,
                 numeric_fields=("req",)).build(spark, df)
    return d, rows


def test_terms_set(spark, ts_index):
    from tests.oracle import OracleIndex
    import pandas as pd
    from mongoesindexer_spark.operators.query_string import terms_set_topk
    d, rows = ts_index
    pdf = pd.DataFrame([(u, t) for u, t, _ in rows],
                       columns=["url", "text"])
    pdf["html"] = None
    oi = OracleIndex.build(pdf)
    terms = ["red", "green", "blue"]

    def brute(clamp):
        out = []
        for i, (_, t, req) in enumerate(rows):
            if req is None:
                continue
            toks = t.split()
            n = sum(1 for x in terms if x in toks)
            need = min(req, len(terms)) if clamp else req
            if n >= need:
                s = oi.score(" ".join(terms), i)
                out.append((s, i))
        out.sort(key=lambda x: (-x[0], x[1]))
        return out[:30]

    for clamp in (False, True):
        got = terms_set_topk(spark, d, terms, "req", 30,
                             clamp=clamp).toPandas()
        want = brute(clamp)
        assert [int(x) for x in got["doc_id"]] == [i for _, i in want], \
            clamp
        for g, (w, _) in zip(got["score"], want):
            assert abs(g - w) < 1e-9
    # req=0 docs match with zero hits?  no — they carry no matched term
    # rows in the scan, so they never reach the aggregate (ES likewise
    # only considers docs matching >= 1 term clause)
    got = terms_set_topk(spark, d, terms, "req", 30).toPandas()
    assert 12 not in set(int(x) for x in got["doc_id"])   # NULL req
    with pytest.raises(ValueError):
        terms_set_topk(spark, d, [], "req", 5)


def test_parser_never_throws_property():
    """ES contract: simple_query_string NEVER fails on syntax — fuzz
    the parser with arbitrary text (quotes, operators, unicode)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from mongoesindexer_spark.operators.query_string import \
        parse_simple_query_string

    @given(st.text(max_size=200))
    @settings(max_examples=300, deadline=None)
    def run(q):
        for op in ("or", "and"):
            for kind, text, is_phrase in parse_simple_query_string(q, op):
                assert kind in ("must", "should", "not")
                assert text.strip()
                assert isinstance(is_phrase, bool)

    run()


def test_match_bool_prefix_budget_guard(spark, qs_index):
    """The prefix clause enforces the driver Σdf budget the module doc
    promises — a too-broad prefix raises with the completion-table
    pointer instead of decoding unbounded postings driver-side."""
    import mongoesindexer_spark.operators.topk as tk
    from mongoesindexer_spark.operators.query_string import \
        match_bool_prefix_topk
    d, rows = qs_index
    orig = tk.SEGMENT_FANOUT_CUTOFF
    tk.SEGMENT_FANOUT_CUTOFF = 1
    try:
        with pytest.raises(ValueError, match="completion table"):
            match_bool_prefix_topk(spark, d, "alpha bet", 5)
    finally:
        tk.SEGMENT_FANOUT_CUTOFF = orig


def test_match_bool_prefix_budget_counts_term_clauses(spark, qs_index,
                                                      monkeypatch):
    """The term clauses' df counts toward the same driver budget as the
    prefix expansions: a cutoff the prefix alone stays under still
    refuses once the full-term clause is added."""
    import mongoesindexer_spark.operators.topk as tk
    from mongoesindexer_spark.operators.query_string import \
        match_bool_prefix_topk
    d, rows = qs_index
    pref_df = sum(any(w.startswith("bet") for w in t.split())
                  for _, t in rows)
    monkeypatch.setattr(tk, "SEGMENT_FANOUT_CUTOFF", pref_df + 1)
    assert len(match_bool_prefix_topk(spark, d, "bet", 5)) == 5
    with pytest.raises(ValueError, match="driver candidate budget"):
        match_bool_prefix_topk(spark, d, "common bet", 5)
