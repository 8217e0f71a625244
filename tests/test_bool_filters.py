"""ES bool filter-context CONJUNCTIONS (operators/topk.py `filters`
param): several filter/must_not clauses applied together — the full
`bool: {must: match, filter: [...], must_not: [...]}` shape — identical
through every serving path."""

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def bf_index(spark, tmp_path_factory):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-boolf"))
    rows = []
    for i in range(30):
        tag = f"t{i % 3}" if i % 4 != 0 else None
        lang = ("en", "fr", "es")[i % 5 % 3]
        pop = (i + 1) * 3 if i % 5 != 0 else None
        rows.append((f"u{i:02d}", "common " + ("extra " * (i % 3))
                     + f"w{i}", tag, lang, pop))
    df = spark.createDataFrame(
        rows, "url string, text string, tag string, lang string, pop long")
    IndexBuilder(d, n_buckets=2, block_size=8,
                 keyword_fields=("tag", "lang"),
                 numeric_fields=("pop",),
                 index_positions=True).build(spark, df)
    return d, rows


def _paths(eng, q, k, **kw):
    w = eng.topk_wand(q, k, **kw)
    e = eng.topk_wand(q, k, use_wand=False, **kw)
    s = eng.topk_wand(q, k, use_segments=True, **kw)
    d = eng.topk_df(q, k, **kw).toPandas()
    return w, e, s, d


def _check(eng, q, k, keep_ids, paths=_paths, **kw):
    base = eng.topk_wand(q, 100)
    want = base[base["doc_id"].isin(keep_ids)].head(k)
    assert len(want) > 0
    for got in paths(eng, q, k, **kw):
        assert [int(x) for x in got["doc_id"]] \
            == [int(x) for x in want["doc_id"]]
        assert [round(float(x), 9) for x in got["score"]] \
            == [round(float(x), 9) for x in want["score"]]


def test_two_positive_filters_conjunct(spark, bf_index):
    from mongoesindexer_spark.operators.topk import get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    keep = [i for i, r in enumerate(rows)
            if r[2] == "t1" and r[3] == "en"]
    _check(eng, "common extra", 10, keep,
           filters=[("tag", "t1"), ("lang", "en")])


def test_filter_plus_must_not(spark, bf_index):
    """The canonical real-world bool: a positive filter AND an
    exclusion, together."""
    from mongoesindexer_spark.operators.topk import MustNotClause, \
        get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    keep = [i for i, r in enumerate(rows)
            if r[3] == "en" and r[2] != "t1"]
    _check(eng, "common extra", 10, keep,
           filters=[("lang", "en"), ("tag", MustNotClause("t1"))])
    # legacy single-clause arg composes with the filters list too
    keep2 = [i for i, r in enumerate(rows)
             if r[3] == "en" and r[2] != "t1" and r[4] is not None]
    from mongoesindexer_spark.operators.topk import ExistsClause
    _check(eng, "common extra", 10, keep2,
           filter_field="lang", filter_value="en",
           filters=[("tag", MustNotClause("t1")),
                    ("pop", ExistsClause(kind="num"))])


def test_range_and_must_not_range(spark, bf_index):
    from mongoesindexer_spark.operators.topk import MustNotClause, \
        RangeClause, get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    keep = [i for i, r in enumerate(rows)
            if r[4] is not None and 9 <= r[4] <= 75
            and not (30 <= r[4] <= 45)]
    _check(eng, "common extra", 10, keep,
           filters=[("pop", RangeClause(9, 75)),
                    ("pop", MustNotClause(RangeClause(30, 45)))])


def test_phrase_with_filter_list(spark, bf_index):
    from mongoesindexer_spark.operators.topk import MustNotClause, \
        get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    base = eng.phrase_topk("common extra", 30)
    keep = {i for i, r in enumerate(rows)
            if r[3] == "en" and r[2] != "t1"}
    want = base[base["doc_id"].isin(keep)].head(10)
    assert len(want) > 0
    for seg in (False, True):
        got = eng.phrase_topk("common extra", 10, use_segments=seg,
                              filters=[("lang", "en"),
                                       ("tag", MustNotClause("t1"))])
        assert [int(x) for x in got["doc_id"]] \
            == [int(x) for x in want["doc_id"]], seg


def test_normalized_flag_per_clause(spark, bf_index):
    from mongoesindexer_spark.operators.topk import get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    keep = [i for i, r in enumerate(rows) if r[3] == "en"]
    # 3-tuple clause: (field, value, normalized) folds the query value
    _check(eng, "common extra", 10, keep,
           filters=[("lang", "EN", True)])


def _every_locus(eng, q, k, **kw):
    """Driver exhaustive, driver WAND, fan-out exhaustive, fan-out WAND
    and the Spark DataFrame path."""
    out = [eng.topk_wand(q, k, use_segments=seg, use_wand=wand, **kw)
           for seg in (False, True) for wand in (False, True)]
    return out + [eng.topk_df(q, k, **kw).toPandas()]


@pytest.mark.parametrize("query", [{"mode": "or"}, {"mode": "and"},
                                   {"min_should_match": 2}])
@pytest.mark.parametrize("clause", ["term", "terms", "range", "exists",
                                    "must_not"])
def test_every_locus_agrees_per_clause_and_mode(spark, bf_index, clause,
                                                query):
    from mongoesindexer_spark.operators.topk import ExistsClause, \
        MustNotClause, RangeClause, get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    field, value, match = {
        "term": ("lang", "en", lambda r: r[3] == "en"),
        "terms": ("tag", ["t0", "t2"], lambda r: r[2] in ("t0", "t2")),
        "range": ("pop", RangeClause(9, 60),
                  lambda r: r[4] is not None and 9 <= r[4] <= 60),
        "exists": ("pop", ExistsClause(kind="num"),
                   lambda r: r[4] is not None),
        "must_not": ("tag", MustNotClause("t1"), lambda r: r[2] != "t1"),
    }[clause]
    # "extra" is in docs i % 3 != 0, "common" in every doc: a doc
    # matching both terms keeps its OR score under and / msm=2
    both = query != {"mode": "or"}
    keep = [i for i, r in enumerate(rows)
            if match(r) and (i % 3 != 0 or not both)]
    _check(eng, "common extra", 10, keep, paths=_every_locus,
           filters=[(field, value)], **query)


def test_fanout_releases_every_broadcast(spark, bf_index, monkeypatch):
    """Each fanned-out query unpersists the broadcasts it made (tombstones,
    and the allowed_docs whitelist when one is given) — also on the early
    return for an empty whitelist — so a serving process stays flat."""
    from pyspark.broadcast import Broadcast

    from mongoesindexer_spark.operators.topk import get_engine
    d, rows = bf_index
    eng = get_engine(spark, d)
    sc = spark.sparkContext
    made, released = [], set()
    orig_broadcast, orig_unpersist = sc.broadcast, Broadcast.unpersist

    def broadcast(value):
        made.append(orig_broadcast(value))
        return made[-1]

    def unpersist(self, *a, **kw):
        released.add(id(self))
        return orig_unpersist(self, *a, **kw)

    monkeypatch.setattr(sc, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    assert len(eng.topk_wand("common extra", 5, use_segments=True)) > 0
    assert len(eng.topk_wand("common extra", 5, use_segments=True,
                             filters=[("lang", "en")])) > 0
    assert len(eng.phrase_topk("common extra", 5, use_segments=True,
                               allowed_docs=[1, 2, 4, 5])) > 0
    assert eng.phrase_topk("common extra", 5, use_segments=True,
                           allowed_docs=[]).empty
    # tombstones per query, plus the one non-empty whitelist
    assert len(made) == 4
    assert all(id(b) in released for b in made)
