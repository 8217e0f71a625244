"""Search aggregations (ES query+aggs, operators/aggs.py): terms agg and
stats agg over the FULL hit set, vs pandas brute force on the tiny
fixture (keyword sub-field index)."""

import os

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def agg_index(spark, tiny_dir, tmp_path_factory):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-aggs"))
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(d, n_buckets=8, block_size=32,
                 keyword_fields=("lang",)).build(spark, pages)
    return d


def _hit_set(oracle, query, mode="or", msm=None):
    from mongoesindexer_spark.functions.analysis import analyze_search
    terms = sorted(set(analyze_search(query, oracle.cfg)))
    counts = {}
    for t in terms:
        for d in oracle.postings.get(t, {}):
            counts[d] = counts.get(d, 0) + 1
    if mode == "and":
        return {d for d, c in counts.items() if c == len(terms)}
    if msm is not None:
        return {d for d, c in counts.items() if c >= msm}
    return set(counts)


def test_terms_agg_matches_bruteforce(spark, agg_index, tiny_pages,
                                      oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    got = search_terms_agg(eng, q, "lang", size=5).toPandas()

    hits = _hit_set(oracle_tiny, q)
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    langs = rows["lang"]
    vc = {}
    for d in hits:
        v = langs.iloc[d]
        if v is not None and not pd.isna(v):
            vc[v] = vc.get(v, 0) + 1
    want = sorted(vc.items(), key=lambda x: (-x[1], x[0]))[:5]
    assert list(zip(got["value"], got["doc_count"])) == want


def test_terms_agg_modes(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import match_set
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq kni"
    for mode, msm in (("and", None), ("or", 2)):
        got = {r["doc_id"] for r in
               match_set(eng, q, mode=mode,
                         min_should_match=msm).collect()}
        assert got == _hit_set(oracle_tiny, q, mode=mode, msm=msm)


def test_stats_agg_matches_bruteforce(spark, agg_index, tiny_pages,
                                      oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_stats_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": rows["text"].map(
            lambda t: len(t) if isinstance(t, str) else 0).astype("int64"),
    }))
    got = search_stats_agg(eng, docs, q, "n_chars").toPandas().iloc[0]
    hits = sorted(_hit_set(oracle_tiny, q))
    vals = [len(rows["text"].iloc[d]) if isinstance(rows["text"].iloc[d], str)
            else 0 for d in hits]
    assert int(got["count"]) == len(vals)
    assert int(got["min"]) == min(vals) and int(got["max"]) == max(vals)
    assert int(got["sum"]) == sum(vals)
    assert abs(float(got["avg"]) - sum(vals) / len(vals)) < 1e-9


def test_histogram_agg_matches_bruteforce(spark, agg_index, tiny_pages,
                                          oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_histogram_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": rows["text"].map(
            lambda t: len(t) if isinstance(t, str) else 0).astype("int64"),
    }))
    got = search_histogram_agg(eng, docs, q, "n_chars", 50).toPandas()
    hits = _hit_set(oracle_tiny, q)
    vc = {}
    for d in hits:
        t = rows["text"].iloc[d]
        b = (len(t) if isinstance(t, str) else 0) // 50 * 50
        vc[b] = vc.get(b, 0) + 1
    want = sorted(vc.items())
    assert list(zip(got["bucket"], got["doc_count"])) == want
    import pytest as _pt
    with _pt.raises(ValueError):
        search_histogram_agg(eng, docs, q, "n_chars", 0)


def test_sort_by_field_matches_bruteforce(spark, agg_index, tiny_pages,
                                          oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_sort_by_field
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    hits = _hit_set(oracle_tiny, q)
    for asc in (True, False):
        got = search_sort_by_field(eng, docs, q, "n_chars", 7,
                                   ascending=asc).toPandas()
        want = sorted(((int(nchars.iloc[d]), d) for d in hits),
                      key=lambda x: (x[0] if asc else -x[0], x[1]))[:7]
        assert list(zip(got["n_chars"], got["doc_id"])) == want


def test_cardinality_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_cardinality_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    hits = _hit_set(oracle_tiny, q)
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    langs = {rows["lang"].iloc[d] for d in hits}
    want = len({v for v in langs if v is not None and not pd.isna(v)})

    got = search_cardinality_agg(eng, q, "lang").toPandas()
    assert int(got["cardinality"].iloc[0]) == want
    # HLL++ scale path: small-cardinality sketches are exact in practice,
    # but the contract is only the rsd bound — assert that
    approx = int(search_cardinality_agg(eng, q, "lang", exact=False,
                                        rsd=0.05)
                 .toPandas()["cardinality"].iloc[0])
    assert abs(approx - want) <= max(1, int(0.2 * want))


def test_date_histogram_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_date_histogram_agg
    from mongoesindexer_spark.operators.topk import get_engine
    import datetime
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    base = datetime.datetime(2024, 1, 1)
    stamps = [base + datetime.timedelta(days=int(d) * 17 % 365)
              for d in range(len(rows))]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64), "ts": stamps}))
    got = search_date_histogram_agg(eng, docs, q, "ts", "month").toPandas()
    hits = _hit_set(oracle_tiny, q)
    vc = {}
    for d in hits:
        b = stamps[d].strftime("%Y-%m-01")
        vc[b] = vc.get(b, 0) + 1
    assert list(zip(got["bucket"], got["doc_count"])) == sorted(vc.items())
    with pytest.raises(ValueError):
        search_date_histogram_agg(eng, docs, q, "ts", "fortnight")


def test_top_hits_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_top_hits_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    got = search_top_hits_agg(eng, docs, q, "lang", "n_chars",
                              hits_per_bucket=2).toPandas()
    hits = _hit_set(oracle_tiny, q)
    buckets = {}
    for d in hits:
        v = rows["lang"].iloc[d]
        if v is None or pd.isna(v):
            continue
        buckets.setdefault(v, []).append((-int(nchars.iloc[d]), d))
    want = []
    for b in sorted(buckets):
        for r, (_, d) in enumerate(sorted(buckets[b])[:2], start=1):
            want.append((b, r, d))
    assert [tuple(x) for x in got[["bucket", "rank", "doc_id"]]
            .itertuples(index=False)] == want
    with pytest.raises(ValueError):
        search_top_hits_agg(eng, docs, q, "lang", "n_chars",
                            hits_per_bucket=0)


def test_percentiles_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_percentiles_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    ps = (0.25, 0.5, 0.9)
    got = search_percentiles_agg(eng, docs, q, "n_chars", ps).toPandas()
    vals = np.array(sorted(int(nchars.iloc[d])
                           for d in _hit_set(oracle_tiny, q)))
    for p, col in zip(ps, got.columns):
        # numpy 'linear' interpolation == Spark percentile == quantile_cont
        assert float(got[col].iloc[0]) == pytest.approx(
            float(np.percentile(vals, p * 100)), abs=1e-9)
    with pytest.raises(ValueError):
        search_percentiles_agg(eng, docs, q, "n_chars", (1.5,))


def test_filters_agg(spark, agg_index, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_filters_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    got = search_filters_agg(eng, {
        "both": (q, "and"), "either": (q, "or")}).toPandas()
    want = [("both", len(_hit_set(oracle_tiny, q, mode="and"))),
            ("either", len(_hit_set(oracle_tiny, q)))]
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    with pytest.raises(ValueError):
        search_filters_agg(eng, {})


def test_filters_agg_disjoint_and_dead_buckets(spark, agg_index,
                                               oracle_tiny):
    """Single-pass filters agg: buckets with different term sets stay
    independent; a bucket whose query has no live terms counts 0."""
    from mongoesindexer_spark.operators.aggs import search_filters_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    got = search_filters_agg(eng, {
        "a": ("udrndau", "or"), "b": ("atreq kni", "and"),
        "dead": ("zzznotaterm", "or")}).toPandas()
    want = [("a", len(_hit_set(oracle_tiny, "udrndau"))),
            ("b", len(_hit_set(oracle_tiny, "atreq kni", mode="and"))),
            ("dead", 0)]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_terms_metric_subagg_matches_bruteforce(spark, agg_index,
                                                tiny_pages, oracle_tiny):
    """ES terms + metric sub-aggs: per-bucket avg/sum/min/max of a
    numeric column, doc_count per bucket, ES bucket order."""
    from mongoesindexer_spark.operators.aggs import search_terms_metric_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    got = search_terms_metric_agg(
        eng, docs, q, "lang", "n_chars",
        metrics=("avg", "sum", "min", "max"), size=5).toPandas()
    hits = _hit_set(oracle_tiny, q)
    by_lang = {}
    for d in hits:
        lg = rows["lang"].iloc[d]
        if lg is None or pd.isna(lg):
            continue
        by_lang.setdefault(lg, []).append(int(nchars.iloc[d]))
    want = sorted(((lg, vs) for lg, vs in by_lang.items()),
                  key=lambda x: (-len(x[1]), x[0]))[:5]
    assert list(got["value"]) == [lg for lg, _ in want]
    for r, (_, vs) in zip(got.itertuples(), want):
        assert r.doc_count == len(vs)
        assert abs(r.avg_n_chars - sum(vs) / len(vs)) < 1e-9
        assert r.sum_n_chars == sum(vs)
        assert r.min_n_chars == min(vs)
        assert r.max_n_chars == max(vs)
    with pytest.raises(ValueError):
        search_terms_metric_agg(eng, docs, q, "lang", "n_chars",
                                metrics=("median",))


def test_range_agg_matches_bruteforce(spark, agg_index, tiny_pages,
                                      oracle_tiny):
    """ES range agg: from-inclusive / to-exclusive, open ends,
    overlapping ranges allowed, every declared bucket returned (empty
    ⇒ 0), NULL values ignored."""
    from mongoesindexer_spark.operators.aggs import search_range_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    vals = pd.Series([None if i % 7 == 0 else
                      len(rows["text"].iloc[i] or "")
                      for i in range(len(rows))], dtype="Int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "nv": vals,
    }))
    ranges = [(None, 300.0), (250.0, 400.0), (400.0, None),
              (10_000.0, None)]           # overlap + guaranteed-empty
    got = search_range_agg(eng, docs, q, "nv", ranges).toPandas()
    hits = _hit_set(oracle_tiny, q)
    hv = [int(vals.iloc[d]) for d in hits if not pd.isna(vals.iloc[d])]
    want = [("*-300.0", sum(1 for v in hv if v < 300)),
            ("250.0-400.0", sum(1 for v in hv if 250 <= v < 400)),
            ("400.0-*", sum(1 for v in hv if v >= 400)),
            ("10000.0-*", 0)]
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    assert want[-1][1] == 0
    with pytest.raises(ValueError):
        search_range_agg(eng, docs, q, "nv", [])


def test_significant_terms_loci_agree(spark, agg_index, oracle_tiny,
                                      monkeypatch):
    """The driver-broadcast fast path and the distributed semi-join
    shape return identical buckets (the cutoff only moves the locus)."""
    import mongoesindexer_spark.operators.topk as topk_mod
    from mongoesindexer_spark.operators.aggs import \
        search_significant_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    n = len(oracle_tiny.doc_len)
    q = sorted(t for t, ds in oracle_tiny.postings.items()
               if 5 <= len(ds) <= n // 4)[0]
    fast = search_significant_terms_agg(eng, q, size=8).toPandas()
    monkeypatch.setattr(topk_mod, "SEGMENT_FANOUT_CUTOFF", 1)
    dist = search_significant_terms_agg(eng, q, size=8).toPandas()
    assert list(fast["term"]) == list(dist["term"])
    assert list(fast["fg_df"]) == list(dist["fg_df"])
    assert list(fast["bg_df"]) == list(dist["bg_df"])
    assert np.allclose(fast["score"], dist["score"])


def test_significant_terms_msm_same_on_both_loci(spark, agg_index,
                                                 monkeypatch):
    """minimum_should_match is validated, and applied, the same way on
    the driver hit-id path and the distributed match_set path."""
    import mongoesindexer_spark.operators.topk as topk_mod
    from mongoesindexer_spark.operators.aggs import \
        search_significant_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq kni"
    out, errs = [], []
    for cutoff in (topk_mod.SEGMENT_FANOUT_CUTOFF, 1):
        monkeypatch.setattr(topk_mod, "SEGMENT_FANOUT_CUTOFF", cutoff)
        out.append(search_significant_terms_agg(
            eng, q, size=8, min_should_match=2).toPandas())
        with pytest.raises(ValueError) as e:
            search_significant_terms_agg(eng, q, mode="and",
                                         min_should_match=2)
        errs.append(str(e.value))
    fast, dist = out
    assert len(fast) > 0
    assert list(fast["term"]) == list(dist["term"])
    assert list(fast["fg_df"]) == list(dist["fg_df"])
    assert np.allclose(fast["score"], dist["score"])
    assert errs[0] == errs[1]


def test_filters_agg_single_scan_plan(spark, agg_index):
    """The filters agg reads postings ONCE regardless of bucket count
    (union-term pushed scan + conditional per-bucket counts) — N named
    filters must not appear as N parquet scans."""
    import contextlib
    import io
    from mongoesindexer_spark.operators.aggs import search_filters_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    df = search_filters_agg(eng, {
        "a": ("udrndau", "or"), "b": ("atreq kni", "and"),
        "c": ("lda", "or"), "d": ("fiut zfaj", "or")})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan


def test_significant_terms_fast_path_plan_shape(spark, agg_index,
                                                oracle_tiny):
    """Kernel-bounded locus: the fg postings scan carries a PUSHED
    doc_id range filter and joins the broadcast hit ids (no shuffled
    semi-join of the corpus-sized postings side)."""
    import contextlib
    import io
    from mongoesindexer_spark.operators.aggs import \
        search_significant_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    n = len(oracle_tiny.doc_len)
    q = sorted(t for t, ds in oracle_tiny.postings.items()
               if 5 <= len(ds) <= n // 4)[0]
    df = search_significant_terms_agg(eng, q, size=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the doc_id BETWEEN bounds reach the parquet scan
    assert "GreaterThanOrEqual(doc_id" in plan, plan
    assert "LessThanOrEqual(doc_id" in plan, plan
    # the hit-id side is broadcast into a semi join — the postings scan
    # feeds a BroadcastHashJoin, never a shuffled semi join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin LeftSemi" not in plan, plan
    assert "ShuffledHashJoin LeftSemi" not in plan, plan


def test_composite_agg_pages_cover_bucket_space(spark, agg_index,
                                                tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_composite_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    hits = _hit_set(oracle_tiny, q)
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    vc = {}
    for d in hits:
        v = rows["lang"].iloc[d]
        if v is not None and not pd.isna(v):
            vc[v] = vc.get(v, 0) + 1
    want = sorted(vc.items())

    # walk the bucket space in size-2 pages via after-keys
    pages, after = [], None
    while True:
        page = search_composite_agg(eng, q, "lang", size=2,
                                    after=after).toPandas()
        if page.empty:
            break
        pages += [tuple(r) for r in page.itertuples(index=False)]
        after = page["bucket"].iloc[-1]
    assert pages == want
    with pytest.raises(ValueError):
        search_composite_agg(eng, q, "lang", size=0)


def test_composite_multi_source_pages(spark, tiny_pages, oracle_tiny,
                                      tmp_path_factory, spark_two_kw):
    from mongoesindexer_spark.operators.aggs import search_composite_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, spark_two_kw)
    q = "udrndau atreq"
    hits = _hit_set(oracle_tiny, q)
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    vc = {}
    for d in hits:
        lv, uv = rows["lang"].iloc[d], rows["url"].iloc[d][:4]
        if lv is None or pd.isna(lv):
            continue
        vc[(lv, uv)] = vc.get((lv, uv), 0) + 1
    want = sorted(vc.items())

    pages, after = [], None
    while True:
        page = search_composite_agg(eng, q, ("lang", "upre"), size=3,
                                    after=after).toPandas()
        if page.empty:
            break
        pages += [((r.lang, r.upre), r.doc_count)
                  for r in page.itertuples()]
        after = (page["lang"].iloc[-1], page["upre"].iloc[-1])
    assert pages == want
    with pytest.raises(ValueError, match="arity"):
        search_composite_agg(eng, q, ("lang", "upre"), after=("x",))


@pytest.fixture(scope="module")
def spark_two_kw(spark, tiny_dir, tmp_path_factory):
    """Index with TWO keyword fields (lang + a derived url prefix) for
    the multi-source composite test."""
    import os
    from pyspark.sql import functions as F
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-aggs2"))
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet")) \
        .withColumn("upre", F.substring("url", 1, 4))
    IndexBuilder(d, n_buckets=8, block_size=32,
                 keyword_fields=("lang", "upre")).build(spark, pages)
    return d


def test_sort_by_field_search_after(spark, agg_index, tiny_pages,
                                    oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_sort_by_field
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    hits = _hit_set(oracle_tiny, q)
    full = sorted((int(nchars.iloc[d]), d) for d in hits)
    # page 2 via the cursor == rows 5..9 of the full ordering
    p1 = search_sort_by_field(eng, docs, q, "n_chars", 5).toPandas()
    cursor = (int(p1["n_chars"].iloc[-1]), int(p1["doc_id"].iloc[-1]))
    p2 = search_sort_by_field(eng, docs, q, "n_chars", 5,
                              search_after=cursor).toPandas()
    assert [tuple(r) for r in p2[["n_chars", "doc_id"]]
            .itertuples(index=False)] == full[5:10]
    # descending cursor pages too
    d1 = search_sort_by_field(eng, docs, q, "n_chars", 5,
                              ascending=False).toPandas()
    dcur = (int(d1["n_chars"].iloc[-1]), int(d1["doc_id"].iloc[-1]))
    d2 = search_sort_by_field(eng, docs, q, "n_chars", 5, ascending=False,
                              search_after=dcur).toPandas()
    dfull = sorted(((-int(nchars.iloc[d]), d) for d in hits))
    assert [(-v, d_) for v, d_ in
            ((int(r.n_chars), int(r.doc_id)) for r in d2.itertuples())] \
        == [(v, d_) for v, d_ in dfull[5:10]]


def test_sort_by_field_search_after_null_tail(spark, agg_index,
                                              tiny_pages, oracle_tiny):
    """The NULL tail is reachable (ES missing-value sentinel): a
    non-null cursor admits the NULL rows, and a (None, doc_id) cursor
    pages within the tail by doc_id tiebreak."""
    from mongoesindexer_spark.operators.aggs import search_sort_by_field
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    hits = sorted(_hit_set(oracle_tiny, q))
    assert len(hits) >= 4
    # every other hit gets a NULL sort value
    nullset = set(hits[1::2])
    vals = pd.Series([None if d in nullset else int(100 + d)
                      for d in range(len(rows))], dtype="Int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "sv": vals,
    }))
    nonnull = sorted((int(vals.iloc[d]), d) for d in hits
                     if d not in nullset)
    tail = sorted(d for d in hits if d in nullset)
    # cursor = last non-null row: the remaining page is the NULL tail
    cursor = (nonnull[-1][0], nonnull[-1][1])
    page = search_sort_by_field(eng, docs, q, "sv", len(hits),
                                search_after=cursor).toPandas()
    assert [int(x) for x in page["doc_id"]] == tail
    assert page["sv"].isna().all()
    # (None, doc_id) cursor pages WITHIN the tail
    if len(tail) > 1:
        page2 = search_sort_by_field(
            eng, docs, q, "sv", len(hits),
            search_after=(None, tail[0])).toPandas()
        assert [int(x) for x in page2["doc_id"]] == tail[1:]


def test_significant_terms_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_significant_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    # pick a SELECTIVE term (a corpus-wide one makes every lift exactly
    # 0 and the agg correctly empty)
    n = len(tiny_pages)
    q = sorted(t for t, ds in oracle_tiny.postings.items()
               if 5 <= len(ds) <= n // 4)[0]
    got = search_significant_terms_agg(eng, q, size=8).toPandas()

    hits = _hit_set(oracle_tiny, q)
    want = []
    for t, ds in oracle_tiny.postings.items():
        fg = len(set(ds) & hits)
        if fg == 0:
            continue
        fgp, bgp = fg / len(hits), len(ds) / n
        score = (fgp - bgp) * (fgp / bgp)
        if score > 0:
            want.append((t, score, fg, len(ds)))
    want.sort(key=lambda x: (-x[1], x[0]))
    assert [(r.term, r.fg_df, r.bg_df) for r in got.itertuples()] \
        == [(t, fg, bg) for t, _, fg, bg in want[:8]]
    for g, (_, s, _, _) in zip(got["score"], want):
        assert abs(g - s) < 1e-9
    # the query's own term is maximally significant (fg% = 1)
    assert got["term"].iloc[0] == q
    with pytest.raises(ValueError):
        search_significant_terms_agg(eng, q, size=0)


def test_match_set_rejects_msm_with_and(spark, agg_index):
    from mongoesindexer_spark.operators.aggs import match_set
    from mongoesindexer_spark.operators.topk import get_engine
    with pytest.raises(ValueError):
        match_set(get_engine(spark, agg_index), "udrndau atreq",
                  mode="and", min_should_match=2)


def test_extended_stats_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_extended_stats_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    got = search_extended_stats_agg(eng, docs, q, "n_chars").toPandas()
    vs = [int(nchars.iloc[d]) for d in _hit_set(oracle_tiny, q)]
    n = len(vs)
    assert int(got["count"].iloc[0]) == n
    assert int(got["sum"].iloc[0]) == sum(vs)
    assert int(got["sum_of_squares"].iloc[0]) == sum(v * v for v in vs)
    mean = sum(vs) / n
    var = sum(v * v for v in vs) / n - mean * mean
    assert abs(float(got["avg"].iloc[0]) - mean) < 1e-9
    assert abs(float(got["variance"].iloc[0]) - var) < 1e-6
    assert abs(float(got["std_deviation"].iloc[0]) - var ** 0.5) < 1e-6


def test_rare_terms_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_rare_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    hits = _hit_set(oracle_tiny, q)
    counts = {}
    for d in hits:
        lg = rows["lang"].iloc[d]
        if lg is not None and not pd.isna(lg):
            counts[lg] = counts.get(lg, 0) + 1
    thresh = sorted(counts.values())[0]     # rarest bucket's count
    got = search_rare_terms_agg(eng, q, "lang",
                                max_doc_count=thresh).toPandas()
    want = sorted(((c, v) for v, c in counts.items() if c <= thresh))
    assert [(int(r.doc_count), r.value) for r in got.itertuples()] \
        == want
    import pytest as _pt
    with _pt.raises(ValueError):
        search_rare_terms_agg(eng, q, "lang", max_doc_count=0)


def test_weighted_avg_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_weighted_avg_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    n = len(rows)
    vals = pd.Series([None if i % 9 == 0 else (i * 3) % 50
                      for i in range(n)], dtype="Int64")
    wts = pd.Series([None if i % 7 == 0 else i % 5 + 1
                     for i in range(n)], dtype="Int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "v": vals, "w": wts}))
    got = search_weighted_avg_agg(eng, docs, q, "v", "w").toPandas()
    hits = _hit_set(oracle_tiny, q)
    pairs = [(int(vals.iloc[d]), int(wts.iloc[d])) for d in hits
             if not pd.isna(vals.iloc[d]) and not pd.isna(wts.iloc[d])]
    svw = sum(v * w for v, w in pairs)
    sw = sum(w for _, w in pairs)
    assert int(got["sum_vw"].iloc[0]) == svw
    assert int(got["sum_w"].iloc[0]) == sw
    assert abs(float(got["weighted_avg"].iloc[0]) - svw / sw) < 1e-9


def test_multi_terms_agg(spark, spark_two_kw, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import search_multi_terms_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, spark_two_kw)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    hits = _hit_set(oracle_tiny, q)
    vc = {}
    for d in hits:
        lg, up = rows["lang"].iloc[d], rows["url"].iloc[d][:4]
        if lg is None or pd.isna(lg):
            continue
        vc[(lg, up)] = vc.get((lg, up), 0) + 1
    want = sorted(vc.items(), key=lambda x: (-x[1], x[0]))[:8]
    got = search_multi_terms_agg(eng, q, ("lang", "upre"),
                                 size=8).toPandas()
    assert [((r.key_0, r.key_1), int(r.doc_count))
            for r in got.itertuples()] == want
    import pytest as _pt
    with _pt.raises(ValueError):
        search_multi_terms_agg(eng, q, ("lang",))


def test_percentile_ranks_agg(spark, agg_index, tiny_pages, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_percentile_ranks_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    nchars = rows["text"].map(
        lambda t: len(t) if isinstance(t, str) else 0).astype("int64")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "n_chars": nchars,
    }))
    vals = (150.0, 300.0, 10_000.0)
    got = search_percentile_ranks_agg(eng, docs, q, "n_chars",
                                      vals).toPandas()
    hv = [int(nchars.iloc[d]) for d in _hit_set(oracle_tiny, q)]
    for r, x in zip(got.itertuples(), vals):
        n_le = sum(1 for v in hv if v <= x)
        assert r.value == x and r.n_le == n_le
        assert abs(r.rank_pct - 100.0 * n_le / len(hv)) < 1e-9
    assert float(got["rank_pct"].iloc[-1]) == 100.0
    import pytest as _pt
    with _pt.raises(ValueError):
        search_percentile_ranks_agg(eng, docs, q, "n_chars", ())


def test_adjacency_matrix_agg(spark, agg_index, oracle_tiny):
    from mongoesindexer_spark.operators.aggs import \
        search_adjacency_matrix_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    flt = {"a": ("udrndau", "or"), "b": ("atreq kni", "and"),
           "c": ("zzznope", "or")}
    got = {r.bucket: int(r.doc_count) for r in
           search_adjacency_matrix_agg(eng, flt).toPandas().itertuples()}
    sa = _hit_set(oracle_tiny, "udrndau")
    sb = _hit_set(oracle_tiny, "atreq kni", mode="and")
    want = {"a": len(sa), "b": len(sb), "a&b": len(sa & sb)}
    want = {k: v for k, v in want.items() if v > 0}
    assert got == want              # empty buckets (c, a&c, b&c) omitted
    # single-pass plan: one parquet scan regardless of bucket count
    import contextlib, io, re
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        search_adjacency_matrix_agg(eng, flt).explain("formatted")
    scans = re.findall(r"^\(\d+\) Scan parquet", buf.getvalue(), re.M)
    assert len(scans) == 1


def test_string_stats_agg(spark, agg_index, tiny_pages, oracle_tiny):
    import math
    from mongoesindexer_spark.operators.aggs import \
        search_string_stats_agg
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    q = "udrndau atreq"
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    hits = _hit_set(oracle_tiny, q)
    vals = [rows["lang"].iloc[d] for d in hits
            if rows["lang"].iloc[d] is not None
            and not pd.isna(rows["lang"].iloc[d])]
    got = search_string_stats_agg(eng, q, "lang").toPandas().iloc[0]
    lens = [len(v) for v in vals]
    assert int(got["count"]) == len(vals)
    assert int(got["min_length"]) == min(lens)
    assert int(got["max_length"]) == max(lens)
    assert int(got["sum_length"]) == sum(lens)
    assert abs(float(got["avg_length"]) - sum(lens) / len(lens)) < 1e-9
    cc = {}
    for v in vals:
        for ch in v:
            cc[ch] = cc.get(ch, 0) + 1
    tot = sum(cc.values())
    ent = -sum((n / tot) * math.log2(n / tot)
               for _, n in sorted(cc.items()))
    assert abs(float(got["entropy"]) - ent) < 1e-9


def test_bucket_names_are_literals_not_sql(spark, agg_index, oracle_tiny):
    """Caller-supplied bucket names reach the unpivot as typed literals:
    quotes and SQL fragments come back verbatim as bucket keys."""
    from mongoesindexer_spark.operators.aggs import (
        search_adjacency_matrix_agg, search_filters_agg)
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    a, b = "o'brien", "x', 1) AS (a, b) --"
    flt = {a: ("udrndau", "or"), b: ("atreq kni", "and")}
    sa = _hit_set(oracle_tiny, "udrndau")
    sb = _hit_set(oracle_tiny, "atreq kni", mode="and")
    got = search_filters_agg(eng, flt)
    assert got.dtypes == [("bucket", "string"), ("doc_count", "bigint")]
    assert [tuple(r) for r in got.collect()] == \
        sorted([(a, len(sa)), (b, len(sb))])
    got = {r.bucket: r.doc_count
           for r in search_adjacency_matrix_agg(eng, flt).collect()}
    want = {a: len(sa), b: len(sb), f"{a}&{b}": len(sa & sb)}
    assert got == {k: v for k, v in want.items() if v > 0}
    dead = search_filters_agg(eng, {a: ("zzznotaterm", "or")})
    assert dead.dtypes == [("bucket", "string"), ("doc_count", "bigint")]
    assert [tuple(r) for r in dead.collect()] == [(a, 0)]


def test_exact_moment_aggs_refuse_fractional_columns(spark, agg_index):
    """extended_stats and weighted_avg sum into BIGINT: a double column
    would be truncated, so it is refused by name and type."""
    from mongoesindexer_spark.operators.aggs import (
        search_extended_stats_agg, search_weighted_avg_agg)
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, agg_index)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(10, dtype=np.int64),
        "iv": np.arange(10, dtype=np.int64),
        "dv": np.arange(10, dtype=np.float64) + 0.5}))
    with pytest.raises(ValueError, match="'dv' has type double"):
        search_extended_stats_agg(eng, docs, "udrndau", "dv")
    with pytest.raises(ValueError, match="'dv' has type double"):
        search_weighted_avg_agg(eng, docs, "udrndau", "dv", "iv")
    with pytest.raises(ValueError, match="'dv' has type double"):
        search_weighted_avg_agg(eng, docs, "udrndau", "iv", "dv")


_LOCUS_Q = "udrndau atreq kni"


@pytest.fixture(scope="module")
def synced_agg_index(spark, agg_index, tiny_pages, oracle_tiny,
                     tmp_path_factory):
    """``agg_index`` after one change batch: one hit of the locus query
    deleted, another updated with a new lang value — tombstones plus a
    delta ``fields`` generation."""
    import shutil

    from mongoesindexer_spark.sources.catalog import ParquetCatalog
    from mongoesindexer_spark.streaming.incremental import \
        IncrementalIndexer
    d = str(tmp_path_factory.mktemp("idx-aggs-synced")) + "/idx"
    shutil.copytree(agg_index, d)
    n_fields = len(ParquetCatalog(d).data_files("fields"))
    rows = tiny_pages.sort_values("url").reset_index(drop=True)
    gone, upd = sorted(_hit_set(oracle_tiny, _LOCUS_Q))[:2]
    batch = []
    for op, i, lang in (("delete", gone, rows["lang"].iloc[gone]),
                        ("update", upd, "de")):
        r = rows.iloc[i]
        text = r["text"] if isinstance(r["text"], str) else ""
        ts = r["warc_ts"] + pd.Timedelta(hours=1)
        batch.append({"op": op, "url": r["url"], "warc_ts": ts,
                      "html": None, "text": f"{text} {_LOCUS_Q}",
                      "lang": lang})
    IncrementalIndexer(d).apply_updates(
        spark, spark.createDataFrame(pd.DataFrame(batch)),
        batch_id="aggs-loci")
    cat = ParquetCatalog(d)
    assert cat.table_exists("tombstones")
    assert len(cat.data_files("fields")) > n_fields
    return d


def _run_agg(spark, eng, agg, kw):
    from mongoesindexer_spark.operators import aggs
    if agg == "count":
        return aggs.search_count(eng, _LOCUS_Q, **kw)
    if agg == "terms":
        return aggs.search_terms_agg(eng, _LOCUS_Q, "lang", **kw)
    if agg == "cardinality":
        return aggs.search_cardinality_agg(eng, _LOCUS_Q, "lang", **kw)
    from pyspark.sql import functions as F
    docs = spark.range(600).select(F.col("id").alias("doc_id"),
                                   (F.col("id") * 7 % 101).alias("nv"))
    return aggs.search_stats_agg(eng, docs, _LOCUS_Q, "nv", **kw)


def _jobs_launched(spark, fn):
    """(result, Spark jobs launched while ``fn`` ran), counted through
    a job group and the status tracker."""
    import uuid
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    free0 = set(tracker.getJobIdsForGroup(None))
    group = f"aggs-zero-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    free = set(tracker.getJobIdsForGroup(None)) - free0
    return out, len(set(tracker.getJobIdsForGroup(group)) | free)


@pytest.mark.parametrize("agg,kw", [
    ("count", {}),
    ("count", {"mode": "and"}),
    ("count", {"min_should_match": 2}),
    ("terms", {}),
    ("terms", {"normalized": True}),
    ("terms", {"size": 2}),
    ("terms", {"mode": "and"}),
    ("terms", {"min_should_match": 2}),
    ("stats", {}),
    ("cardinality", {}),
])
def test_hit_set_aggs_same_on_both_loci(spark, synced_agg_index,
                                        monkeypatch, agg, kw):
    """Below SEGMENT_FANOUT_CUTOFF the hit-set aggs run on the driver
    (count and terms launch no Spark job at all); forcing the cutoff to
    1 moves them to the Spark locus.  Both give the same rows and column
    types, on an index carrying tombstones and a delta ``fields``
    generation."""
    import mongoesindexer_spark.operators.topk as topk_mod
    from mongoesindexer_spark.operators.topk import get_engine
    eng = get_engine(spark, synced_agg_index)

    def collected():
        df = _run_agg(spark, eng, agg, kw)
        return df.dtypes, df.collect()
    drv, n_jobs = _jobs_launched(spark, collected)
    if agg in ("count", "terms"):
        assert n_jobs == 0
    monkeypatch.setattr(topk_mod, "SEGMENT_FANOUT_CUTOFF", 1)
    assert collected() == drv
    assert drv[1]
    if agg == "terms" and "size" not in kw:
        # the updated doc's value lives only in the delta generation
        assert "de" in {r["value"] for r in drv[1]}
