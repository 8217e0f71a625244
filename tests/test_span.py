"""ES span_first (operators/span.py): match within the first `end`
positions, pseudo-term BM25, vs brute force on a controlled positional
corpus (span_near ≡ phrase slop is pinned by the phrase suites)."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def sp_index(spark, tmp_path_factory):
    from mongoesindexer_spark.operators.build_index import IndexBuilder
    d = str(tmp_path_factory.mktemp("idx-span"))
    rows = []
    for i in range(24):
        # 'target' appears early, late, both, or not at all
        if i % 4 == 0:
            body = "target opens the doc then filler words follow here"
        elif i % 4 == 1:
            body = "the doc opens with filler then target target late"
        elif i % 4 == 2:
            body = "target early and target again target late in doc"
        else:
            body = "no hits at all in this entirely filler document"
        rows.append((f"u{i:02d}", body + " w" + chr(97 + i)))
    df = spark.createDataFrame(rows, "url string, text string")
    IndexBuilder(d, n_buckets=2, block_size=8,
                 index_positions=True).build(spark, df)
    return d, rows


def _brute(rows, term, end, k=30):
    from tests.oracle import OracleIndex
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    pdf["html"] = None
    oi = OracleIndex.build(pdf)
    out = []
    for i, (_, t) in enumerate(rows):
        toks = t.split()
        tf = sum(1 for p, x in enumerate(toks) if x == term and p < end)
        if tf == 0:
            continue
        dl = oi.doc_len[i]
        tfn = tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / oi.avgdl))
        out.append((oi.idf(term) * tfn, i))
    out.sort(key=lambda x: (-x[0], x[1]))
    return out[:k]


@pytest.mark.parametrize("end", [1, 5, 7, 100])
def test_span_first_matches_bruteforce(spark, sp_index, end):
    from mongoesindexer_spark.operators.span import span_first_topk
    d, rows = sp_index
    got = span_first_topk(spark, d, "target", end, 30)
    want = _brute(rows, "target", end)
    assert [int(x) for x in got["doc_id"]] == [i for _, i in want], end
    for g, (w, _) in zip(got["score"], want):
        assert abs(g - w) < 1e-9
    if end == 1:
        # only docs whose FIRST token is the term qualify
        assert all(int(x) % 4 in (0, 2) for x in got["doc_id"])
        assert len(got) > 0


def test_span_first_guards(spark, sp_index):
    from mongoesindexer_spark.operators.span import span_first_topk
    d, rows = sp_index
    assert span_first_topk(spark, d, "zzznope", 5, 10).empty
    with pytest.raises(ValueError, match="end must be positive"):
        span_first_topk(spark, d, "target", 0, 10)
    with pytest.raises(ValueError, match="single span_term"):
        span_first_topk(spark, d, "two words", 5, 10)


def test_span_first_fans_out_over_the_cutoff(spark, sp_index, monkeypatch):
    """At or above SEGMENT_FANOUT_CUTOFF span_first runs the phrase kernel
    per segment group (topk_segments) instead of raising, and the merged
    answer is bit-identical to the driver kernel's, with and without a
    tombstone."""
    import mongoesindexer_spark.operators.topk as tk
    from mongoesindexer_spark.operators.span import span_first_topk
    d, _ = sp_index
    eng = tk.get_engine(spark, d)
    calls = []
    fan_out = tk.SearchEngine.topk_segments

    def counted(self, *a, **kw):
        calls.append(a[0])
        return fan_out(self, *a, **kw)
    monkeypatch.setattr(tk.SearchEngine, "topk_segments", counted)
    monkeypatch.setattr(tk, "SEGMENT_MAX_GROUPS", 2)
    cutoff = tk.SEGMENT_FANOUT_CUTOFF

    def answer(c):
        monkeypatch.setattr(tk, "SEGMENT_FANOUT_CUTOFF", c)
        out = span_first_topk(spark, d, "target", 5, 30)
        return [(int(x), float(s)) for x, s in zip(out["doc_id"],
                                                   out["score"])]
    driver = answer(cutoff)
    assert driver and not calls
    assert answer(1) == driver
    assert calls == [["target"]]
    dead = driver[0][0]
    monkeypatch.setattr(eng, "tombstones", {dead})
    driver_ts = answer(cutoff)
    assert driver_ts == [h for h in driver if h[0] != dead]
    assert answer(1) == driver_ts
    assert len(calls) == 2
