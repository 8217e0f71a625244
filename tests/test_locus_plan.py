"""SearchEngine.plan is the one place that compares Σdf against
SEGMENT_FANOUT_CUTOFF: patching that constant on ``topk`` alone moves
every consumer to its above-cutoff branch.  The off-driver loci are
stubbed to raise, so the test asserts the branch without paying for it."""

import pytest

PHRASE = "lda udrndau"      # a frequent adjacent pair in the tiny fixture


class _OffDriver(Exception):
    """Raised by a stubbed off-driver locus: the consumer left the
    driver."""


def _hit_ids(spark, d, eng):
    from mongoesindexer_spark.operators.aggs import _driver_hit_ids
    ids = _driver_hit_ids(eng, sorted(PHRASE.split()), "or", None)
    return -1 if ids is None else ids.size


def _pair_cf(spark, d, eng):
    from mongoesindexer_spark.operators.suggest import _pair_cf
    return _pair_cf(eng, *PHRASE.split())


def _span_first(spark, d, eng):
    from mongoesindexer_spark.operators.span import span_first_topk
    return len(span_first_topk(spark, d, "lda", 5, 5))


def _sqs(spark, d, eng):
    from mongoesindexer_spark.operators.query_string import \
        simple_query_string_topk
    return len(simple_query_string_topk(spark, d, "lda +udrndau", 5))


def _mbp(spark, d, eng):
    from mongoesindexer_spark.operators.query_string import \
        match_bool_prefix_topk
    return len(match_bool_prefix_topk(spark, d, "lda udr", 5))


# consumer → (run it and count its answer, what it does above the cutoff:
# an exception type it raises, or the count it returns)
CONSUMERS = {
    "topk_wand": (lambda s, d, e: len(e.topk_wand(PHRASE, 5)), _OffDriver),
    "phrase_topk": (lambda s, d, e: len(e.phrase_topk(PHRASE, 5)),
                    _OffDriver),
    "span_first": (_span_first, _OffDriver),
    "hit_set_aggs": (_hit_ids, -1),             # None: the Spark locus
    "pair_cf": (_pair_cf, 0),                   # the LM's backoff leg
    "simple_query_string": (_sqs, _OffDriver),  # the _df locus
    "match_bool_prefix": (_mbp, ValueError),    # refuses
}


@pytest.mark.parametrize("name", sorted(CONSUMERS))
def test_cutoff_on_topk_moves_every_consumer(spark, tiny_index_pos,
                                             monkeypatch, name):
    import mongoesindexer_spark.operators.query_string as qsm
    import mongoesindexer_spark.operators.topk as tk

    def off(*a, **kw):
        raise _OffDriver
    monkeypatch.setattr(tk.SearchEngine, "topk_segments", off)
    monkeypatch.setattr(qsm, "simple_query_string_df", off)
    run, above = CONSUMERS[name]
    eng = tk.get_engine(spark, tiny_index_pos)
    assert run(spark, tiny_index_pos, eng) > 0
    monkeypatch.setattr(tk, "SEGMENT_FANOUT_CUTOFF", 1)
    if isinstance(above, type):
        with pytest.raises(above):
            run(spark, tiny_index_pos, eng)
    else:
        assert run(spark, tiny_index_pos, eng) == above


def test_plan_keeps_live_terms_in_caller_order(spark, tiny_index_pos,
                                               monkeypatch):
    import mongoesindexer_spark.operators.topk as tk
    eng = tk.get_engine(spark, tiny_index_pos)
    plan = eng.plan(["udrndau", "zzznope", "lda"])
    meta = eng._term_meta(["udrndau", "lda"])
    assert list(plan.idf) == ["udrndau", "lda"]
    assert plan.idf == {t: m[0] for t, m in meta.items()}
    assert plan.total_df == sum(m[1] for m in meta.values())
    assert not plan.fan_out
    assert eng.plan(["lda"], extra_df=10).total_df == meta["lda"][1] + 10
    monkeypatch.setattr(tk, "SEGMENT_FANOUT_CUTOFF", plan.total_df)
    assert eng.plan(["udrndau", "lda"]).fan_out
    assert not eng.plan(["zzznope"], extra_df=plan.total_df - 1).fan_out
