"""Physical-plan audits: the optimizations the engine relies on at 100 TB
must be visible in the plan, not assumed (SURVEY §4).

These are explain()-only tests — no jobs run beyond the tiny shared
index fixture build.
"""

import io
import os
import re
from contextlib import redirect_stdout

import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans_index(spark, tiny_dir, tmp_path_factory):
    from mongoesindexer_spark.operators.build_index import IndexBuilder

    idx = str(tmp_path_factory.mktemp("plans") / "idx")
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(idx, n_buckets=4).build(spark, pages)
    return idx


def _query_phase(spark, index_dir, query, k):
    """``bm25_topk_df``'s lazy query-phase frame: the fetch phase is
    stubbed to hand back its ``top_k`` frame uncollected (the real one
    collects it and returns a local relation)."""
    from mongoesindexer_spark.operators import topk

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(topk.SearchEngine, "fetch_top",
                   lambda self, scores, k: topk.top_k(scores, k))
        return topk.bm25_topk_df(spark, index_dir, query, k)


def test_term_filter_pushed_to_postings_scan(spark, plans_index):
    """The BM25 df path's term isin(...) must reach the parquet scan as
    PushedFilters — a full postings scan per query is wrong at any scale."""
    plan = _plan(_query_phase(spark, plans_index, "the court", 5))
    assert re.search(r"PushedFilters:.*term", plan), plan[:2000]


def test_bm25_df_query_phase_scans_postings_flat_only(spark, plans_index):
    """idf comes from the engine's plan and urls from a point read of the
    k winners, so the query phase scans postings_flat and no other
    table: no term_dict broadcast, no doc_stats join."""
    plan = _plan(_query_phase(spark, plans_index, "the court", 5))
    locations = re.findall(r"Location: \w+ \[([^\]]*)\]", plan)
    assert locations and all("postings_flat" in loc for loc in locations), \
        plan[:2000]
    assert "term_dict" not in plan and "doc_stats" not in plan, plan[:2000]


def test_bm25_df_topk_is_take_ordered(spark, plans_index):
    """orderBy(...).limit(k) must plan as TakeOrderedAndProject — a global
    sort materialization for a top-k would be wrong."""
    plan = _plan(_query_phase(spark, plans_index, "the court", 5))
    assert "TakeOrderedAndProject" in plan


def test_lookup_join_prunes_and_pushes(spark):
    """q_lookup_join: the child filter must be pushed to the lineitem scan
    and only referenced columns read (ReadSchema pruning)."""
    import __spark_entry__ as em

    plan = _plan(em.q_lookup_join(spark, "/root/testdata/sf0.001"))
    assert re.search(r"PushedFilters:.*l_quantity", plan)
    # lineitem has 16 columns; the scan must read only the 2-3 used
    m = re.search(r"ReadSchema: struct<([^>]*l_quantity[^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, (m.group(1) if m else plan[:1500])


def test_whole_stage_codegen_covers_scoring(spark, plans_index):
    """The scoring arithmetic must live inside whole-stage-codegen spans
    (JVM-side, no Python in the hot path).  AQE's pre-execution formatted
    plan omits codegen ids, so inspect codegen mode explicitly."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _query_phase(spark, plans_index, "the court", 5)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("codegen")
        out = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", out)
    assert m and int(m.group(1)) >= 2, out[:300]
    assert "Generated code" in out
