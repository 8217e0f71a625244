"""ES span queries over positional postings (Q40).

Two members cover the span surface a web-search user actually hits:

- ``span_near`` (in_order=true) IS this engine's phrase machinery:
  ``span_near: {clauses: [t1..tn], slop: s, in_order: true}`` executes
  as :meth:`SearchEngine.phrase_topk(..., slop=s)` — the in-order
  window rule documented on ``phrase_topk_arrays`` (delta vs Lucene's
  SloppyPhraseMatcher documented there too).  No separate operator.
  The modern ``intervals`` query's core rule is the same machinery:
  ``intervals: {match: {query, ordered: true, max_gaps: g}}`` ≡
  ``phrase_topk(slop=g)`` (an interval of n terms with ≤ g gaps in
  order is exactly the n+g in-order window).
- ``span_first`` (:func:`span_first_topk`): the match must START within
  the first ``end`` positions of the field — "title-ish prefix of the
  body" queries.  It is a one-term phrase whose start positions are
  bounded by ``end`` (``QueryShape.span_end``), so tf = the count of
  distinct positions < ``end``, scored BM25 like the phrase pseudo-term
  (documented delta vs Lucene's SpanScorer sloppy-freq weighting, which
  down-weights longer spans — a span_term match has length 1, so for
  the term-clause case the doc SET is identical and only the tf
  weighting differs).

No scoring code lives here: span_first runs the phrase kernel
(:func:`..topk.topk_kernel`) on the locus :meth:`SearchEngine.plan`
picks — the driver's cached blocks below ``SEGMENT_FANOUT_CUTOFF``, the
segment fan-out (:meth:`SearchEngine.topk_segments`) at or above it,
rank-identical on both.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

from .topk import QueryShape, _check_k, get_engine
from ..functions.analysis import analyze_search


def span_first_topk(spark: SparkSession, index_dir: str, term: str,
                    end: int, k: int) -> pd.DataFrame:
    """ES ``span_first{match: span_term, end}``: top-k docs where the
    analyzed term occurs at a 0-based position < ``end``, scored as the
    module-doc pseudo-term — (doc_id, url, score), score desc / doc_id
    asc."""
    _check_k(k)
    if end <= 0:
        raise ValueError("end must be positive (ES span_first end is "
                         "an exclusive 0-based position bound)")
    eng = get_engine(spark, index_dir)
    eng._check_positions("span queries")
    toks = analyze_search(term, eng.cfg)
    if len(toks) != 1:
        raise ValueError("span_first wraps a single span_term clause — "
                         f"got {len(toks)} analyzed tokens from "
                         f"{term!r} (use span_near/phrase for "
                         "multi-token spans)")
    plan = eng.plan(toks)
    if not plan.idf:
        return eng.hits_frame([])
    return eng._run_locus(plan, k, QueryShape(phrase_terms=toks,
                                              span_end=end))
