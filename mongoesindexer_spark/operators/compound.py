"""ES compound queries: ``dis_max``, ``boosting``, ``constant_score``.

The reference's mappings (configs/ltd_doc.settings.json — dozens of text
fields, keyword sub-fields everywhere) invite the three ES compound
wrappers that reshape relevance without introducing new scoring math:

- **dis_max** — per-field sub-queries combined as
  ``max + tie_breaker × Σ others``.  Identical combination semantics to
  ``multi_match best_fields`` (ES implements multi_match ON dis_max), so
  this module is a thin generalization of :mod:`.multi_match` that sends
  a DIFFERENT query string to each field index — both its kernel (WAND /
  exhaustive) and Spark loci are reused verbatim, keeping the float
  contract and rank identity already property-tested there.
- **boosting** — docs matching the ``negative`` query keep their
  ``positive`` BM25 score × ``negative_boost`` (0 ≤ nb ≤ 1).  The
  demotion REORDERS, so top-k must select on the demoted score over the
  full positive match set — same structural argument as function_score.
- **constant_score** — a filter-context query whose every hit scores a
  fixed ``boost``: the match set (term-pushed postings scan) with a
  literal score, doc_id-asc pagination.  This is the ES idiom for
  "filter only, skip scoring" and costs exactly the hit-set scan.

Scale shapes: dis_max inherits multi_match's one-shuffle distributed
combine; boosting's Spark locus is ``topk_df``'s query phase (the
engine's scored postings summed per doc) plus one broadcast-or-shuffle
left join against the (typically far smaller) negative match set, then
a url point read for the k winners; constant_score is a single
term-pushed scan + TakeOrderedAndProject — no driver materialization of
candidate sets anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encode import decode_blocks_into
from .multi_match import multi_match_topk
from .topk import (SearchEngine, _check_k, _query_terms, get_engine,
                   live_mask, match_scores_arrays)


def dis_max_topk(spark: SparkSession, index_dirs: dict[str, str],
                 field_queries: dict[str, str], k: int,
                 tie_breaker: float = 0.0,
                 boosts: dict[str, float] | None = None,
                 locus: str = "kernel",
                 use_wand: bool | None = None) -> pd.DataFrame:
    """ES ``dis_max`` over per-field match sub-queries: score =
    best sub-query score + ``tie_breaker`` × Σ(other sub-queries).

    ``field_queries`` maps each field of ``index_dirs`` to its own query
    text (the generalization over multi_match, which broadcasts one
    text).  Everything else — kernel WAND/exhaustive switch, Spark
    distributed combine, boosts folded into idf, tombstones, the
    first-max tie rule — is :func:`..multi_match.multi_match_topk` with
    ``mtype="best_fields"``.
    """
    return multi_match_topk(spark, index_dirs, dict(field_queries), k,
                            mtype="best_fields", tie_breaker=tie_breaker,
                            boosts=boosts, locus=locus, use_wand=use_wand)


# ---------------------------------------------------------------------------
# boosting
# ---------------------------------------------------------------------------


def _match_docs_kernel(eng: SearchEngine, query_text: str) -> np.ndarray:
    """Sorted doc_ids matching ≥1 query term — the kernel-side match set
    (block point reads, cost ∝ Σdf of the query's terms)."""
    by_term = eng._term_blocks(list(eng.plan(
        _query_terms(query_text, eng.cfg)).idf))
    blocks = [b for bl in by_term.values() for b in bl]
    decode_blocks_into([b for b in blocks if "_arrs" not in b])
    if not blocks:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate([b["_arrs"][0] for b in blocks]))


def boosting_topk(spark: SparkSession, index_dir: str, positive: str,
                  negative: str, k: int, negative_boost: float = 0.5,
                  locus: str = "kernel") -> pd.DataFrame:
    """ES ``boosting`` query: top-k by ``bm25(positive) ×
    (negative_boost if doc matches negative else 1)`` over the full
    positive match set, ties doc_id asc.

    ``locus="kernel"``: score-all positive candidates
    (:func:`..topk.match_scores_arrays`) + an ``np.isin`` demotion mask
    from the negative match set — cost ∝ the two queries' Σdf, never the
    corpus.  ``locus="spark"``: ``topk_df``'s query phase left-joined
    to the negative match set (broadcast when small), demoted in
    codegen, TakeOrderedAndProject — the head-term-scale path.
    """
    if not 0.0 <= negative_boost <= 1.0:
        raise ValueError("negative_boost must be in [0, 1] — above 1 the "
                         "'negative' clause would PROMOTE matches")
    _check_k(k)
    eng = get_engine(spark, index_dir)
    if locus == "spark":
        return _boosting_df(eng, positive, negative, k,
                            negative_boost).toPandas()
    if locus != "kernel":
        raise ValueError("locus must be 'kernel' or 'spark'")
    td = eng.plan(_query_terms(positive, eng.cfg)).idf
    by_term = eng._term_blocks(list(td))
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])
    uniq, bm25, _ = match_scores_arrays(
        {t: (td[t], by_term[t]) for t in td if t in by_term},
        eng.avgdl, need_counts=False)
    if uniq.size and eng.tombstones:
        keep = live_mask(uniq, eng)
        uniq, bm25 = uniq[keep], bm25[keep]
    if uniq.size == 0:
        return eng.hits_frame([])
    neg = _match_docs_kernel(eng, negative)
    score = np.where(np.isin(uniq, neg), bm25 * negative_boost, bm25)
    order = np.lexsort((uniq, -score))[:k]
    return eng.hits_frame([(float(score[i]), int(uniq[i])) for i in order])


def _boosting_df(eng: SearchEngine, positive: str, negative: str, k: int,
                 negative_boost: float) -> DataFrame:
    """Distributed twin: the positive query's per-doc BM25 (the query
    phase of ``topk_df``) left-joined to the negative match set; the join
    is broadcast whenever AQE sizes the negative side under the
    threshold — the common case, rare-term demotions against head-term
    positives.  Fetch phase: :meth:`..topk.SearchEngine.fetch_top`."""
    from .aggs import match_set
    from .multi_match import _field_scores_df
    pos = _field_scores_df(eng, positive, 1.0)
    neg = match_set(eng, negative).withColumn("neg", F.lit(True))
    demoted = (pos.join(neg, "doc_id", "left")
               .withColumn("score",
                           F.when(F.col("neg"),
                                  F.col("score") * F.lit(negative_boost))
                           .otherwise(F.col("score"))))
    return eng.fetch_top(demoted, k)


# ---------------------------------------------------------------------------
# constant_score
# ---------------------------------------------------------------------------


def constant_score_hits(eng: SearchEngine, query_text: str, k: int,
                        boost: float = 1.0, mode: str = "or",
                        min_should_match: int | None = None) -> DataFrame:
    """ES ``constant_score``: every doc matching the filter query scores
    the literal ``boost``; the page is doc_id-asc (ES doc order within
    equal scores).  One term-pushed postings scan +
    TakeOrderedAndProject — the "skip scoring entirely" fast path ES
    users reach for in pure filter contexts."""
    from .aggs import match_set
    _check_k(k)
    return (match_set(eng, query_text, mode, min_should_match)
            .orderBy(F.asc("doc_id")).limit(k)
            .select("doc_id",
                    F.lit(float(boost)).cast("double").alias("score")))
