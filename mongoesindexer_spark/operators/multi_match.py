"""ES ``multi_match`` — one query scored across several text fields.

ES indexes every ``"type": "text"`` field of a mapping as its OWN
inverted index (field-local postings, doc lengths, avgdl) and
``multi_match`` combines the per-field BM25 scores.  The reference's
mappings declare dozens of text fields per document
(configs/ltd_doc.settings.json — 170 ``"type": "text"`` declarations
across the shipped configs), so searching several of them at once is the
default ES entry point its users hit; this module gives that surface over
per-field engine indexes that share one doc_id space (built from the same
source table with ``id_col`` ids used verbatim).

Combination modes (ES semantics):

- ``best_fields`` — dis_max: score = best per-field score +
  ``tie_breaker`` × (sum of the other fields' scores).  ES's default.
- ``most_fields`` — plain sum of per-field scores.

Per-field ``boosts`` fold into the term weight (``boost × idf``) so both
execution paths and the SQL oracle share one multiplication point
(float × distributes over + only approximately — folding at the term
keeps all paths bit-comparable).

Two execution paths, rank-identical (property-tested):

- :func:`multi_match_topk` with ``locus="kernel"`` — driver kernel:
  below EXHAUSTIVE_CUTOFF a vectorized score-all per field
  (:func:`..topk.match_scores_arrays`) merged on doc_id; above it
  block-max WAND over the union of per-(field, term) cursors
  (:func:`multimatch_wand_arrays`).  The WAND upper bound is
  Σ_fields Σ_terms UB — valid for both modes because
  best_fields ≤ most_fields ≤ Σ UB whenever ``tie_breaker ≤ 1``
  (asserted).
- ``locus="spark"`` — distributed: per-field score DataFrames (the
  query phase of ``SearchEngine.topk_df``: the engine's scored postings
  summed per doc) unioned with a field ordinal, combined per doc_id with
  order-pinned ``F.aggregate`` folds, TakeOrderedAndProject k rows to
  the driver, whose urls are then point-read (the fetch phase).  The
  100-TB path: one shuffle on doc_id, no driver materialization of
  candidate sets.

Float-determinism contract (same as the single-field kernels): per-field
accumulation is in term order, cross-field combination in field order,
identical in the numpy, scalar-WAND, and Spark fold implementations.

Alignment contract under incremental sync: the per-field indexes stay in
one doc_id space only if every generation ingests the SAME (url → id)
stream — apply each change batch to every field index (deriving each
field's text), and the deterministic rank-offset id assignment keeps
them aligned (pinned by test_multi_match_alignment_survives_sync).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encode import decode_blocks_into
from .topk import (EXHAUSTIVE_CUTOFF, K1, B, SearchEngine, _check_k,
                   _query_terms, _TermCursor, get_engine, live_mask,
                   match_scores_arrays)

MODES = ("best_fields", "most_fields")


def _per_field_query(query_text: str | dict[str, str], field: str) -> str:
    """One query string for ``field`` — multi_match sends the SAME text to
    every field; dis_max (operators/compound.py) sends one sub-query per
    field, so the entry points also accept a ``{field: query}`` mapping."""
    if isinstance(query_text, dict):
        return query_text[field]
    return query_text


# ---------------------------------------------------------------------------
# score combination — three implementations, one accumulation order
# ---------------------------------------------------------------------------


def combine_scalar(per_field: list[float], mtype: str,
                   tie_breaker: float) -> float:
    """Combine one doc's per-field scores (0.0 = no match in that field).

    best_fields ties pick the FIRST max field; the "others" fold adds an
    exact 0.0 for the best slot so the numpy and Spark twins (which add
    ``where(best, 0.0, s)``) produce bit-identical sums."""
    if mtype == "most_fields":
        acc = 0.0
        for s in per_field:
            acc += s
        return acc
    bi = 0
    for i in range(1, len(per_field)):
        if per_field[i] > per_field[bi]:
            bi = i
    others = 0.0
    for i, s in enumerate(per_field):
        others += 0.0 if i == bi else s
    return per_field[bi] + tie_breaker * others


def combine_matrix(mat: np.ndarray, mtype: str,
                   tie_breaker: float) -> np.ndarray:
    """Vectorized twin of :func:`combine_scalar` over an (n_docs,
    n_fields) score matrix — same fold order, same tie rule."""
    n, nf = mat.shape
    if mtype == "most_fields":
        acc = np.zeros(n)
        for f in range(nf):
            acc = acc + mat[:, f]
        return acc
    bi = np.argmax(mat, axis=1)          # first max, like combine_scalar
    best = mat[np.arange(n), bi]
    others = np.zeros(n)
    for f in range(nf):
        others = others + np.where(bi == f, 0.0, mat[:, f])
    return best + tie_breaker * others


# ---------------------------------------------------------------------------
# driver kernel path
# ---------------------------------------------------------------------------


def _field_term_blocks(eng: SearchEngine, query_text: str, boost: float
                       ) -> dict[str, tuple[float, list[dict]]]:
    """One field's ``{term: (boost×idf, blocks)}`` for the query, using
    that field's analyzer — terms absent from the field's term_dict are
    dropped (they can score nowhere)."""
    idf = eng.plan(_query_terms(query_text, eng.cfg)).idf
    by_term = eng._term_blocks(list(idf))
    return {t: (idf[t] * boost, by_term[t]) for t in idf if t in by_term}


def multimatch_exhaustive_arrays(field_blocks: list[tuple[dict, float]],
                                 k: int, mtype: str, tie_breaker: float,
                                 tombstones: set[int] | None = None
                                 ) -> list[tuple[float, int]]:
    """Score-all per field, merge on doc_id, combine, top-k — the
    oracle-sized baseline the WAND path is property-tested against.

    ``field_blocks``: per field ``(term_blocks, avgdl)`` in field order.
    """
    per_docs: list[np.ndarray] = []
    per_scores: list[np.ndarray] = []
    for tb, avgdl in field_blocks:
        uniq, agg, _ = match_scores_arrays(tb, avgdl)
        per_docs.append(uniq)
        per_scores.append(agg)
    if not per_docs:
        return []
    union = per_docs[0]
    for d in per_docs[1:]:
        union = np.union1d(union, d)
    if union.size == 0:
        return []
    mat = np.zeros((union.size, len(field_blocks)))
    for f, (d, s) in enumerate(zip(per_docs, per_scores)):
        if d.size:
            mat[np.searchsorted(union, d), f] = s
    score = combine_matrix(mat, mtype, tie_breaker)
    if tombstones:
        keep = live_mask(union, tombstones)
        union, score = union[keep], score[keep]
    if union.size == 0:
        return []
    order = np.lexsort((union, -score))[:k]
    return [(float(score[i]), int(union[i])) for i in order]


def multimatch_wand_arrays(field_cursors: list[tuple[float,
                                                     list[_TermCursor]]],
                           k: int, mtype: str, tie_breaker: float,
                           tombstones: set[int] | None = None
                           ) -> list[tuple[float, int]]:
    """Block-max WAND over the union of per-(field, term) cursors.

    ``field_cursors``: per field ``(avgdl, cursors)`` in field order;
    cursor idfs already carry the field boost.  Pruning uses
    Σ max_score over ALL cursors as the upper bound — an upper bound of
    the combined score for both modes when ``tie_breaker ≤ 1`` (dis_max =
    max + tb×others ≤ sum).  Pivot/block-max comparisons are non-strict
    and ties rank doc_id asc, exactly like the single-field kernel
    (:func:`..topk.wand_topk_arrays`), so rank identity with
    :func:`multimatch_exhaustive_arrays` holds (property-tested).
    """
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1] — above 1 the "
                         "sum-of-upper-bounds WAND pruning is unsound")
    tombstones = tombstones or set()
    nf = len(field_cursors)
    fld_of: dict[int, int] = {}
    avgdl_of: list[float] = []
    cursors: list[_TermCursor] = []
    for f, (avgdl, cs) in enumerate(field_cursors):
        avgdl_of.append(avgdl)
        for c in cs:
            fld_of[id(c)] = f
            cursors.append(c)
    heap: list[tuple[float, int]] = []   # min-heap of (score, -doc_id)
    threshold = 0.0
    cursors = [c for c in cursors if not c.exhausted]
    while cursors:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.doc)
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(cursors):
            acc += c.max_score
            if acc >= threshold:
                pivot_i = i
                break
        if pivot_i < 0:
            break
        pivot_doc = cursors[pivot_i].doc
        if cursors[0].doc == pivot_doc:
            bm = 0.0
            for c in cursors:
                if c.exhausted or c.doc > pivot_doc:
                    break
                bm += c.block_max_score
            if bm >= threshold and pivot_doc not in tombstones:
                # per-field sums in (field, term-ord) order — the same
                # accumulation order as the vectorized twin
                per_field = [0.0] * nf
                at_pivot = sorted(
                    (c for c in cursors
                     if not c.exhausted and c.doc == pivot_doc),
                    key=lambda c: (fld_of[id(c)], c.ord))
                norms: dict[int, float] = {}
                for c in at_pivot:
                    f = fld_of[id(c)]
                    norm = norms.get(f)
                    if norm is None:
                        # doc length is field-local: every cursor of one
                        # field at the pivot carries that field's dl
                        norm = norms[f] = K1 * (
                            1.0 - B + B * float(c.dl) / avgdl_of[f])
                    tf = float(c.tf)
                    per_field[f] += c.idf * tf * (K1 + 1.0) / (tf + norm)
                score = combine_scalar(per_field, mtype, tie_breaker)
                if len(heap) < k:
                    heapq.heappush(heap, (score, -pivot_doc))
                    if len(heap) == k:
                        threshold = heap[0][0]
                elif (score, -pivot_doc) > heap[0]:
                    heapq.heapreplace(heap, (score, -pivot_doc))
                    threshold = heap[0][0]
            for c in cursors:
                if not c.exhausted and c.doc == pivot_doc:
                    c.next()
        else:
            for c in cursors:
                if c.exhausted or c.doc >= pivot_doc:
                    break
                c.seek(pivot_doc)
    out = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(s, -nd) for s, nd in out]


# ---------------------------------------------------------------------------
# distributed Spark path
# ---------------------------------------------------------------------------


def _field_scores_df(eng: SearchEngine, query_text: str, boost: float,
                     tombstones=None) -> DataFrame:
    """(doc_id, score) over ALL live docs matching ≥1 query term in this
    field: the engine's scored postings
    (:meth:`..topk.SearchEngine.scored_postings`, the query phase of
    ``topk_df``) with the field boost folded into idf, summed per doc.
    ``tombstones``: the doc ids to drop (default the engine's)."""
    return (eng.scored_postings(_query_terms(query_text, eng.cfg), boost,
                                tombstones)
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score")))


def multi_match_df(engines: dict[str, SearchEngine],
                   query_text: str | dict[str, str],
                   k: int, mtype: str = "best_fields",
                   tie_breaker: float = 0.0,
                   boosts: dict[str, float] | None = None) -> DataFrame:
    """Distributed multi_match: per-field score DataFrames unioned with a
    field ordinal, combined per doc_id with order-pinned ``F.aggregate``
    folds (sequential in field order — the float contract the kernel
    paths share), TakeOrderedAndProject; urls are point-read for the k
    winners (:meth:`..topk.SearchEngine.fetch_top`).

    One shuffle (groupBy doc_id inside each field's scorer + the final
    combine groupBy); candidate sets never reach the driver — the shape
    that survives a head-term query over 10^12 docs."""
    if mtype not in MODES:
        raise ValueError(f"mtype must be one of {MODES}")
    if not engines:
        raise ValueError("multi_match needs at least one field engine")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    if isinstance(query_text, dict) and set(query_text) != set(engines):
        raise ValueError("per-field query mapping must cover exactly the "
                         f"index fields {sorted(engines)}")
    boosts = boosts or {}
    fields = list(engines)
    tombs = set()
    for eng in engines.values():
        tombs |= eng.tombstones
    parts = []
    for i, f in enumerate(fields):
        parts.append(_field_scores_df(engines[f],
                                      _per_field_query(query_text, f),
                                      float(boosts.get(f, 1.0)), tombs)
                     .select("doc_id", F.lit(i).alias("fi"), "score"))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    per_doc = (u.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("fi", "score")))
                    .alias("fs")))
    zero = F.lit(0.0).cast("double")
    if mtype == "most_fields":
        combined = per_doc.select(
            "doc_id",
            F.aggregate("fs", zero, lambda a, x: a + x["score"])
            .alias("score"))
    else:
        # first-max tie rule: maximize (score, -fi) lexicographically
        best = F.array_max(F.transform(
            "fs", lambda x: F.struct(x["score"].alias("s"),
                                     (-x["fi"]).alias("nfi"))))
        combined = (per_doc
                    .withColumn("b", best)
                    .select(
                        "doc_id",
                        (F.col("b.s") + F.lit(float(tie_breaker))
                         * F.aggregate(
                             "fs", zero,
                             lambda a, x: a + F.when(
                                 x["fi"] == -F.col("b.nfi"), zero)
                             .otherwise(x["score"])))
                        .alias("score")))
    return next(iter(engines.values())).fetch_top(combined, k)


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def multi_match_topk(spark: SparkSession, index_dirs: dict[str, str],
                     query_text: str | dict[str, str], k: int,
                     mtype: str = "best_fields",
                     tie_breaker: float = 0.0,
                     boosts: dict[str, float] | None = None,
                     locus: str = "kernel",
                     use_wand: bool | None = None) -> pd.DataFrame:
    """Top-k multi_match over per-field indexes sharing one doc_id space.

    ``locus="kernel"``: driver kernel (serving latency) — cost-based
    exhaustive/WAND switch like ``SearchEngine.topk_wand``; ``use_wand``
    forces a path.  ``locus="spark"``: distributed DataFrame plan
    (:func:`multi_match_df`), collected to pandas for a uniform return
    type."""
    if mtype not in MODES:
        raise ValueError(f"mtype must be one of {MODES}")
    if not index_dirs:
        raise ValueError("multi_match needs at least one field index")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1] — above 1 the "
                         "sum-of-upper-bounds WAND pruning is unsound")
    _check_k(k)
    boosts = boosts or {}
    if isinstance(query_text, dict) and set(query_text) != set(index_dirs):
        raise ValueError("per-field query mapping must cover exactly the "
                         f"index fields {sorted(index_dirs)}")
    engines = {f: get_engine(spark, d) for f, d in index_dirs.items()}
    if locus == "spark":
        return multi_match_df(engines, query_text, k, mtype, tie_breaker,
                              boosts).toPandas()
    if locus != "kernel":
        raise ValueError("locus must be 'kernel' or 'spark'")
    field_blocks = []
    tombs: set[int] = set()
    for f, eng in engines.items():
        tb = _field_term_blocks(eng, _per_field_query(query_text, f),
                                float(boosts.get(f, 1.0)))
        field_blocks.append((tb, eng.avgdl))
        tombs |= eng.tombstones
    decode_blocks_into([b for tb, _ in field_blocks
                        for _, bl in tb.values() for b in bl
                        if "_arrs" not in b])
    if use_wand is None:
        n_cand = sum(b["n"] for tb, _ in field_blocks
                     for _, bl in tb.values() for b in bl)
        use_wand = n_cand >= EXHAUSTIVE_CUTOFF
    if use_wand:
        field_cursors = [
            (avgdl, [_TermCursor(idf, bl, avgdl)
                     for idf, bl in tb.values()])
            for tb, avgdl in field_blocks]
        hits = multimatch_wand_arrays(field_cursors, k, mtype,
                                      tie_breaker, tombs)
    else:
        hits = multimatch_exhaustive_arrays(field_blocks, k, mtype,
                                            tie_breaker, tombs)
    return next(iter(engines.values())).hits_frame(hits)
