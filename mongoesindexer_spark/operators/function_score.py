"""ES ``function_score`` with ``field_value_factor``.

ES rescales relevance by a per-doc numeric signal (recency, popularity,
length): ``score' = boost_mode(bm25_score, modifier(factor × value))``.
The factor changes the ORDER, so the top-k must be selected on the
combined score over the whole match set — a BM25 top-k page cannot just
be re-weighted.

Two paths, rank-identical (tested):

- ``locus="kernel"``: the vectorized score-all pass
  (:func:`..topk.match_scores_arrays`) gives (doc, bm25) for every
  candidate; the numeric doc values come from a CANDIDATE-BOUNDED point
  read of the doc-ordered ``fields`` table's ``<field>_num`` sub-field
  (the same read range-filter context uses — cost ∝ candidates, never
  corpus); combine + top-k in numpy.
- ``locus="spark"``: the engine's scored postings
  (``SearchEngine.scored_postings``, the query phase ``topk_df`` also
  runs) summed per doc, joined to the ``fields`` numeric sub-field,
  combined in codegen arithmetic, TakeOrderedAndProject; urls are
  point-read for the k winners (``SearchEngine.fetch_top``) — the
  head-term-scale path.

Modifiers: ``none`` (factor×v), ``log1p`` (ln(1 + factor×v)), ``sqrt``;
boost_mode: ``multiply`` (ES default) or ``sum``.  Docs with a NULL
value take ``missing`` (default 1.0) as the raw value before the
modifier — ES's ``missing`` parameter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .topk import SearchEngine, _query_terms, get_engine, live_mask, \
    match_scores_arrays

MODIFIERS = ("none", "log1p", "sqrt")
BOOST_MODES = ("multiply", "sum")
DECAY_FNS = ("gauss", "exp", "linear")


def _weight_np(v: np.ndarray, factor: float, modifier: str) -> np.ndarray:
    x = factor * v
    if modifier == "log1p":
        return np.log1p(x)
    if modifier == "sqrt":
        return np.sqrt(x)
    return x


def _weight_col(c, factor: float, modifier: str):
    x = c * F.lit(factor)
    if modifier == "log1p":
        return F.log1p(x)
    if modifier == "sqrt":
        return F.sqrt(x)
    return x


def _check_numeric_sub(eng: SearchEngine, field: str) -> str:
    sub = f"{field}_num"
    names = eng._rg_index("fields", "doc_id").files
    if names and sub not in names[0].schema_arrow.names:
        raise KeyError(
            f"fields table has no numeric sub-field {sub!r} — was the "
            f"index built with numeric_fields=({field!r},)?")
    return sub


def _kernel_candidates(eng: SearchEngine, query_text: str
                       ) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, bm25 scores) for every live candidate of the query —
    the vectorized score-all pass shared by the rescoring entry points
    (cost ∝ the query terms' Σdf, never the corpus)."""
    td = eng.plan(_query_terms(query_text, eng.cfg)).idf
    by_term = eng._term_blocks(list(td))
    from ..functions.encode import decode_blocks_into
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])
    uniq, bm25, _ = match_scores_arrays(
        {t: (td[t], by_term[t]) for t in td if t in by_term},
        eng.avgdl, need_counts=False)
    if uniq.size and eng.tombstones:
        keep = live_mask(uniq, eng)
        uniq, bm25 = uniq[keep], bm25[keep]
    return uniq, bm25


def _candidate_values(eng: SearchEngine, uniq: np.ndarray, sub: str,
                      missing: float) -> np.ndarray:
    """Candidate-bounded point read of the doc-ordered ``fields``
    numeric sub-field (the same read range-filter context uses)."""
    vals = eng._rg_index("fields", "doc_id").read_isin(
        [int(d) for d in uniq], ["doc_id", sub])
    vmap = vals.set_index("doc_id")[sub]
    return vmap.reindex(uniq).astype("float64").fillna(float(missing)).values


def _topk_frame(eng: SearchEngine, uniq: np.ndarray, score: np.ndarray,
                k: int) -> pd.DataFrame:
    order = np.lexsort((uniq, -score))[:k]
    return eng.hits_frame([(float(score[i]), int(uniq[i])) for i in order])


def function_score_topk(spark: SparkSession, index_dir: str,
                        query_text: str, k: int, field: str,
                        factor: float = 1.0, modifier: str = "log1p",
                        boost_mode: str = "multiply",
                        missing: float = 1.0,
                        locus: str = "kernel") -> pd.DataFrame:
    """Top-k by ``boost_mode(bm25, modifier(factor × <field>_num))``
    over the full match set (ties doc_id asc)."""
    if modifier not in MODIFIERS:
        raise ValueError(f"modifier must be one of {MODIFIERS}")
    if boost_mode not in BOOST_MODES:
        raise ValueError(f"boost_mode must be one of {BOOST_MODES}")
    eng = get_engine(spark, index_dir)
    sub = _check_numeric_sub(eng, field)
    if locus == "spark":
        return _function_score_df(eng, query_text, k, sub, factor,
                                  modifier, boost_mode, missing).toPandas()
    if locus != "kernel":
        raise ValueError("locus must be 'kernel' or 'spark'")
    uniq, bm25 = _kernel_candidates(eng, query_text)
    if uniq.size == 0:
        return eng.hits_frame([])
    v = _candidate_values(eng, uniq, sub, missing)
    w = _weight_np(v, factor, modifier)
    score = bm25 * w if boost_mode == "multiply" else bm25 + w
    return _topk_frame(eng, uniq, score, k)


# ---------------------------------------------------------------------------
# decay functions (ES function_score: gauss / exp / linear)
# ---------------------------------------------------------------------------


def _decay_np(v: np.ndarray, fn: str, origin: float, scale: float,
              offset: float, decay: float) -> np.ndarray:
    """ES decay weight per value (public formulas, ES function-score
    docs): dist = max(0, |v − origin| − offset);
    gauss  → exp(ln(decay) × (dist/scale)²)
    exp    → exp(ln(decay) × dist/scale)
    linear → max(0, (s − dist)/s), s = scale/(1 − decay)."""
    dist = np.maximum(np.abs(v - origin) - offset, 0.0)
    if fn == "gauss":
        return np.exp(np.log(decay) * (dist / scale) ** 2)
    if fn == "exp":
        return np.exp(np.log(decay) * dist / scale)
    s = scale / (1.0 - decay)
    return np.maximum((s - dist) / s, 0.0)


def _decay_col(c, fn: str, origin: float, scale: float, offset: float,
               decay: float):
    """Codegen twin of :func:`_decay_np` — same arithmetic, JVM-side."""
    import math
    dist = F.greatest(F.abs(c - F.lit(origin)) - F.lit(offset), F.lit(0.0))
    if fn == "gauss":
        return F.exp(F.lit(math.log(decay)) * F.pow(dist / F.lit(scale),
                                                    F.lit(2.0)))
    if fn == "exp":
        return F.exp(F.lit(math.log(decay)) * dist / F.lit(scale))
    s = scale / (1.0 - decay)
    return F.greatest((F.lit(s) - dist) / F.lit(s), F.lit(0.0))


def decay_score_topk(spark: SparkSession, index_dir: str, query_text: str,
                     k: int, field: str, origin: float, scale: float,
                     offset: float = 0.0, decay: float = 0.5,
                     fn: str = "gauss", boost_mode: str = "multiply",
                     missing: float | None = None,
                     locus: str = "kernel") -> pd.DataFrame:
    """ES ``function_score`` decay (``gauss``/``exp``/``linear``) on a
    numeric doc value — the recency/proximity boost ES mappings with
    "type": "date"/"integer" fields exist to serve: score' =
    boost_mode(bm25, decay_fn(|v − origin|)).

    Same two loci as :func:`function_score_topk`, rank-identical
    (tested): the kernel's candidate-bounded ``fields`` point read +
    numpy weights, or the distributed score frame + codegen weights.
    ``missing`` (default: ``origin``, i.e. weight 1.0 — ES requires a
    value, we pin the least-surprising default) substitutes for NULL
    doc values BEFORE the distance computation.
    """
    if fn not in DECAY_FNS:
        raise ValueError(f"fn must be one of {DECAY_FNS}")
    if boost_mode not in BOOST_MODES:
        raise ValueError(f"boost_mode must be one of {BOOST_MODES}")
    if not 0.0 < decay < 1.0:
        raise ValueError("decay must be in (0, 1)")
    if scale <= 0.0:
        raise ValueError("scale must be positive")
    if offset < 0.0:
        raise ValueError("offset must be non-negative")
    if missing is None:
        missing = float(origin)
    eng = get_engine(spark, index_dir)
    sub = _check_numeric_sub(eng, field)
    if locus == "spark":
        return _decay_score_df(eng, query_text, k, sub, fn, origin, scale,
                               offset, decay, boost_mode,
                               missing).toPandas()
    if locus != "kernel":
        raise ValueError("locus must be 'kernel' or 'spark'")
    uniq, bm25 = _kernel_candidates(eng, query_text)
    if uniq.size == 0:
        return eng.hits_frame([])
    v = _candidate_values(eng, uniq, sub, missing)
    w = _decay_np(v, fn, origin, scale, offset, decay)
    score = bm25 * w if boost_mode == "multiply" else bm25 + w
    return _topk_frame(eng, uniq, score, k)


def _decay_score_df(eng: SearchEngine, query_text: str, k: int, sub: str,
                    fn: str, origin: float, scale: float, offset: float,
                    decay: float, boost_mode: str,
                    missing: float) -> DataFrame:
    """Distributed twin of the decay kernel path — the same plan as
    ``_function_score_df`` with the decay weight in codegen."""
    w = _decay_col(F.coalesce(F.col(sub).cast("double"),
                              F.lit(float(missing))),
                   fn, origin, scale, offset, decay)
    return _combined_top(eng, query_text, k, sub, w, boost_mode)


def _function_score_df(eng: SearchEngine, query_text: str, k: int,
                       sub: str, factor: float, modifier: str,
                       boost_mode: str, missing: float) -> DataFrame:
    """Distributed twin of the field_value_factor kernel path."""
    w = _weight_col(F.coalesce(F.col(sub).cast("double"),
                               F.lit(float(missing))), factor, modifier)
    return _combined_top(eng, query_text, k, sub, w, boost_mode)


def _combined_top(eng: SearchEngine, query_text: str, k: int, sub: str,
                  w, boost_mode: str) -> DataFrame:
    """The Spark locus of both function_score shapes.  Query phase: the
    per-doc BM25 frame multi_match and boosting also score from
    (:func:`..multi_match._field_scores_df`) left-joined to the
    ``fields`` numeric sub-field ``sub`` and combined with the weight
    column ``w`` in whole-stage codegen; fetch phase:
    :meth:`..topk.SearchEngine.fetch_top`."""
    from .build_index import read_fields
    from .multi_match import _field_scores_df
    bm25 = _field_scores_df(eng, query_text, 1.0) \
        .withColumnRenamed("score", "bm25")
    vals = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    combined = (bm25.join(vals, "doc_id", "left")
                .withColumn("score",
                            F.col("bm25") * w if boost_mode == "multiply"
                            else F.col("bm25") + w))
    return eng.fetch_top(combined, k)


# ---------------------------------------------------------------------------
# rank_feature query (ES rank_feature inside bool.should — Q45)
# ---------------------------------------------------------------------------

RANK_FEATURE_FUNCTIONS = ("saturation", "log", "sigmoid")


def _rank_feature_np(v: "np.ndarray", function: str, pivot: float,
                     scaling_factor: float, exponent: float
                     ) -> "np.ndarray":
    """ES rank_feature score functions (public formulas, ES
    rank-feature docs): saturation → x/(x+pivot); log →
    ln(scaling_factor + x); sigmoid → x^exp / (x^exp + pivot^exp)."""
    if function == "saturation":
        return v / (v + pivot)
    if function == "log":
        return np.log(scaling_factor + v)
    xe = np.power(v, exponent)
    return xe / (xe + pivot ** exponent)


def rank_feature_topk(spark: SparkSession, index_dir: str,
                      query_text: str, k: int, field: str,
                      function: str = "saturation",
                      pivot: float | None = None,
                      scaling_factor: float = 1.0,
                      exponent: float = 1.0,
                      boost: float = 1.0) -> pd.DataFrame:
    """ES ``bool: {must: match, should: rank_feature}`` — the modern
    static-signal ranking composition (pagerank/url_length-style
    features): final = BM25 + boost × f(feature), f per
    RANK_FEATURE_FUNCTIONS.  ``pivot`` is REQUIRED for
    saturation/sigmoid (ES derives a default from the feature's
    approximate geometric mean; an explicit pivot keeps the score
    oracle-exact and cluster-reproducible).  Docs with a missing
    feature value get NO feature contribution (ES: the rank_feature
    clause simply doesn't match), and candidate resolution stays
    bounded: the feature read is the same candidate point-read as
    range-filter context."""
    if function not in RANK_FEATURE_FUNCTIONS:
        raise ValueError(
            f"function must be one of {RANK_FEATURE_FUNCTIONS}")
    if function in ("saturation", "sigmoid") and pivot is None:
        raise ValueError(f"{function} needs an explicit pivot")
    eng = get_engine(spark, index_dir)
    sub = _check_numeric_sub(eng, field)
    uniq, bm25 = _kernel_candidates(eng, query_text)
    if uniq.size == 0:
        return eng.hits_frame([])
    v = _candidate_values(eng, uniq, sub, float("nan"))
    w = _rank_feature_np(v, function, pivot if pivot is not None
                         else 1.0, scaling_factor, exponent)
    w = np.where(np.isnan(v), 0.0, w)
    return _topk_frame(eng, uniq, bm25 + boost * w, k)


# ---------------------------------------------------------------------------
# function_score with a FUNCTION ARRAY (ES score_mode/boost_mode — Q48)
# ---------------------------------------------------------------------------

FS_SCORE_MODES = ("multiply", "sum", "avg", "first", "max", "min")
FS_BOOST_MODES = ("multiply", "replace", "sum", "avg", "max", "min")


def function_score_compose_topk(spark: SparkSession, index_dir: str,
                                query_text: str, k: int,
                                functions: "list[dict]",
                                score_mode: str = "multiply",
                                boost_mode: str = "multiply",
                                max_boost: float | None = None,
                                min_score: float | None = None
                                ) -> pd.DataFrame:
    """ES ``function_score`` with a FUNCTION ARRAY — the full composed
    form: each function optionally gated by a filter clause and scaled
    by ``weight``; matching functions combine per ``score_mode``
    (``avg`` is the ES weighted average Σwf/Σw; ``first`` takes the
    first matching function in array order), the combined factor caps
    at ``max_boost``, joins the query score per ``boost_mode``
    (``replace`` discards BM25), and ``min_score`` drops docs below the
    final score.  A doc matching NO function keeps factor 1.0 — all ES
    function-score documented semantics.

    ``functions`` entries (dicts):
      ``{"kind": "field_value_factor", "field", "factor", "modifier",
         "missing", "weight", "filter"}``
      ``{"kind": "gauss"|"exp"|"linear", "field", "origin", "scale",
         "offset", "decay", "missing", "weight", "filter"}``
      ``{"kind": "weight", "weight", "filter"}`` (pure weight function)
    ``filter``: ``(field, value)`` or ``(field, value, normalized)`` —
    any clause shape the engine's filter context accepts, resolved
    CANDIDATE-BOUNDED per function (the same `filter_candidates` path
    every serving filter uses, cost ∝ candidates per function)."""
    if score_mode not in FS_SCORE_MODES:
        raise ValueError(f"score_mode must be one of {FS_SCORE_MODES}")
    if boost_mode not in FS_BOOST_MODES:
        raise ValueError(f"boost_mode must be one of {FS_BOOST_MODES}")
    if not functions:
        raise ValueError("function_score needs at least one function")
    eng = get_engine(spark, index_dir)
    uniq, bm25 = _kernel_candidates(eng, query_text)
    if uniq.size == 0:
        return eng.hits_frame([])
    vals, weights, masks = [], [], []
    for fn in functions:
        kind = fn.get("kind")
        w = float(fn.get("weight", 1.0))
        if kind == "field_value_factor":
            sub = _check_numeric_sub(eng, fn["field"])
            v = _candidate_values(eng, uniq, sub,
                                  float(fn.get("missing", 1.0)))
            f = _weight_np(v, float(fn.get("factor", 1.0)),
                           fn.get("modifier", "log1p"))
        elif kind in DECAY_FNS:
            sub = _check_numeric_sub(eng, fn["field"])
            origin = float(fn["origin"])
            v = _candidate_values(eng, uniq, sub,
                                  float(fn.get("missing", origin)))
            f = _decay_np(v, kind, origin, float(fn["scale"]),
                          float(fn.get("offset", 0.0)),
                          float(fn.get("decay", 0.5)))
        elif kind == "weight":
            f = np.ones(uniq.size, dtype=np.float64)
        else:
            raise ValueError(f"unknown function kind {kind!r}")
        flt = fn.get("filter")
        if flt is not None:
            fld, val, *nrm = flt
            sub_f, values = eng._resolve_filter(
                fld, val, bool(nrm[0]) if nrm else False)
            allowed = eng._filter_allowed_list(uniq, [(sub_f, values)])
            mask = np.isin(uniq, allowed)
        else:
            mask = np.ones(uniq.size, dtype=bool)
        vals.append(w * f)
        weights.append(w)
        masks.append(mask)
    any_match = np.logical_or.reduce(masks)
    if score_mode == "multiply":
        comb = np.ones(uniq.size)
        for m, v in zip(masks, vals):
            comb = np.where(m, comb * v, comb)
    elif score_mode == "sum":
        comb = np.zeros(uniq.size)
        for m, v in zip(masks, vals):
            comb = np.where(m, comb + v, comb)
    elif score_mode == "avg":
        num = np.zeros(uniq.size)
        den = np.zeros(uniq.size)
        for m, v, w in zip(masks, vals, weights):
            num = np.where(m, num + v, num)
            den = np.where(m, den + w, den)
        comb = np.where(den > 0, num / np.where(den > 0, den, 1.0), 1.0)
    elif score_mode == "first":
        comb = np.ones(uniq.size)
        assigned = np.zeros(uniq.size, dtype=bool)
        for m, v in zip(masks, vals):
            take = m & ~assigned
            comb = np.where(take, v, comb)
            assigned |= m
    elif score_mode == "max":
        comb = np.full(uniq.size, -np.inf)
        for m, v in zip(masks, vals):
            comb = np.where(m, np.maximum(comb, v), comb)
    else:  # min
        comb = np.full(uniq.size, np.inf)
        for m, v in zip(masks, vals):
            comb = np.where(m, np.minimum(comb, v), comb)
    comb = np.where(any_match, comb, 1.0)   # no matching fn ⇒ factor 1
    if max_boost is not None:
        comb = np.minimum(comb, float(max_boost))
    if boost_mode == "multiply":
        score = bm25 * comb
    elif boost_mode == "replace":
        score = comb
    elif boost_mode == "sum":
        score = bm25 + comb
    elif boost_mode == "avg":
        score = (bm25 + comb) / 2.0
    elif boost_mode == "max":
        score = np.maximum(bm25, comb)
    else:
        score = np.minimum(bm25, comb)
    if min_score is not None:
        keep = score >= float(min_score)
        uniq, score = uniq[keep], score[keep]
        if uniq.size == 0:
            return eng.hits_frame([])
    return _topk_frame(eng, uniq, score, k)
