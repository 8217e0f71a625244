"""ES ``rescore`` — re-rank the top window of a cheap query with a more
expensive one.

The canonical ES pattern (public docs: query rescorer): a broad
``match`` query retrieves ``window_size`` hits per shard cheaply, then
a ``match_phrase`` rescorer re-scores ONLY that window and the page is
cut from the combined ordering — phrase precision at match-query cost.

Engine shape (driver kernel — the window is k-bounded driver state by
construction, ≤ ``max_result_window``, so there is nothing to
distribute):

1. Primary window: :meth:`..topk.SearchEngine.topk_wand` top
   ``window_size`` (cost-gated kernel / segment fan-out as always).
2. Secondary scores: :meth:`..topk.SearchEngine.phrase_topk` with
   ``allowed_docs`` = the window — candidate intersection and position
   verification run ONLY over window docs; a doc that doesn't match
   the rescore phrase contributes 0 (ES: the rescore query is a
   should-clause over the window).
3. Combine per ``score_mode`` and cut the top ``k``:
   ``total`` (ES default)  → qw×primary + rw×secondary
   ``multiply``            → (qw×primary) × (rw×secondary) when the
   doc matches the rescorer, else qw×primary (ES applies the rescorer
   only where it matches; both weights apply, matching QueryRescorer)
   ``max`` / ``min`` / ``avg`` over (qw×primary, rw×secondary) on
   matching docs, qw×primary otherwise.

Docs below the window keep their primary ordering in ES; this entry
returns ``k ≤ window_size`` rows, so the window IS the page universe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .topk import get_engine

SCORE_MODES = ("total", "multiply", "max", "min", "avg")


def _combine(p: np.ndarray, s: np.ndarray, matched: np.ndarray,
             mode: str, qw: float, rw: float) -> np.ndarray:
    pw, sw = qw * p, rw * s
    if mode == "total":
        return pw + sw
    if mode == "multiply":
        return np.where(matched, pw * sw, pw)
    if mode == "max":
        return np.where(matched, np.maximum(pw, sw), pw)
    if mode == "min":
        return np.where(matched, np.minimum(pw, sw), pw)
    return np.where(matched, (pw + sw) / 2.0, pw)


def rescore_topk(spark: SparkSession, index_dir: str, query_text: str,
                 rescore_phrase: str, k: int, window_size: int = 100,
                 query_weight: float = 1.0,
                 rescore_query_weight: float = 1.0,
                 score_mode: str = "total",
                 slop: int = 0) -> pd.DataFrame:
    """Top-k of the primary query's ``window_size`` best hits re-ranked
    by the phrase rescorer (ties doc_id asc).  ES allows
    ``window_size < k``: only the window is re-ranked; hits below it
    keep their primary score and order and follow the rescored window
    in the final page — emulated here the same way."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    eng = get_engine(spark, index_dir)
    prim = eng.topk_wand(query_text, max(k, window_size))
    if prim.empty:
        return prim
    urls = dict(zip(prim["doc_id"], prim["url"]))
    tail = prim.iloc[window_size:]
    prim = prim.iloc[:window_size]
    docs = prim["doc_id"].to_numpy(np.int64)
    ph = eng.phrase_topk(rescore_phrase, window_size,
                         allowed_docs=docs, slop=slop)
    smap = {int(d): float(s) for d, s in zip(ph["doc_id"], ph["score"])}
    p = prim["score"].to_numpy(np.float64)
    s = np.array([smap.get(int(d), 0.0) for d in docs])
    matched = np.array([int(d) in smap for d in docs])
    final = _combine(p, s, matched, score_mode,
                     float(query_weight), float(rescore_query_weight))
    order = np.lexsort((docs, -final))
    hits = [(float(final[i]), int(docs[i])) for i in order]
    hits += [(float(s), int(d)) for d, s in zip(tail["doc_id"],
                                                tail["score"])]
    return eng.hits_frame(hits[:k], urls)
