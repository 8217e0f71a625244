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
  body" queries.  Scoring contract (engine spec, oracle-pinned): the
  qualifying occurrences form a pseudo-term with tf = count of
  positions < ``end``, scored BM25 like the phrase pseudo-term
  (documented delta vs Lucene's SpanScorer sloppy-freq weighting, which
  down-weights longer spans — a span_term match has length 1, so for
  the term-clause case the doc SET is identical and only the tf
  weighting differs).

Cost: one term's blocks fetched via the block cache (point read, no
Spark job), positions decoded lazily; the per-posting qualifying count
is one vectorized ``reduceat`` — never a per-position Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .topk import (B, K1, _block_arrays, _block_positions, get_engine)
from ..functions.analysis import analyze_search


def span_first_topk(spark: SparkSession, index_dir: str, term: str,
                    end: int, k: int) -> pd.DataFrame:
    """ES ``span_first{match: span_term, end}``: top-k docs where the
    analyzed term occurs at a 0-based position < ``end``, scored as the
    module-doc pseudo-term — (doc_id, url, score), score desc / doc_id
    asc."""
    from .topk import _check_k
    _check_k(k)
    if end <= 0:
        raise ValueError("end must be positive (ES span_first end is "
                         "an exclusive 0-based position bound)")
    eng = get_engine(spark, index_dir)
    if not eng.has_positions:
        raise ValueError(
            f"index at {index_dir!r} was built without positions "
            "(index_positions=False) — span queries need position "
            "streams")
    toks = analyze_search(term, eng.cfg)
    empty = eng.hits_frame([])
    if len(toks) != 1:
        raise ValueError("span_first wraps a single span_term clause — "
                         f"got {len(toks)} analyzed tokens from "
                         f"{term!r} (use span_near/phrase for "
                         "multi-token spans)")
    t = toks[0]
    meta = eng._term_meta([t])
    if meta.get(t) is None:
        return empty
    from .topk import SEGMENT_FANOUT_CUTOFF
    if meta[t][1] >= SEGMENT_FANOUT_CUTOFF:
        raise ValueError(
            f"span_first on {t!r} (df {meta[t][1]}) exceeds the driver "
            f"candidate budget ({SEGMENT_FANOUT_CUTOFF}) — a head term's "
            "blocks must not decode driver-side; a per-segment "
            "span_first kernel is the fan-out extension point")
    idf = meta[t][0]
    blocks = sorted(eng._term_blocks([t]).get(t) or [],
                    key=lambda b: b["first_doc"])
    if not blocks:
        return empty
    from ..functions.encode import decode_blocks_into
    decode_blocks_into([b for b in blocks if "_arrs" not in b])
    doc_parts, tf_parts, dl_parts = [], [], []
    for b in blocks:
        docs, _tfs, dls = _block_arrays(b)
        flat, ends = _block_positions(b)
        # DISTINCT qualifying positions per posting (duplicate analyzer
        # emissions at one position count once, the phrase_freq
        # convention): pack (posting_row, position) and unique
        rows = np.repeat(np.arange(docs.size, dtype=np.int64),
                         np.diff(np.concatenate(([0], ends)))
                         .astype(np.int64))
        qm = flat < end
        keys = (rows[qm] << np.int64(32)) | flat[qm].astype(np.int64)
        uk = np.unique(keys)
        cnt = np.bincount((uk >> np.int64(32)),
                          minlength=docs.size).astype(np.int64)
        m = cnt > 0
        doc_parts.append(docs[m])
        tf_parts.append(cnt[m].astype(np.float64))
        dl_parts.append(dls[m].astype(np.float64))
    docs = np.concatenate(doc_parts)
    tfs = np.concatenate(tf_parts)
    dls = np.concatenate(dl_parts)
    if eng.tombstones and docs.size:
        m = ~np.isin(docs, np.fromiter(eng.tombstones, dtype=np.int64))
        docs, tfs, dls = docs[m], tfs[m], dls[m]
    if docs.size == 0:
        return empty
    scores = idf * tfs * (K1 + 1.0) / (
        tfs + K1 * (1.0 - B + B * dls / eng.avgdl))
    order = np.lexsort((docs, -scores))[:k]
    return eng.hits_frame([(float(scores[i]), int(docs[i])) for i in order])
