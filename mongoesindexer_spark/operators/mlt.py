"""ES ``more_like_this`` — find documents similar to a given document.

ES's MLT (the discovery query its text mappings invite — reference
configs/ltd_doc.settings.json indexes entire documents as analyzed
text): pick the seed document's most "interesting" terms by tf×idf,
cap at ``max_query_terms`` (ES default 25), and run a bool-should
query over the selection, excluding the seed itself (ES ``like`` with
a document id).

Engine shape:

1. **Seed fetch** — the ≤1-row ``_source`` read (isin-pushed point
   read on the docs frame, same shape as highlighting's fetch).
2. **Term selection** — analyze the seed with the INDEX analyzer (so
   tf matches what the postings hold), drop terms under
   ``min_term_freq``/``min_doc_freq`` (ES noise gates), score each as
   tf × idf (idf from the term_dict point-read cache — no Spark job),
   keep the top ``max_query_terms`` (score desc, term asc).
3. **Serve** — the selection goes through
   :meth:`..topk.SearchEngine.topk_wand` via ``analyzed_terms`` (the
   same bypass the fuzzy expansion uses), inheriting the cost-gated
   kernel/segment-fan-out switch, tombstones, and every filter
   composition; the seed doc is dropped from the page.

Cost ∝ seed length + the selected terms' Σdf — never the corpus.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .topk import get_engine

MAX_QUERY_TERMS = 25


def mlt_select_terms(eng, text: str, max_query_terms: int = MAX_QUERY_TERMS,
                     min_term_freq: int = 1,
                     min_doc_freq: int = 1) -> list[str]:
    """The seed's top tf×idf terms (score desc, term asc), after the
    ES frequency gates.  Terms absent from the index can score nowhere
    and are dropped with the gates."""
    from ..functions.analysis import analyze_index
    tf = Counter(analyze_index(text, eng.cfg))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    meta = eng._term_meta(cand)
    scored = []
    for t in cand:
        m = meta.get(t)
        if m is None or m[1] < min_doc_freq:
            continue
        scored.append((tf[t] * m[0], t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:max_query_terms]]


def more_like_this_topk(spark: SparkSession, index_dir: str,
                        docs: DataFrame, like_doc_id: int, k: int,
                        max_query_terms: int = MAX_QUERY_TERMS,
                        min_term_freq: int = 1, min_doc_freq: int = 1,
                        text_col: str = "text") -> pd.DataFrame:
    """Top-k docs most similar to ``like_doc_id`` (BM25 over the seed's
    selected terms, seed excluded, ties doc_id asc).

    ``docs``: the _source table carrying (doc_id, ``text_col``) — the
    engine stores no term vectors (like ES with term_vector=no, which
    re-analyzes _source for MLT)."""
    if max_query_terms <= 0:
        raise ValueError("max_query_terms must be positive")
    eng = get_engine(spark, index_dir)
    row = (docs.filter(F.col("doc_id") == int(like_doc_id))
           .select(text_col).limit(1).collect())
    if not row or row[0][0] is None:
        raise KeyError(f"doc {like_doc_id} not found in docs frame "
                       f"(or has NULL {text_col!r})")
    terms = mlt_select_terms(eng, str(row[0][0]), max_query_terms,
                             min_term_freq, min_doc_freq)
    if not terms:
        return eng.hits_frame([])
    # k+1 covers the (typical) case of the seed ranking in the page —
    # capped at max_result_window so a legal k == cap stays legal (that
    # one edge may return k-1 rows when the seed is in the page)
    from .topk import MAX_RESULT_WINDOW
    page = eng.topk_wand("", min(k + 1, MAX_RESULT_WINDOW),
                         analyzed_terms=terms)
    page = page[page["doc_id"] != int(like_doc_id)].head(k)
    return page.reset_index(drop=True)
