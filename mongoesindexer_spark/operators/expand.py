"""Term-expansion queries: ES ``fuzzy``, ``wildcard``, and the ``term``
suggester (did-you-mean).

ES serves both by expanding the query against the term dictionary
(Lucene intersects a Levenshtein automaton / wildcard automaton with the
FST) and rewriting to a bool query over the matched terms.  The engine
analog: a range-pruned scan of the value-sorted ``term_dict`` parquet
(``_RowGroupIndex.read_range`` — the FST stand-in), a vectorized
edit-distance kernel over the surviving candidates, then the existing
OR-BM25 serving paths over the expansion set.

Semantics (documented, oracle-pinned):

- ``fuzzy``: plain Levenshtein (transpositions=false — DuckDB's
  ``levenshtein`` is the oracle), ``fuzziness`` int or "AUTO"
  (ES AUTO:3,6 — 0 below 3 chars, 1 for 3–5, 2 from 6).  Expansion
  ranked (distance asc, df desc, term asc) capped at ``max_expansions``
  (ES default 50); each expanded term scores with its OWN idf and the
  per-doc scores sum — ES ``rewrite=scoring_boolean``.
- ``wildcard``: ``*``/``?`` glob, constant-score (Lucene's
  ``constant_score_blended`` rewrite — wildcard matches are a filter,
  not a relevance signal): the result is the doc_id set containing ANY
  matching term.

Scale: the candidate scan is bounded by the pattern's literal prefix
(``prefix_length`` for fuzzy) via a term_dict range read — row-group
pruned, no Spark job.  A zero-prefix fuzzy/leading-wildcard query scans
the full vocabulary (~|V| rows of two columns) exactly as ES warns for
``prefix_length=0``/leading wildcards; the scan is a driver-side Arrow
read of the dictionary, never of postings.
"""

from __future__ import annotations

import fnmatch
import re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .topk import SearchEngine, get_engine, live_mask

MAX_EXPANSIONS = 50
_HI = chr(0x10FFFF)


def auto_fuzziness(term: str) -> int:
    """ES ``fuzziness: AUTO`` (AUTO:3,6)."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


def levenshtein_batch(query: str, cands: "pd.Series | list[str]"
                      ) -> np.ndarray:
    """Plain Levenshtein distance from ``query`` to every candidate,
    one vectorized DP across all candidates at once (the row dimension
    is the candidate axis; the two loops are over the ≤~20-char string
    lengths, not over candidates)."""
    cands = list(cands)
    if not cands:
        return np.empty(0, dtype=np.int64)
    q = np.frombuffer(query.encode("utf-32-le"), dtype=np.uint32)
    lens = np.fromiter((len(c) for c in cands), dtype=np.int64,
                       count=len(cands))
    lmax = int(lens.max()) if lens.size else 0
    mat = np.zeros((len(cands), lmax), dtype=np.uint32)
    for i, c in enumerate(cands):
        if c:
            mat[i, :len(c)] = np.frombuffer(c.encode("utf-32-le"),
                                            dtype=np.uint32)
    prev = np.tile(np.arange(lmax + 1, dtype=np.int64), (len(cands), 1))
    for i in range(1, q.size + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(1, lmax + 1):
            sub = prev[:, j - 1] + (mat[:, j - 1] != q[i - 1])
            cur[:, j] = np.minimum(np.minimum(prev[:, j] + 1, sub),
                                   cur[:, j - 1] + 1)
        prev = cur
    return prev[np.arange(len(cands)), lens]


def _fuzzy_candidates(eng: SearchEngine, term: str, f: int,
                      prefix_length: int) -> pd.DataFrame:
    """Vocabulary terms within edit distance ``f`` of ``term``, ranked
    (distance asc, df desc, term asc) — columns (term, df, dist).

    The candidate read is a term_dict range scan on the shared literal
    prefix (``prefix_length`` > 0) — row-group pruned like every other
    dictionary point read; candidates are length-banded
    (|len − len(term)| ≤ f, a Levenshtein lower bound) before the DP
    kernel runs.  Shared by the fuzzy query and the term suggester."""
    lo, hi = (term[:prefix_length], term[:prefix_length] + _HI) \
        if prefix_length > 0 else ("", _HI)
    vocab = eng._rg_index("term_dict", "term").read_range(
        lo, hi, ["term", "df"])
    terms = vocab["term"].astype(str)
    keep = (terms.str.len() - len(term)).abs() <= f
    cand = vocab[keep]
    if cand.empty:
        return cand.assign(dist=pd.Series(dtype="int64"))
    dist = levenshtein_batch(term, cand["term"].astype(str))
    cand = cand.assign(dist=dist)
    cand = cand[cand["dist"] <= f]
    return cand.sort_values(["dist", "df", "term"],
                            ascending=[True, False, True])


def fuzzy_expand(eng: SearchEngine, term: str,
                 fuzziness: int | str = "AUTO",
                 prefix_length: int = 0,
                 max_expansions: int = MAX_EXPANSIONS) -> list[str]:
    """Index-vocabulary terms within edit distance of ``term``, ranked
    (distance asc, df desc, term asc), capped at ``max_expansions``."""
    f = auto_fuzziness(term) if fuzziness == "AUTO" else int(fuzziness)
    if f == 0:
        meta = eng._term_meta([term])
        return [term] if meta.get(term) is not None else []
    cand = _fuzzy_candidates(eng, term, f, prefix_length)
    return cand["term"].head(max_expansions).tolist()


def fuzzy_topk(spark: SparkSession, index_dir: str, term: str, k: int,
               fuzziness: int | str = "AUTO", prefix_length: int = 0,
               max_expansions: int = MAX_EXPANSIONS,
               search_after: tuple[float, int] | None = None,
               filter_field: str | None = None,
               filter_value=None,
               filter_normalized: bool = False,
               filters: "list[tuple] | None" = None) -> pd.DataFrame:
    """ES ``fuzzy`` query: expand, then OR-BM25 top-k over the expansion
    set through the engine's cost-gated serving paths (each expanded
    term scores with its own idf — ``rewrite=scoring_boolean``).
    ``filter_field``/``filter_value``/``search_after`` compose exactly
    as on :meth:`SearchEngine.topk_wand` (the expansion is just a
    pre-analyzed term set)."""
    eng = get_engine(spark, index_dir)
    exp = fuzzy_expand(eng, term, fuzziness, prefix_length, max_expansions)
    if not exp:
        return eng.hits_frame([])
    return eng.topk_wand("", k, analyzed_terms=exp,
                         search_after=search_after,
                         filter_field=filter_field,
                         filter_value=filter_value,
                         filter_normalized=filter_normalized,
                         filters=filters)


def term_suggest(spark: SparkSession, index_dir: str, text: str,
                 size: int = 5, max_edits: int = 2,
                 prefix_length: int = 1,
                 suggest_mode: str = "missing") -> pd.DataFrame:
    """ES ``term`` suggester (did-you-mean): per analyzed input term,
    the closest index-vocabulary terms ranked (edit distance asc, df
    desc, term asc), top ``size`` each.

    ``suggest_mode="missing"`` (ES default) suggests only for terms
    ABSENT from the index; ``"always"`` suggests for every term.  The
    identical term is never its own suggestion.  Candidates come from
    the same prefix-pruned term_dict range read + vectorized
    Levenshtein DP as :func:`fuzzy_expand` — a driver-side dictionary
    scan bounded by ``prefix_length``, no Spark job, no postings
    touched.  Plain Levenshtein (no transpositions), so DuckDB's
    ``levenshtein`` is the exact oracle.
    """
    if suggest_mode not in ("missing", "always"):
        raise ValueError("suggest_mode must be 'missing' or 'always'")
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2 (ES bounds)")
    if size <= 0:
        raise ValueError("size must be positive")
    from ..functions.analysis import analyze_search
    eng = get_engine(spark, index_dir)
    out = []
    seen = set()
    for term in analyze_search(text, eng.cfg):
        if term in seen:
            continue
        seen.add(term)
        if suggest_mode == "missing" \
                and eng._term_meta([term]).get(term) is not None:
            continue
        cand = _fuzzy_candidates(eng, term, max_edits, prefix_length)
        cand = cand[cand["term"].astype(str) != term].head(size)
        for r in cand.itertuples(index=False):
            out.append({"input_term": term, "suggestion": r.term,
                        "dist": int(r.dist), "df": int(r.df)})
    return pd.DataFrame(out, columns=["input_term", "suggestion",
                                      "dist", "df"])


def wildcard_pattern_bounds(pattern: str) -> tuple[str, str]:
    """Term_dict range bounds from the pattern's literal prefix — the
    scan-pruning ES gets from its wildcard automaton's common prefix."""
    m = re.match(r"[^*?\[\]]*", pattern)
    prefix = m.group(0) if m else ""
    return (prefix, prefix + _HI) if prefix else ("", _HI)


def wildcard_expand(eng: SearchEngine, pattern: str) -> list[str]:
    """Vocabulary terms matching the ``*``/``?`` glob, term-sorted."""
    lo, hi = wildcard_pattern_bounds(pattern)
    vocab = eng._rg_index("term_dict", "term").read_range(lo, hi, ["term"])
    rx = re.compile(fnmatch.translate(pattern))
    terms = [t for t in vocab["term"].astype(str).tolist() if rx.match(t)]
    return sorted(terms)


def regexp_expand(eng: SearchEngine, pattern: str) -> list[str]:
    """Vocabulary terms FULLY matching the regex (ES ``regexp`` anchors
    both ends, Lucene RegExp semantics for the common operators),
    term-sorted.  The scan is pruned by the pattern's literal prefix —
    the same bound Lucene gets from its automaton's common prefix."""
    # literal-prefix pruning is sound only when every alternative shares
    # it: a top-level '|' lets a branch bypass the leading literals, so
    # the prune must fall back to the full range (the automaton-common-
    # prefix computation Lucene does; this is its conservative subset)
    # the scan must not count escaped parens (\() or parens inside
    # character classes ([(]) as group opens — either would mask a real
    # top-level '|' and silently drop that branch's matches
    depth, top_level_alt = 0, False
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "[":
            i += 1
            if i < n and pattern[i] == "^":
                i += 1
            if i < n and pattern[i] == "]":
                i += 1
            while i < n and pattern[i] != "]":
                if pattern[i] == "\\":
                    i += 1
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            top_level_alt = True
            break
        i += 1
    m = re.match(r"[^\\.\[\]()*+?{}|^$]*", pattern)
    prefix = "" if top_level_alt else (m.group(0) if m else "")
    # a quantifier right after the literal run makes its LAST char
    # optional/repeatable ("ab?c" matches "ac") — drop it from the prune
    rest = pattern[len(prefix):]
    if prefix and rest[:1] in ("?", "*", "{"):
        prefix = prefix[:-1]
    lo, hi = (prefix, prefix + _HI) if prefix else ("", _HI)
    vocab = eng._rg_index("term_dict", "term").read_range(lo, hi, ["term"])
    rx = re.compile(pattern)
    return sorted(t for t in vocab["term"].astype(str).tolist()
                  if rx.fullmatch(t))


def regexp_match(spark: SparkSession, index_dir: str, pattern: str
                 ) -> pd.DataFrame:
    """ES ``regexp`` query, constant-score rewrite (like wildcard): the
    sorted doc_id set containing ANY term fully matching the regex."""
    eng = get_engine(spark, index_dir)
    return _terms_doc_set(eng, regexp_expand(eng, pattern))


def _terms_doc_set(eng: SearchEngine, terms: list[str]) -> pd.DataFrame:
    """Union of the terms' posting doc_ids, tombstone-masked — the
    constant-score doc set both wildcard and regexp rewrite to."""
    from ..functions.encode import decode_blocks_into
    from .topk import _block_arrays
    if not terms:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
    by_term = eng._term_blocks(terms)
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])
    arrs = [_block_arrays(b)[0] for bl in by_term.values() for b in bl]
    if not arrs:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
    docs = np.unique(np.concatenate(arrs))
    if eng.tombstones:
        docs = docs[live_mask(docs, eng)]
    return pd.DataFrame({"doc_id": docs.astype(np.int64)})


def wildcard_match(spark: SparkSession, index_dir: str, pattern: str
                   ) -> pd.DataFrame:
    """ES ``wildcard`` query, constant-score rewrite: the sorted doc_id
    set containing ANY term matching the glob (a filter, not a scorer).
    Postings of the matched terms are unioned from the decoded block
    cache; tombstoned docs are masked like every serving path."""
    eng = get_engine(spark, index_dir)
    return _terms_doc_set(eng, wildcard_expand(eng, pattern))
