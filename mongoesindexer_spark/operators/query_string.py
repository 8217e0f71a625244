"""ES ``simple_query_string`` — the forgiving operator-syntax query
(Q37): ``data +query -merge "exact phrase"``.

The reference exposes search through ES request bodies; every ES search
box front-ends this query type (it never throws on syntax — unsupported
constructs degrade to literal text).  Supported subset, documented:

- bare token  → ``should`` clause (scored OR) — or ``must`` when
  ``default_operator="and"`` (the ES parameter)
- ``+token``  → ``must`` clause (required, scored)
- ``-token``  → ``must_not`` clause (excluding, non-scoring)
- ``"a b"``   → phrase clause (quoted; ``+``/``-`` prefixes apply)
- everything else (``|``, ``*``, ``~N``, parens) is treated as literal
  text by the analyzer — ES's own flags mechanism disables operators
  the same way; this subset is the ``AND|OR|NOT|PHRASE|PRECEDENCE``-free
  core every client uses first.

Each clause's text runs through the SEARCH ANALYZER; a multi-token term
clause contributes all its tokens with the clause's polarity (a must
clause with word_delimiter splits requires every split token — ES match
with operator=and).  Duplicate scored terms dedupe (one TermQuery per
unique term, as the engine's other entry points).

Scoring is the ES bool-query sum: BM25 term contributions over every
scored (must + should) term present in the doc, PLUS the Lucene
PhraseQuery BM25 score of every scored phrase present — candidates
restricted to docs matching ALL must clauses and NO must_not clause.
With no must clause (OR default), the candidate universe is the union
of the scored clauses' matchers (minimum_should_match=1).

Execution loci:

- :func:`simple_query_string_topk` — the serving path: driver kernel
  over the decoded posting blocks (vectorized numpy, no Spark job),
  phrases via the positional phrase kernel restricted to the candidate
  set.  Gated by the engine's one locus planner,
  :meth:`SearchEngine.plan` over every referenced term: when it fans
  out, term-only queries transparently fall back to the distributed
  locus, phrase-bearing queries raise with the cutoff named (the
  fan-out phrase kernel scores pure phrases, not mixed term+phrase sums
  — a per-group mixed kernel is the documented extension point).
  :func:`match_bool_prefix_topk` asks the same planner, with the prefix
  expansions' df as ``extra_df``, and raises when it fans out.
- :func:`simple_query_string_df` — the distributed locus (term clauses
  only): ONE term-pushed postings scan, one shuffled aggregation
  computing score, must-coverage and exclusion flags together —
  scale-safe at any hit-set size; urls are point-read for the k winners
  (``SearchEngine.fetch_top``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .topk import (B, K1, RESULT_DDL, SearchEngine, _block_arrays,
                   get_engine, live_mask, phrase_topk_arrays)
from ..functions.analysis import analyze_search
from ..functions.encode import decode_blocks_into


def parse_simple_query_string(q: str, default_operator: str = "or"
                              ) -> list[tuple[str, str, bool]]:
    """``[(kind, text, is_phrase)]`` with kind ∈ must/should/not.
    Never raises on syntax (ES contract): an unterminated quote runs to
    the end, a lone ``+``/``-`` is dropped."""
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    bare = "must" if default_operator == "and" else "should"
    out: list[tuple[str, str, bool]] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        op = None
        if c in "+-":
            op = c
            i += 1
            if i >= n:
                break
        if i < n and q[i] == '"':
            j = q.find('"', i + 1)
            text = q[i + 1:] if j == -1 else q[i + 1:j]
            i = n if j == -1 else j + 1
            is_phrase = True
        else:
            j = i
            while j < n and not q[j].isspace():
                j += 1
            text, i, is_phrase = q[i:j], j, False
        if not text.strip():
            continue
        kind = "not" if op == "-" else ("must" if op == "+" else bare)
        out.append((kind, text, is_phrase))
    return out


def _analyzed(eng: SearchEngine, clauses) -> tuple:
    """(must_terms, should_terms, not_terms, phrases) — phrases as
    (kind, ordered_token_list); term sets deduplicated."""
    must, should, nots, phrases = set(), set(), set(), []
    for kind, text, is_phrase in clauses:
        toks = analyze_search(text, eng.cfg)
        if not toks:
            continue
        if is_phrase and len(toks) > 1:
            phrases.append((kind, toks))
        else:
            # single-token "phrase" degrades to a term clause, like ES
            tgt = {"must": must, "should": should, "not": nots}[kind]
            tgt.update(toks)
    return must, should, nots, phrases


def _term_docs(eng: SearchEngine, by_term: dict, t: str) -> np.ndarray:
    """Sorted doc array of one term (blocks are doc-disjoint and
    first_doc-ordered, so the concat is sorted ascending)."""
    bl = sorted(by_term.get(t) or [], key=lambda b: b["first_doc"])
    if not bl:
        return np.empty(0, dtype=np.int64)
    return np.concatenate([_block_arrays(b)[0] for b in bl])


def simple_query_string_topk(spark: SparkSession, index_dir: str,
                             query: str, k: int,
                             default_operator: str = "or"
                             ) -> pd.DataFrame:
    """Serving-path top-k for ``simple_query_string`` (module doc) —
    columns (doc_id, url, score), score desc / doc_id asc."""
    from .topk import _check_k
    _check_k(k)
    eng = get_engine(spark, index_dir)
    clauses = parse_simple_query_string(query, default_operator)
    must, should, nots, phrases = _analyzed(eng, clauses)
    empty = eng.hits_frame([])
    all_terms = sorted(must | should | nots
                       | {t for _, ts in phrases for t in ts})
    if not all_terms:
        return empty
    if phrases and not eng.has_positions:
        raise ValueError(
            "quoted phrase clauses need an index built with "
            "index_positions=True")
    plan = eng.plan(all_terms)
    idf = plan.idf
    if any(t not in idf for t in must):
        return empty            # a required term absent from the corpus
    if plan.fan_out:
        if phrases:
            raise ValueError(
                "simple_query_string with phrase clauses exceeds the "
                f"driver candidate budget (Σdf {plan.total_df} is at or "
                "above SEGMENT_FANOUT_CUTOFF); narrow the query or drop "
                "the quoted phrases (term clauses fall back to the "
                "distributed locus automatically)")
        return simple_query_string_df(
            spark, index_dir, query, k, default_operator).toPandas()
    by_term = eng._term_blocks(list(idf))
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])

    # phrase matchers (scores + doc sets), unrestricted first — the
    # candidate algebra below needs must-phrase sets
    phrase_hits: list[tuple[str, np.ndarray, np.ndarray]] = []
    for kind, toks in phrases:
        uniq = list(dict.fromkeys(toks))
        if any(t not in idf for t in uniq):
            if kind == "must":
                return empty
            continue            # should/not phrase with a dead term
        hits = phrase_topk_arrays(toks, idf, by_term, eng.avgdl,
                                  1 << 31, eng.tombstones)
        pd_arr = np.array([d for _, d in hits], dtype=np.int64)
        ps_arr = np.array([s for s, _ in hits], dtype=np.float64)
        order = np.argsort(pd_arr)
        phrase_hits.append((kind, pd_arr[order], ps_arr[order]))

    # candidate set: ∩ must matchers, − not matchers; OR default with
    # no must clause → ∪ scored matchers
    cand: np.ndarray | None = None
    for t in sorted(must):
        d = _term_docs(eng, by_term, t)
        cand = d if cand is None else np.intersect1d(cand, d,
                                                     assume_unique=True)
    for kind, pd_arr, _ in phrase_hits:
        if kind == "must":
            cand = pd_arr if cand is None else \
                np.intersect1d(cand, pd_arr, assume_unique=True)
    if cand is None:
        parts = [_term_docs(eng, by_term, t) for t in sorted(should)
                 if t in by_term]
        parts += [pd_arr for kind, pd_arr, _ in phrase_hits
                  if kind == "should"]
        if not parts:
            return empty
        cand = np.unique(np.concatenate(parts))
    for t in sorted(nots):
        d = _term_docs(eng, by_term, t)
        if d.size:
            cand = cand[~np.isin(cand, d)]
    for kind, pd_arr, _ in phrase_hits:
        if kind == "not":
            cand = cand[~np.isin(cand, pd_arr)]
    if eng.tombstones and cand.size:
        cand = cand[live_mask(cand, eng)]
    if cand.size == 0:
        return empty

    # score = Σ scored-term BM25 contribs + Σ scored-phrase scores,
    # restricted to candidates (one vectorized pass per clause)
    doc_parts, score_parts = [], []
    for t in sorted(must | should):
        bl = sorted(by_term.get(t) or [], key=lambda b: b["first_doc"])
        if not bl:
            continue
        docs = np.concatenate([_block_arrays(b)[0] for b in bl])
        tfs = np.concatenate([_block_arrays(b)[1] for b in bl]) \
            .astype(np.float64)
        dls = np.concatenate([_block_arrays(b)[2] for b in bl]) \
            .astype(np.float64)
        m = np.isin(docs, cand)
        if not m.any():
            continue
        contrib = idf[t] * tfs[m] * (K1 + 1.0) / (
            tfs[m] + K1 * (1.0 - B + B * dls[m] / eng.avgdl))
        doc_parts.append(docs[m])
        score_parts.append(contrib)
    for kind, pd_arr, ps_arr in phrase_hits:
        if kind == "not":
            continue
        m = np.isin(pd_arr, cand)
        doc_parts.append(pd_arr[m])
        score_parts.append(ps_arr[m])
    if not doc_parts:
        return empty
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, scores)
    order = np.lexsort((uniq, -agg))[:k]
    return eng.hits_frame([(float(agg[i]), int(uniq[i])) for i in order])


def match_bool_prefix_topk(spark: SparkSession, index_dir: str,
                           query: str, k: int, operator: str = "or"
                           ) -> pd.DataFrame:
    """ES ``match_bool_prefix`` (Q38) — the non-phrase autocomplete
    query: every analyzed token but the last is a term clause, the last
    token a PREFIX clause.  Term clauses score BM25; the prefix clause
    rewrites constant-score (Lucene prefix query under
    ``constant_score_blended`` — matching docs add exactly 1.0,
    regardless of which or how many expansions hit).  ``operator``:
    ``"or"`` (ES default — any clause admits a doc) or ``"and"``
    (every term clause AND the prefix clause must match).

    The prefix matcher is the constant-score doc-set union the wildcard
    query uses (term_dict range read bounded by the prefix — the FST
    common-prefix analog — postings unioned from the block cache);
    term scoring is the same vectorized block pass as
    :func:`simple_query_string_topk`.  Driver-kernel locus; the same
    Σ df budget applies (a head-term autocomplete at corpus scale
    should route to the completion table, T7, which serves prefixes
    point-read)."""
    from .expand import _terms_doc_set, _HI
    from .topk import _check_k
    _check_k(k)
    if operator not in ("or", "and"):
        raise ValueError("operator must be 'or' or 'and'")
    eng = get_engine(spark, index_dir)
    toks = analyze_search(query, eng.cfg)
    empty = eng.hits_frame([])
    if not toks:
        return empty
    *full, prefix = toks
    full = sorted(set(full))
    vocab = eng._rg_index("term_dict", "term").read_range(
        prefix, prefix + _HI, ["term", "df"])
    expansions = sorted(vocab["term"].astype(str).tolist())
    # enforce the driver budget the docstring promises: the prefix
    # clause's doc-set union and the term clauses both decode their
    # postings driver-side, so Σ df over the expansions AND the terms
    # must fit the kernel locus — a head-prefix autocomplete at corpus
    # scale belongs on the completion table (T7)
    plan = eng.plan(full, extra_df=int(vocab["df"].sum()) if len(vocab)
                    else 0)
    live = list(plan.idf)
    if plan.fan_out:
        raise ValueError(
            "match_bool_prefix exceeds the driver candidate budget (Σdf "
            f"{plan.total_df} over the prefix {prefix!r} expansions and "
            "the term clauses is at or above SEGMENT_FANOUT_CUTOFF); "
            "serve broad autocomplete from the completion table "
            "(SearchEngine.suggest, T7), lengthen the prefix or narrow "
            "the terms")
    pref_docs = _terms_doc_set(eng, expansions)["doc_id"] \
        .to_numpy(np.int64)
    if operator == "and" and (len(live) < len(full)
                              or pref_docs.size == 0):
        return empty
    by_term = eng._term_blocks(live) if live else {}
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])
    if operator == "and":
        cand = pref_docs
        for t in live:
            cand = np.intersect1d(cand, _term_docs(eng, by_term, t),
                                  assume_unique=True)
    else:
        parts = [pref_docs] + [_term_docs(eng, by_term, t)
                               for t in live]
        cand = np.unique(np.concatenate(parts)) if parts else \
            np.empty(0, np.int64)
    if eng.tombstones and cand.size:
        cand = cand[live_mask(cand, eng)]
    if cand.size == 0:
        return empty
    doc_parts = [pref_docs[np.isin(pref_docs, cand)]]
    score_parts = [np.ones(doc_parts[0].size, dtype=np.float64)]
    for t in live:
        bl = sorted(by_term[t], key=lambda b: b["first_doc"])
        docs = np.concatenate([_block_arrays(b)[0] for b in bl])
        tfs = np.concatenate([_block_arrays(b)[1] for b in bl]) \
            .astype(np.float64)
        dls = np.concatenate([_block_arrays(b)[2] for b in bl]) \
            .astype(np.float64)
        m = np.isin(docs, cand)
        contrib = plan.idf[t] * tfs[m] * (K1 + 1.0) / (
            tfs[m] + K1 * (1.0 - B + B * dls[m] / eng.avgdl))
        doc_parts.append(docs[m])
        score_parts.append(contrib)
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, scores)
    order = np.lexsort((uniq, -agg))[:k]
    return eng.hits_frame([(float(agg[i]), int(uniq[i])) for i in order])


def terms_set_topk(spark: SparkSession, index_dir: str,
                   terms: list[str], min_match_field: str, k: int,
                   clamp: bool = False) -> "DataFrame":
    """ES ``terms_set`` query (Q44): docs matching at least
    ``doc.<min_match_field>`` of the given terms — the
    minimum_should_match threshold read PER DOC from a numeric doc
    value (``minimum_should_match_field``; the reference's integer
    mappings are exactly this shape).  Matching docs score the ES
    bool-should sum: BM25 over the matched terms.

    Distributed locus (there is no driver analog to a per-doc
    threshold without fetching every candidate's doc value — the scan
    shape IS the right one): one term-pushed postings scan joined to
    the ``fields`` table's ``<field>_num`` doc value, one aggregation
    carrying score + matched-clause count, the threshold predicate on
    the aggregate — scale-safe at any hit-set size — then urls
    point-read for the k winners (:meth:`..topk.SearchEngine.fetch_top`,
    a local relation).  Docs with a NULL threshold never match (ES: a missing minimum_should_match_field
    value means the doc can't satisfy the clause count).

    ``clamp=False`` (default) is ES's raw ``minimum_should_match_field``
    contract: a doc demanding more matches than there are query terms
    can never match.  ``clamp=True`` is the ubiquitous
    ``Math.min(params.num_terms, doc.value)`` script recipe from the ES
    docs — the threshold caps at the clause count."""
    from .build_index import read_fields
    from .topk import _check_k
    _check_k(k)
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("terms_set needs at least one term")
    eng = get_engine(spark, index_dir)
    sub = f"{min_match_field}_num"
    fields = read_fields(eng.cat, eng.spark).select(
        "doc_id", F.col(sub).alias("_msm"))
    agg = (eng.scored_postings(uniq)
           .groupBy("doc_id")
           .agg(F.sum("contrib").alias("score"),
                F.count_distinct("term").alias("n_matched")))
    thresh = F.least(F.col("_msm"), F.lit(len(uniq))) if clamp \
        else F.col("_msm")
    keep = agg.join(fields, "doc_id") \
        .filter(F.col("_msm").isNotNull()
                & (F.col("n_matched") >= thresh))
    return eng.fetch_top(keep, k)


def simple_query_string_df(spark: SparkSession, index_dir: str,
                           query: str, k: int,
                           default_operator: str = "or") -> DataFrame:
    """Distributed locus (term clauses only — module doc): one
    term-pushed scan, one aggregation carrying score + must coverage +
    exclusion flags, TakeOrderedAndProject top-k, then the fetch phase
    (:meth:`..topk.SearchEngine.fetch_top`)."""
    from .topk import _check_k
    _check_k(k)
    eng = get_engine(spark, index_dir)
    clauses = parse_simple_query_string(query, default_operator)
    must, should, nots, phrases = _analyzed(eng, clauses)
    if phrases:
        raise ValueError("simple_query_string_df serves term clauses "
                         "only — quoted phrases need the positional "
                         "driver kernel (simple_query_string_topk)")
    scored = sorted(must | should)
    all_terms = sorted(must | should | nots)
    if not scored:
        return spark.createDataFrame([], RESULT_DDL)
    flat = eng.scored_postings(all_terms)
    scored_c = F.col("term").isin(scored)
    agg = (flat.groupBy("doc_id")
           .agg(F.sum(F.when(scored_c, F.col("contrib")).otherwise(0.0))
                .alias("score"),
                F.count_distinct(
                    F.when(F.col("term").isin(sorted(must)), F.col("term")))
                .alias("n_must"),
                F.max(F.when(F.col("term").isin(sorted(nots)), 1)
                      .otherwise(0)).alias("excluded"),
                F.count(F.when(scored_c, 1)).alias("n_scored")))
    keep = (F.col("n_must") == len(must)) & (F.col("excluded") == 0)
    if not must:
        keep = keep & (F.col("n_scored") >= 1)
    return eng.fetch_top(agg.filter(keep), k)
