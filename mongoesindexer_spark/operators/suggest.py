"""ES ``phrase`` suggester — whole-input did-you-mean over a bigram
language model (Q35).

The reference's completion/suggest surface is declarative (its mappings
carry completion fields, configs/ltd_doc.settings.json:292-310; the term
suggester shipped in operators/expand.py).  ES's phrase suggester layers
a LANGUAGE MODEL over the term suggester: candidate corrections per
token are re-ranked as whole phrases by an n-gram model read from a
shingle (bigram) sub-field's term statistics, with a confidence cutoff
against the input's own score.

This engine has no shingle field — but it has POSITIONAL postings
(format v6), from which exact bigram collection frequencies are
computable on demand: cf("a b") = Σ over docs of adjacent (a at p,
b at p+1) occurrences, evaluated with the same block-pruned
doc-intersection + packed-key position test the phrase kernel uses
(cost bounded by the RARER term's df — the cost class of a 2-term
phrase query, which is this engine's serving cost model).  Pair cfs
are memoized per engine snapshot.

Scoring is Stupid Backoff (Brants et al. 2007, "Large Language Models
in Machine Translation" — the non-normalized backoff ES's shingle
models approximate):

    S(w_0 .. w_{n-1}) = P(w_0) × Π_i S(w_i | w_{i-1})
    P(w)       = cf(w) / T                      (T = total corpus tokens)
    S(b | a)   = cf2(a,b) / cf(a)   if cf2 > 0
               = α · cf(b) / T      otherwise   (α = 0.4, the paper's)

Candidate phrases follow ES ``max_errors=1`` semantics: the input with
exactly ONE slot replaced by a term-suggester candidate (suggest_mode
``missing``: only out-of-vocabulary slots correct; ``always``: every
slot).  Suggestions scoring ≤ ``confidence`` × the input's own score
are dropped (ES default confidence=1.0).  ``collate=True`` keeps only
suggestions whose corrected bigrams actually occur (cf2 > 0 on every
bigram touching the corrected slot) — the index-backed analog of ES's
collate query prune.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .expand import _fuzzy_candidates
from .topk import (SearchEngine, _block_arrays, _block_positions, get_engine,
                   live_mask)
from ..functions.analysis import analyze_search
from ..functions.encode import decode_blocks_into

BACKOFF_ALPHA = 0.4          # Stupid Backoff α (Brants et al. 2007)
OUT_COLS = ["suggestion", "slot", "candidate", "dist",
            "cand_cf", "big_cf", "score"]


def pair_cf(eng: SearchEngine, a: str, b: str) -> int:
    """EXACT corpus collection frequency of the adjacent bigram
    ``a b`` from positional postings: intersect the two terms' doc
    sets (block-pruned, rarer term bounds the cost), then count
    positions p of ``a`` with ``b`` at p+1 via the packed
    (candidate_index << 32 | position) key test the phrase kernel
    uses.  Memoized per engine snapshot in a bounded LRU
    (``eng._pair_cf_cache``, ``TD_CACHE_TERMS`` pairs), so a long-lived
    serving process does not grow with every distinct pair it sees."""
    from .topk import TD_CACHE_TERMS
    key = (a, b)
    cache = eng._pair_cf_cache
    with eng._cache_lock:
        hit = cache.pop(key, None)
        if hit is not None:
            cache[key] = hit            # re-insert: most recently used
            return hit
    out = _pair_cf(eng, a, b)
    with eng._cache_lock:
        cache[key] = out
        # evict only after the answer is built (as SearchEngine._term_meta)
        while len(cache) > TD_CACHE_TERMS:
            del cache[next(iter(cache))]
    return out


def _pair_cf(eng: SearchEngine, a: str, b: str) -> int:
    """:func:`pair_cf` without the memo."""
    # driver budget: a head-term pair must not decode its full posting
    # blocks driver-side.  Returning 0 routes the language model to its
    # backoff leg — exactly the model's own degradation mechanism
    # (Stupid Backoff exists because higher-order evidence is sometimes
    # unavailable), so the suggester stays total-cost bounded instead
    # of failing on common left-contexts.
    plan = eng.plan([a, b])
    if a not in plan.idf or b not in plan.idf or plan.fan_out:
        return 0
    by_term = eng._term_blocks([a, b])
    out = 0
    if by_term.get(a) and by_term.get(b):
        per: dict[str, tuple[list, np.ndarray, np.ndarray]] = {}
        for t in (a, b):
            blocks = sorted(by_term[t], key=lambda x: x["first_doc"])
            decode_blocks_into([x for x in blocks if "_arrs" not in x])
            docs = np.concatenate([_block_arrays(x)[0] for x in blocks])
            ends = np.cumsum(np.array([x["n"] for x in blocks],
                                      dtype=np.int64))
            per[t] = (blocks, docs, ends)
        cand = np.intersect1d(per[a][1], per[b][1], assume_unique=True)
        if eng.tombstones and cand.size:
            cand = cand[live_mask(cand, eng)]
        if cand.size:
            keys: dict[str, np.ndarray] = {}
            for t in (a, b):
                blocks, docs, ends = per[t]
                gidx = np.searchsorted(docs, cand)
                bidx = np.searchsorted(ends, gidx, side="right")
                runs = []
                for ci, (g, bi) in enumerate(zip(gidx, bidx)):
                    blk = blocks[bi]
                    flat, rends = _block_positions(blk)
                    local = int(g - (ends[bi] - blk["n"]))
                    s = int(rends[local - 1]) if local else 0
                    ps = np.unique(flat[s:int(rends[local])])
                    runs.append((np.int64(ci) << np.int64(32))
                                | ps.astype(np.int64))
                keys[t] = np.concatenate(runs) if runs else \
                    np.empty(0, np.int64)
            out = int(np.isin(keys[a] + 1, keys[b]).sum())
    return out


def _unigram_stats(eng: SearchEngine, terms: list[str]) -> dict:
    """term → (cf, df) from term_dict point reads (0 for OOV)."""
    uniq = sorted(set(terms))
    pdf = eng._rg_index("term_dict", "term").read_isin(
        uniq, ["term", "cf", "df"])
    got = {str(r.term): (int(r.cf), int(r.df))
           for r in pdf.itertuples(index=False)}
    return {t: got.get(t, (0, 0)) for t in uniq}


def _total_tokens(eng: SearchEngine) -> int:
    from ..sources.catalog import read_table_arrow
    g = read_table_arrow(eng.cat, "global_stats").iloc[0]
    if "sum_dl" in g.index and not pd.isna(g["sum_dl"]):
        return int(g["sum_dl"])
    return max(1, int(round(float(g["avgdl"]) * int(g["n_docs"]))))


def _phrase_score(eng: SearchEngine, toks: list[str], cf_of: dict,
                  total: int) -> float:
    """Stupid Backoff score of one token sequence."""
    if not toks:
        return 0.0
    s = cf_of[toks[0]][0] / total
    for prev, cur in zip(toks, toks[1:]):
        cf2 = pair_cf(eng, prev, cur) if cf_of[prev][0] else 0
        if cf2 > 0:
            s *= cf2 / cf_of[prev][0]
        else:
            s *= BACKOFF_ALPHA * cf_of[cur][0] / total
    return s


def phrase_suggest(spark: SparkSession, index_dir: str, text: str,
                   size: int = 3, max_edits: int = 2,
                   prefix_length: int = 1,
                   candidates_per_term: int = 5,
                   suggest_mode: str = "missing",
                   confidence: float = 1.0,
                   collate: bool = False) -> pd.DataFrame:
    """ES ``phrase`` suggester: single-slot corrections of the analyzed
    input, ranked by the Stupid-Backoff bigram model (module doc) —
    columns ``(suggestion, slot, candidate, dist, cand_cf, big_cf,
    score)``, score desc / suggestion asc, top ``size``.  ``big_cf`` is
    the corpus cf of the bigram (previous token, candidate) — 0 for
    slot 0 — exposed so oracles can re-derive the exact integer scoring
    inputs.  Requires positions (format v6), like every phrase path."""
    if suggest_mode not in ("missing", "always"):
        raise ValueError("suggest_mode must be 'missing' or 'always'")
    if size <= 0:
        raise ValueError("size must be positive")
    eng = get_engine(spark, index_dir)
    if not eng.has_positions:
        raise ValueError(
            f"index at {index_dir!r} was built without positions "
            "(index_positions=False) — the phrase suggester's bigram "
            "model needs position streams; rebuild with "
            "IndexBuilder(index_positions=True)")
    toks = analyze_search(text, eng.cfg)
    if not toks:
        return pd.DataFrame(columns=OUT_COLS)
    cf_of = _unigram_stats(eng, toks)
    total = _total_tokens(eng)
    base_score = _phrase_score(eng, toks, cf_of, total)
    rows = []
    for slot, tok in enumerate(toks):
        if suggest_mode == "missing" and cf_of[tok][1] > 0:
            continue
        cand = _fuzzy_candidates(eng, tok, max_edits, prefix_length)
        cand = cand[cand["term"].astype(str) != tok] \
            .head(candidates_per_term)
        for r in cand.itertuples(index=False):
            c = str(r.term)
            new = list(toks)
            new[slot] = c
            stats = dict(cf_of)
            stats.setdefault(c, None)
            if stats[c] is None:
                stats[c] = _unigram_stats(eng, [c])[c]
            score = _phrase_score(eng, new, stats, total)
            big = pair_cf(eng, toks[slot - 1], c) if slot > 0 else 0
            if collate:
                ok = (big > 0 or slot == 0) and (
                    slot == len(toks) - 1
                    or pair_cf(eng, c, toks[slot + 1]) > 0)
                if not ok:
                    continue
            rows.append({"suggestion": " ".join(new), "slot": slot,
                         "candidate": c, "dist": int(r.dist),
                         "cand_cf": stats[c][0], "big_cf": big,
                         "score": score})
    out = pd.DataFrame(rows, columns=OUT_COLS)
    if out.empty:
        return out
    out = out[out["score"] > confidence * base_score]
    return (out.sort_values(["score", "suggestion"],
                            ascending=[False, True])
            .head(size).reset_index(drop=True))
