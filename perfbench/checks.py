"""Correctness checks: engine answers against the pure-Python oracle
(``tests/oracle.py``) and against the engine's own driver path.

A ranking matches when it has the expected length, every score is within
``TOL`` of the expected score at that rank, and every doc id equals the
expected one, except inside a group of expected scores that tie exactly
(within ``TIE``), where any order of the tied docs is accepted.
"""

from __future__ import annotations

from collections import Counter

TOL = 1e-6
TIE = 1e-9


def same_ranking(got: list[tuple[int, float]],
                 want_full: list[tuple[int, float]], k: int) -> bool:
    """``want_full`` may run past ``k`` so a tie group cut at rank ``k``
    can be checked."""
    want = want_full[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (wd, ws) in zip(got, want):
        if abs(s - ws) > TOL:
            return False
        if d != wd and d not in {x for x, xs in want_full
                                 if abs(xs - ws) <= TIE}:
            return False
    return True


def rows(pdf) -> list[tuple[int, float]]:
    """(doc_id, score) pairs of an engine result frame, in rank order."""
    return [(int(d), float(s)) for d, s in zip(pdf["doc_id"], pdf["score"])]


class OracleAnswers:
    """Expected answers for the serve query classes, from ``OracleIndex``."""

    def __init__(self, pages_pdf):
        from mongoesindexer_spark.functions.analysis import analyze_search
        from tests.oracle import OracleIndex
        self.ora = OracleIndex.build(pages_pdf)
        self.analyze = analyze_search
        lang = dict(zip(pages_pdf["url"], pages_pdf["lang"]))
        self.lang_of = {d: lang[u] for d, u in self.ora.urls.items()}

    def _scored(self, text: str, docs) -> list[tuple[int, float]]:
        """``OracleIndex.score`` for every doc in ``docs``, sorted by
        (-score, doc_id).  The arithmetic is the oracle's, operation for
        operation; only the per-query invariants (analyzed terms, idf,
        avgdl) are computed once instead of once per doc."""
        from tests.oracle import B, K1
        ora = self.ora
        avgdl = ora.avgdl
        terms = [(ora.postings.get(t), ora.idf(t))
                 for t in sorted(set(self.analyze(text)))]
        out = []
        for d in docs:
            s = 0.0
            dl = ora.doc_len[d]
            for plist, idf in terms:
                if not plist or d not in plist:
                    continue
                tf = plist[d]
                tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
                s += idf * tfn
            out.append((d, s))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    def _candidates(self, text: str, all_terms: bool) -> set[int]:
        sets = [set(self.ora.postings.get(t, {}))
                for t in sorted(set(self.analyze(text)))]
        if not sets:
            return set()
        return set.intersection(*sets) if all_terms else set.union(*sets)

    def expect(self, q: dict):
        kind, text, k = q["kind"], q["text"], q["k"]
        if kind == "match_or":
            return self._scored(text, self._candidates(text, False))[:k + 50]
        if kind == "match_and":
            return self._scored(text, self._candidates(text, True))[:k + 50]
        if kind == "bool_filter":
            docs = [d for d in self._candidates(text, False)
                    if self.lang_of[d] == q["lang"]]
            return self._scored(text, docs)[:k + 50]
        if kind == "phrase":
            return [(d, s) for d, _, s in self.ora.phrase_topk(text, k + 50)]
        if kind == "suggest":
            p = text.lower()
            hits = sorted(((t, len(pl)) for t, pl in self.ora.postings.items()
                           if t.startswith(p)), key=lambda x: (-x[1], x[0]))
            return hits[:k]
        raise ValueError(kind)

    def check(self, q: dict, got) -> bool:
        want = self.expect(q)
        if q["kind"] == "suggest":
            return [(str(t), int(w)) for t, w in
                    zip(got["term"], got["weight"])] == want
        return same_ranking(rows(got), want, q["k"])


def terms_agg_expect(urls, lang_of_url: dict, size: int = 10):
    c = Counter(lang_of_url[u] for u in urls)
    return sorted(c.items(), key=lambda x: (-x[1], x[0]))[:size]
