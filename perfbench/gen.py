"""Seeded, vectorised input generator for the benchmark.

Produces, from one integer seed:

* the ``pages`` corpus in the FIXTURES.md section 1 shape (url, warc_ts,
  html, text, lang): a Zipf(s=1.1) vocabulary, ``text`` NULL on every
  fifth row so the html extraction path runs, a ``<script>`` block on
  rows ``i % 10 == 7``, special analyzer tokens (mixed case, hyphen,
  underscore, digits, accents) and a skewed ``lang`` column;
* per-workload query logs (a search-client stream of hot and tail
  queries, scale-loci term draws);
* change batches for the incremental-sync path, whose inserted documents
  each carry a unique marker token so a refresh can be detected.

Token draws, special-token placement and string assembly are whole-array
operations (numpy + pyarrow compute); nothing loops per token.  The
row-loop generator in ``mongoesindexer_spark.sources.fixtures`` needs
about 100 s for 50k pages; this one needs well under a second for the
corpus sizes used here.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

VOCAB_SIZE = 5000
# the vocabulary is a fixed language, the same for every seed (as in
# FIXTURES.md): seeds vary the documents and queries drawn from it, so
# text bytes per posting do not swing with the lengths of the head words
VOCAB_SEED = 42
ZIPF_S = 1.1
LANGS = np.array(["en", "fr", "es", "de"])
LANG_P = np.array([0.6, 0.2, 0.15, 0.05])
SPECIAL_TOKENS = np.array([
    "WiFi", "PowerShell", "state-of-the-art", "ipv6_addr", "IC-01/04",
    "café", "Lubanga-Dyilo",
])
SCRIPT = "<script>var x=1;</script>"
EPOCH = pd.Timestamp("2025-01-01T00:00:00Z")
# marker tokens are 12+ lowercase letters: longer than any vocabulary
# word (3-9 letters), so they never collide with corpus text, and a
# lowercase letter run is one token under both analyzer chains
MARKER_PREFIX = "zqmarker"

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
UPDATES_SCHEMA = pa.schema([("op", pa.string()), *PAGES_SCHEMA])


def vocabulary(rng: np.random.Generator, n: int = VOCAB_SIZE) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 3-9 letters, in Zipf rank
    order (index 0 is the most frequent term)."""
    m = n + n // 4
    lens = rng.integers(3, 10, size=m)
    letters = rng.integers(ord("a"), ord("z") + 1, size=(m, 9),
                           dtype=np.uint8)
    letters[np.arange(9)[None, :] >= lens[:, None]] = 0
    words = letters.view("S9").ravel().astype("U9")
    _, first = np.unique(words, return_index=True)
    first.sort()
    if first.size < n:
        raise ValueError("vocabulary draw produced too few distinct words")
    return words[first[:n]]


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


def _draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"),
                      cdf.size - 1)


def _join(words: np.ndarray, ids: np.ndarray, offsets: np.ndarray
          ) -> pa.Array:
    """One space-joined string per ``offsets`` slice of ``ids``."""
    vals = pa.array(words).take(pa.array(ids))
    lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), vals)
    return pc.binary_join(lists, " ")


def _offsets(lens: np.ndarray) -> np.ndarray:
    out = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


@dataclass
class Corpus:
    """A generated corpus plus what the query generators need to know
    about it: the vocabulary in rank order and the body token stream."""
    pages: pa.Table            # PAGES_SCHEMA
    vocab: np.ndarray          # rank-ordered words
    body_ids: np.ndarray       # concatenated body token ids (vocab or special)
    body_off: np.ndarray       # per-doc offsets into body_ids
    words: np.ndarray          # id -> word (vocab followed by SPECIAL_TOKENS)
    text_bytes: int            # UTF-8 bytes of every row's text (nulls too)


def _texts(rng, words, cdf, n, first_row, marker_words=None):
    """(text, html, body_ids, body_off) for ``n`` rows whose
    global row numbers start at ``first_row``."""
    V = cdf.size
    i = np.arange(first_row, first_row + n)
    tlen = rng.integers(2, 7, size=n)
    blen = rng.integers(20, 201, size=n)
    t_off, b_off = _offsets(tlen), _offsets(blen)
    t_ids = _draw(rng, cdf, int(t_off[-1]))
    b_ids = _draw(rng, cdf, int(b_off[-1]))
    # special analyzer tokens at fixed, row-derived positions
    r3 = np.flatnonzero(i % 3 == 0)
    b_ids[b_off[r3] + i[r3] % blen[r3]] = V + i[r3] % SPECIAL_TOKENS.size
    r11 = np.flatnonzero(i % 11 == 0)
    t_ids[t_off[r11] + i[r11] % tlen[r11]] = \
        V + (i[r11] // 11) % SPECIAL_TOKENS.size
    if marker_words is not None:
        # one unique marker token closes the body of every inserted row
        words = np.concatenate([words, marker_words])
        b_ids = np.insert(b_ids, b_off[1:], words.size - n + np.arange(n))
        b_off = b_off + np.arange(n + 1)
    title = _join(words, t_ids, t_off)
    body = _join(words, b_ids, b_off)
    text = pc.binary_join_element_wise(title, body, "\n")
    script = pa.array(np.where(i % 10 == 7, SCRIPT, ""))
    html = pc.binary_join_element_wise(
        "<html><head><title>", title, "</title></head><body><p>", body,
        "</p>", script, "</body></html>", "").cast(pa.binary())
    return text, html, b_ids, b_off


def _urls(i: np.ndarray, site_shift: int) -> pa.Array:
    site = pa.array(((i + site_shift) % 97).astype(str))
    num = pa.array(np.char.zfill(i.astype(str), 8))
    return pc.binary_join_element_wise("https://site", site, ".example/p/",
                                       num, "")


def generate_corpus(n_docs: int, seed: int) -> Corpus:
    vocab = vocabulary(np.random.default_rng(VOCAB_SEED))
    rng = np.random.default_rng([seed, 1])
    words = np.concatenate([vocab, SPECIAL_TOKENS])
    cdf = np.cumsum(zipf_probs(vocab.size))
    i = np.arange(n_docs)
    text, html, b_ids, b_off = _texts(rng, words, cdf, n_docs, 0)
    text_bytes = pc.sum(pc.binary_length(text)).as_py()
    text = pc.if_else(pa.array(i % 5 == 0), pa.scalar(None, pa.string()),
                      text)
    lang = LANGS[_draw(rng, np.cumsum(LANG_P), n_docs)]
    ts = EPOCH + pd.to_timedelta(i * 137, unit="s")
    pages = pa.table({
        "url": _urls(i, seed % 97),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": html, "text": text, "lang": pa.array(lang),
    }, schema=PAGES_SCHEMA)
    return Corpus(pages, vocab, b_ids, b_off, words, text_bytes)


def marker(n: int) -> str:
    """The unique marker token of the ``n``-th inserted document."""
    s = ""
    for _ in range(4):
        n, r = divmod(n, 26)
        s = chr(ord("a") + r) + s
    return MARKER_PREFIX + s


@dataclass
class Batch:
    updates: pa.Table          # UPDATES_SCHEMA
    inserts: dict              # marker -> url of each inserted doc
    deleted_inserts: dict      # marker -> url of earlier inserts deleted here
    deleted_base: list         # base-corpus urls deleted here


N_INSERT, N_UPDATE, N_DELETE = 20, 15, 10     # rows per change batch


def change_batches(corpus: Corpus, n_batches: int, seed: int) -> list[Batch]:
    """FIXTURES.md section 3 batches.  Inserts get fresh urls and a unique
    marker token.  Updates target base-corpus urls; deletes take half
    their rows from earlier batches' inserts (so a marker query proves
    the delete) and half from the base corpus.  No url is touched twice,
    so every batch's expected effect is unambiguous."""
    rng = np.random.default_rng([seed, 2])
    cdf = np.cumsum(zipf_probs(corpus.vocab.size))
    base = np.asarray(corpus.pages.column("url").to_pylist(), dtype=object)
    order = rng.permutation(base.size)
    take = 0
    n_docs = corpus.pages.num_rows
    last_ts = EPOCH + pd.Timedelta(seconds=int(n_docs) * 137)
    live_inserts: list[tuple[str, str]] = []
    out = []
    for b in range(n_batches):
        ts0 = last_ts + pd.Timedelta(days=1 + b)
        first = n_docs + b * N_INSERT
        marks = np.array([marker(b * N_INSERT + j)
                          for j in range(N_INSERT)])
        ins_text, ins_html, _, _ = _texts(rng, corpus.words, cdf, N_INSERT,
                                          first, marker_words=marks)
        ins_urls = _urls(np.arange(first, first + N_INSERT) + 90_000_000,
                         seed % 97)
        upd_urls = base[order[take:take + N_UPDATE]]
        take += N_UPDATE
        upd_text, upd_html, _, _ = _texts(rng, corpus.words, cdf, N_UPDATE,
                                          first)
        n_del_ins = min(N_DELETE // 2, len(live_inserts))
        pick = rng.choice(len(live_inserts), size=n_del_ins, replace=False) \
            if n_del_ins else np.empty(0, dtype=np.int64)
        del_ins = [live_inserts[j] for j in sorted(pick)]
        live_inserts = [x for j, x in enumerate(live_inserts)
                        if j not in set(pick.tolist())]
        del_base = base[order[take:take + N_DELETE - n_del_ins]]
        take += N_DELETE - n_del_ins
        del_urls = [u for _, u in del_ins] + list(del_base)
        n_rows = N_INSERT + N_UPDATE + len(del_urls)
        ops = ["insert"] * N_INSERT + ["update"] * N_UPDATE + \
            ["delete"] * len(del_urls)
        urls = ins_urls.to_pylist() + list(upd_urls) + del_urls
        ts = ts0 + pd.to_timedelta(np.arange(n_rows), unit="s")
        empty = pa.array([None] * len(del_urls), pa.string())
        updates = pa.table({
            "op": pa.array(ops),
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.concat_arrays([ins_html, upd_html,
                                      pa.array([b""] * len(del_urls),
                                               pa.binary())]),
            "text": pa.concat_arrays([ins_text, upd_text, empty]),
            "lang": pa.array(LANGS[_draw(rng, np.cumsum(LANG_P), n_rows)]),
        }, schema=UPDATES_SCHEMA)
        inserts = dict(zip(marks.tolist(), ins_urls.to_pylist()))
        live_inserts.extend(inserts.items())
        out.append(Batch(updates, inserts, dict(del_ins), list(del_base)))
    return out


def apply_batches(pages: pa.Table, batches: list[Batch]) -> pa.Table:
    """The corpus after every batch: the full-rebuild input the synced
    index must agree with."""
    df = pages.to_pandas().set_index("url", drop=False)
    for b in batches:
        u = b.updates.to_pandas()
        dead = u.loc[u["op"] != "insert", "url"]
        df = df.drop(index=[x for x in dead if x in df.index])
        live = u[u["op"] != "delete"].drop(columns="op")
        df = pd.concat([df, live.set_index("url", drop=False)])
    return pa.Table.from_pandas(df.reset_index(drop=True),
                                schema=PAGES_SCHEMA, preserve_index=False)


# ---------------------------------------------------------------------------
# query logs
# ---------------------------------------------------------------------------

SERVE_MIX = (("match_or", 0.50), ("match_and", 0.15), ("bool_filter", 0.15),
             ("phrase", 0.15), ("suggest", 0.05))
# the two term populations of the search-client stream.  A hot query
# draws its terms uniformly from the HOT_TERMS head ranks of the Zipf
# vocabulary (its highest-df terms), a set smaller than the engine's
# 256-term block LRU; a tail query draws them uniformly from the whole
# vocabulary, 20x the LRU.  Exactly TAIL_SHARE of every ten consecutive
# queries are tail queries.
HOT_TERMS = 100
TAIL_SHARE = 0.3


def _bigram(rng, corpus: Corpus, first: int) -> str:
    """An adjacent body-token pair from the corpus starting with vocab
    term ``first`` (or the pair at a random position if the term never
    opens a bigram)."""
    ids = corpus.body_ids
    V = corpus.vocab.size
    # positions whose successor lies in the same document
    hits = np.flatnonzero(ids[:-1] == first)
    ends = corpus.body_off[1:] - 1
    hits = hits[~np.isin(hits, ends)]
    if hits.size == 0:
        hits = np.setdiff1d(np.arange(ids.size - 1), ends)
    p = int(hits[rng.integers(hits.size)])
    nxt = int(ids[p + 1])
    if nxt >= V:          # keep phrases to plain vocabulary words
        nxt = 0
    return f"{corpus.words[ids[p]]} {corpus.words[nxt]}"


def serve_queries(corpus: Corpus, n: int, seed: int) -> list[dict]:
    """The search-client query log: the SERVE_MIX classes over two term
    populations, ``pop`` "hot" (served from the block LRU) and "tail"
    (misses it), in the fixed HOT/TAIL shares."""
    rng = np.random.default_rng([seed, 3])
    names = [c for c, _ in SERVE_MIX]
    cls = rng.choice(len(names), size=n, p=[p for _, p in SERVE_MIX])
    blocks = -(-n // 10)
    tail = rng.permuted(np.tile(np.arange(10) < round(10 * TAIL_SHARE),
                                (blocks, 1)), axis=1).ravel()[:n]
    pool = np.where(tail, corpus.vocab.size, HOT_TERMS)
    draws = (rng.random((n, 8)) * pool[:, None]).astype(np.int64)
    out = []
    for c, row, is_tail in zip(cls, draws, tail):
        kind = names[c]
        k = int(rng.choice([10, 100]))
        nt = int(rng.integers(1, 5)) if kind == "match_or" else \
            int(rng.integers(2, 4))
        terms = list(dict.fromkeys(row.tolist()))[:nt]
        q = {"kind": kind, "pop": "tail" if is_tail else "hot",
             "text": " ".join(corpus.vocab[terms]), "k": k}
        if kind == "bool_filter":
            q["lang"] = str(LANGS[int(rng.integers(1, LANGS.size))])
        elif kind == "phrase":
            q["text"] = _bigram(rng, corpus, terms[0])
        elif kind == "suggest":
            w = corpus.vocab[terms[0]]
            q["text"] = w[:int(rng.integers(1, min(3, len(w)) + 1))]
            q["k"] = 10
        out.append(q)
    return out


SCALE_MIX = ("wand", "fanout", "topk_df", "count", "terms_agg")
LOCUS_TERMS = 2        # head terms per locus query


def scale_queries(corpus: Corpus, n: int, seed: int) -> list[dict]:
    """The scale_loci log: the forced loci in equal shares (round robin,
    one of each per SCALE_MIX cycle), each over LOCUS_TERMS of the 40
    head terms so the loci have real work."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for j in range(n):
        terms = corpus.vocab[rng.choice(40, size=LOCUS_TERMS, replace=False)]
        out.append({"kind": SCALE_MIX[j % len(SCALE_MIX)],
                    "text": " ".join(terms),
                    "k": int(rng.choice([10, 100]))})
    return out
