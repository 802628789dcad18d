"""Independent answers for the benchmark's queries.

Nothing here imports the program under test. Tokens are maximal ASCII
``[A-Za-z0-9]`` runs, lower-cased (the reference engine's tokenizer, written
out again here); BM25 uses k1=1.2, b=0.75 and
idf = ln(1 + (N - df + 0.5) / (df + 0.5)).

The oracle mirrors the index's life cycle:

* ``add`` indexes pages (only ``lang == "en"`` ones, as the build's
  ``lang_filter="en"`` does); a page whose url is live replaces it.
* ``delete`` tombstones urls.
* Tombstoned docs stay in the statistics (N, avgdl, df) until ``compact``,
  as pending deletes do in the engine (Lucene semantics); they never match.

Docs are keyed by their position in the oracle (``odoc``); the check maps
an engine doc_id to an ``odoc`` through the docmap's url plus the order of
that url's versions (see ``Oracle.odoc_of``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Sequence

import numpy as np

TOKEN = re.compile(r"[A-Za-z0-9]+")
K1 = 1.2
B = 0.75
# relative tolerance on a BM25 score: engine and oracle sum the same
# float64 terms in different orders
SCORE_RTOL = 1e-7


def query_terms(text: str) -> List[str]:
    """Distinct query tokens, first occurrence order."""
    return list(dict.fromkeys(t.lower() for t in TOKEN.findall(text)))


class TokenTable:
    """Tokenizes every surface form of the vocabulary once.

    ``tok_ptr``/``tok_ids``: CSR from surface id to its token ids."""

    def __init__(self, surfaces: Sequence[str]) -> None:
        self.term_id: Dict[str, int] = {}
        ptr = [0]
        ids: List[int] = []
        for s in surfaces:
            for t in TOKEN.findall(s):
                ids.append(self.term_id.setdefault(t.lower(),
                                                   len(self.term_id)))
            ptr.append(len(ids))
        self.tok_ptr = np.asarray(ptr, dtype=np.int64)
        self.tok_ids = np.asarray(ids, dtype=np.int64)
        self.n_terms = len(self.term_id)
        self.terms = np.array(sorted(self.term_id, key=self.term_id.get),
                              dtype=object)
        # UTF-8 bytes of each surface, for the text-size denominator
        self.surface_bytes = np.fromiter(
            (len(s.encode()) for s in surfaces), dtype=np.int64,
            count=len(surfaces))

    def doc_terms(self, words: np.ndarray, offsets: np.ndarray):
        """(doc, term, tf) triples and per-doc token counts for a batch of
        pages given as surface ids."""
        n_tok = np.diff(self.tok_ptr)[words]
        doc_of_word = np.repeat(np.arange(len(offsets) - 1),
                                np.diff(offsets))
        dl = np.bincount(doc_of_word, weights=n_tok,
                         minlength=len(offsets) - 1).astype(np.int64)
        starts = self.tok_ptr[words]
        # expand each word into its tokens
        word_of_tok = np.repeat(np.arange(words.size), n_tok)
        first = np.repeat(np.cumsum(n_tok) - n_tok, n_tok)
        tok = self.tok_ids[starts[word_of_tok]
                           + np.arange(word_of_tok.size) - first]
        key = doc_of_word[word_of_tok] * self.n_terms + tok
        uniq, tf = np.unique(key, return_counts=True)
        return uniq // self.n_terms, uniq % self.n_terms, tf, dl

    def text_bytes(self, words: np.ndarray, offsets: np.ndarray
                   ) -> np.ndarray:
        """UTF-8 bytes of each page's text (words joined by one space)."""
        b = np.add.reduceat(self.surface_bytes[words], offsets[:-1]) \
            if words.size else np.zeros(len(offsets) - 1, np.int64)
        return b + np.diff(offsets) - 1


@dataclass(frozen=True)
class Filter:
    """A ``filter_sql`` predicate over the docmap and its oracle twin."""
    sql: str
    keep: Callable[[np.ndarray, np.ndarray], np.ndarray]  # (dl, url) -> mask


def doc_len_at_least(n: int) -> Filter:
    return Filter(f"doc_len >= {n}", lambda dl, url: dl >= n)


def doc_len_between(lo: int, hi: int) -> Filter:
    return Filter(f"doc_len BETWEEN {lo} AND {hi}",
                  lambda dl, url: (dl >= lo) & (dl <= hi))


def url_prefix(prefix: str) -> Filter:
    return Filter(f"url LIKE '{prefix}%'",
                  lambda dl, url: np.char.startswith(url.astype(str), prefix))


@dataclass
class Expected:
    """An oracle answer. ``ids``: sorted odocs (count and id ops).
    ``top``: top-k scores, descending. ``ties``: odoc -> score for every
    doc scoring at least the k-th score (so ties at the cut are allowed
    in any order)."""
    ids: Optional[np.ndarray] = None
    top: Optional[np.ndarray] = None
    ties: Optional[Dict[int, float]] = None


class Oracle:
    def __init__(self, table: TokenTable) -> None:
        self.table = table
        self.urls: List[str] = []
        self.dl = np.zeros(0, dtype=np.int64)
        self.text_b = np.zeros(0, dtype=np.int64)
        self.alive = np.zeros(0, dtype=bool)
        self.in_stats = np.zeros(0, dtype=bool)
        self._batches: List[tuple] = []   # (odoc, term, tf) arrays
        self.live_of: Dict[str, int] = {}  # url -> live odoc
        self.versions: Dict[str, List[int]] = {}  # url -> odocs, in order
        self._index_dirty = True

    # ---------------------------------------------------------- mutation
    def copy(self) -> "Oracle":
        o = Oracle(self.table)
        o.urls = list(self.urls)
        o.dl, o.text_b = self.dl.copy(), self.text_b.copy()
        o.alive, o.in_stats = self.alive.copy(), self.in_stats.copy()
        o._batches = list(self._batches)  # arrays are never mutated
        o.live_of = dict(self.live_of)
        o.versions = {u: list(v) for u, v in self.versions.items()}
        return o

    def add(self, pages) -> int:
        """Index the en pages of ``pages``; a live url is replaced. A
        re-crawl that is no longer en only deletes its url (upsert
        semantics). Returns the number of docs indexed."""
        en = np.flatnonzero(pages.lang == "en")
        self.delete([u for u in pages.url if u in self.live_of])
        if en.size == 0:
            return 0
        lens = np.diff(pages.offsets)[en]
        offsets = np.zeros(en.size + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        words = np.concatenate([pages.words[pages.offsets[i]:
                                            pages.offsets[i + 1]]
                                for i in en])
        doc, term, tf, dl = self.table.doc_terms(words, offsets)
        base = len(self.urls)
        self._batches.append((doc + base, term, tf))
        for j, i in enumerate(en):
            u = pages.url[i]
            self.urls.append(u)
            self.live_of[u] = base + j
            self.versions.setdefault(u, []).append(base + j)
        self.dl = np.concatenate([self.dl, dl])
        self.text_b = np.concatenate(
            [self.text_b, self.table.text_bytes(words, offsets)])
        self.alive = np.concatenate([self.alive, np.ones(en.size, bool)])
        self.in_stats = np.concatenate([self.in_stats,
                                        np.ones(en.size, bool)])
        self._index_dirty = True
        return int(en.size)

    def delete(self, urls) -> int:
        n = 0
        for u in urls:
            od = self.live_of.pop(u, None)
            if od is not None:
                self.alive[od] = False
                n += 1
        return n

    def compact(self) -> None:
        """Pending tombstones leave the statistics."""
        self.in_stats = self.alive.copy()
        self._index_dirty = True

    # ---------------------------------------------------------- postings
    def _reindex(self) -> None:
        doc = np.concatenate([b[0] for b in self._batches])
        term = np.concatenate([b[1] for b in self._batches])
        tf = np.concatenate([b[2] for b in self._batches])
        keep = self.in_stats[doc]
        doc, term, tf = doc[keep], term[keep], tf[keep]
        order = np.lexsort((doc, term))
        self._p_doc, self._p_tf = doc[order], tf[order]
        self._p_ptr = np.searchsorted(term[order],
                                      np.arange(self.table.n_terms + 1))
        self.df = np.diff(self._p_ptr)
        self.n_docs = int(self.in_stats.sum())
        self.avgdl = float(self.dl[self.in_stats].sum()) / self.n_docs
        self._index_dirty = False

    def _ensure(self) -> None:
        if self._index_dirty:
            self._reindex()

    def _posting(self, t: int):
        lo, hi = self._p_ptr[t], self._p_ptr[t + 1]
        d, f = self._p_doc[lo:hi], self._p_tf[lo:hi]
        live = self.alive[d]
        return d[live], f[live]

    def _tids(self, text: str) -> List[Optional[int]]:
        return [self.table.term_id.get(t) for t in query_terms(text)]

    # ----------------------------------------------------------- queries
    def and_ids(self, text: str) -> np.ndarray:
        self._ensure()
        tids = self._tids(text)
        if not tids or any(t is None or self.df[t] == 0 for t in tids):
            return np.empty(0, dtype=np.int64)
        out = self._posting(tids[0])[0]
        for t in tids[1:]:
            out = np.intersect1d(out, self._posting(t)[0],
                                 assume_unique=True)
        return out

    def or_ids(self, text: str) -> np.ndarray:
        self._ensure()
        parts = [self._posting(t)[0] for t in self._tids(text)
                 if t is not None]
        return (np.unique(np.concatenate(parts)) if parts
                else np.empty(0, dtype=np.int64))

    def topk(self, text: str, k: int = 10, mode: str = "or",
             flt: Optional[Filter] = None) -> Expected:
        self._ensure()
        tids = [t for t in self._tids(text) if t is not None]
        if mode == "and":
            cand = self.and_ids(text)
        else:
            cand = self.or_ids(text)
        if flt is not None and cand.size:
            urls = np.array(self.urls, dtype=object)[cand]
            cand = cand[flt.keep(self.dl[cand], urls)]
        scores = np.zeros(cand.size)
        dl = self.dl[cand].astype(float)
        norm = K1 * (1.0 - B + B * dl / self.avgdl)
        for t in tids:
            d, f = self._posting(t)
            if d.size == 0:
                continue
            pos = np.minimum(np.searchsorted(d, cand), d.size - 1)
            tf = np.where(d[pos] == cand, f[pos], 0).astype(float)
            df = self.df[t]
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            scores += idf * tf * (K1 + 1.0) / (tf + norm)
        m = min(k, cand.size)
        order = np.argsort(-scores, kind="stable")
        top = scores[order[:m]]
        ties: Dict[int, float] = {}
        if m:
            cut = top[-1] * (1.0 - SCORE_RTOL)
            sel = scores >= cut
            ties = dict(zip(cand[sel].tolist(), scores[sel].tolist()))
        return Expected(top=top, ties=ties)

    def n_docs_stats(self) -> int:
        """N of BM25: live docs plus pending tombstones."""
        return int(self.in_stats.sum())

    def live_count(self) -> int:
        return len(self.live_of)

    def live_text_bytes(self) -> int:
        return int(self.text_b[self.alive].sum())

    def odoc_of(self, docmap_ids: np.ndarray, docmap_urls: np.ndarray
                ) -> np.ndarray:
        """Array mapping engine doc_id -> odoc (-1: unknown). A url's
        engine doc_ids, ascending, pair with the url's oracle versions in
        insertion order (a re-crawl gets a higher doc_id than the page it
        replaces)."""
        ids = np.asarray(docmap_ids, dtype=np.int64)
        out = np.full(int(ids.max()) + 1 if ids.size else 0, -1,
                      dtype=np.int64)
        order = np.lexsort((ids, docmap_urls))
        prev, rank = None, 0
        for i in order:
            u = docmap_urls[i]
            rank = rank + 1 if u == prev else 0
            prev = u
            vs = self.versions.get(u)
            if vs is not None and rank < len(vs):
                out[ids[i]] = vs[rank]
        return out
