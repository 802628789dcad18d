"""Seeded synthetic web-page corpus for the benchmark.

This generator is the benchmark's own; it never imports the program under
test, so a change to the program cannot change the inputs. Every array is
drawn from ``numpy.random.Generator(PCG64(seed))``: the same seed gives
byte-identical pages, and another seed gives other pages with the same
statistical shape (so the measured numbers stay comparable across seeds).

What a page looks like, and which property of it each knob varies:

* ``zipf_s``: word ranks follow a Zipf law over a fixed vocabulary; the
  exponent sets how much work queries and postings share (head terms).
* ``len_median`` / ``len_sigma``: document length in words is log-normal,
  clipped to ``[len_min, len_max]``.
* ``html_noise``: the share of word boundaries that carry a tag, comment or
  line break, on top of a head with ``<style>``/``<script>`` blocks.
  Apostrophes and non-ASCII letters are written as character references.
  ``extract_text(html) == text`` holds for every page by construction.
* ``non_en_share``: pages tagged with another language; they carry marker
  words of their own and must be dropped by ``lang_filter="en"``.
* ``recrawl_share``: in an upsert batch, the share of pages that re-fetch
  an already indexed url (with new text) rather than add a new url.

Text is kept as word ids into ``Vocabulary.surfaces``; the oracle
tokenizes each distinct surface form once (see ``oracle.py``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

# Fixed seed of the vocabulary: the same words for every run seed, so only
# the sampling (which pages, which words where) changes with the seed.
VOCAB_SEED = 20240607
VOCAB_SIZE = 40_000
# Capitalised variants exist for the top words; a share of their
# occurrences use them (same token after lower-casing).
N_CAPITALISED = 3_000
CAPITAL_SHARE = 0.08
# Share of vocabulary entries written with an apostrophe, hyphen, digit or
# non-ASCII letter: each tokenizes into pieces that other words share.
DECORATED_SHARE = 0.03

REFERENCE_QUERIES = ("st petersburg high school", "united states constitution",
                     "search", "los angeles", "the national football league",
                     "the book of life", "care a lot", "usb hub")
# Vocabulary rank of each reference-query word: stop words in the head,
# the rest spread over the mid band so every reference query matches.
_REFERENCE_RANKS = {
    "the": 0, "of": 2, "a": 4, "high": 60, "life": 90, "states": 120,
    "book": 180, "care": 240, "lot": 300, "school": 420, "search": 600,
    "united": 800, "national": 1100, "los": 1500, "angeles": 1600,
    "league": 2200, "football": 2600, "constitution": 3500, "st": 450,
    "petersburg": 5200, "usb": 7000, "hub": 6400,
}
NON_EN_LANGS = ("de", "fr", "es")
# Words that only non-en pages carry: a query for one finds a page that
# slipped through the language filter.
NON_EN_MARKERS = ("und", "der", "ich", "les", "avec", "une", "pero", "muy")

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + \
    ["ka", "tri", "str", "lo", "qu", "xa", "ph", "th", "ch", "sh"]
_ACCENTED = "éèàüöñç"
_TAGS = ("<b>", "</b>", "<i>", "</i>", "</p><p>", "<br/>", "\n",
         '<span class="t">', "</span>", "<!-- c -->", "<a href=\"#x\">",
         "</a>", "<li>", "</td><td>")


@dataclass(frozen=True)
class CorpusSpec:
    zipf_s: float = 1.05
    len_median: int = 110
    len_sigma: float = 0.6
    len_min: int = 12
    len_max: int = 1200
    html_noise: float = 0.06
    non_en_share: float = 0.1
    recrawl_share: float = 0.5


class Vocabulary:
    """The fixed surface forms pages are written with.

    ``surfaces[i]`` for ``i < VOCAB_SIZE`` is the word of Zipf rank ``i``;
    ``surfaces[VOCAB_SIZE + j]`` is the capitalised form of rank ``j``;
    after those come the non-en marker words."""

    def __init__(self) -> None:
        rng = np.random.Generator(np.random.PCG64(VOCAB_SEED))
        reserved = set(_REFERENCE_RANKS) | set(NON_EN_MARKERS)
        by_rank = {r: w for w, r in _REFERENCE_RANKS.items()}
        seen = set(reserved)
        words = []
        for rank in range(VOCAB_SIZE):
            if rank in by_rank:
                words.append(by_rank[rank])
                continue
            while True:
                n_syl = 1 + int(rng.integers(0, 3)) + (rank > 500) \
                    + (rank > 8000)
                w = "".join(_SYLLABLES[int(i)] for i in
                            rng.integers(0, len(_SYLLABLES), n_syl))
                if w not in seen:
                    break
            seen.add(w)
            if rank > 50 and rng.random() < DECORATED_SHARE:
                w = _decorate(w, rng)
            words.append(w)
        capital = [w[:1].upper() + w[1:] for w in words[:N_CAPITALISED]]
        self.surfaces = np.array(words + capital + list(NON_EN_MARKERS),
                                 dtype=object)
        self.marker_base = VOCAB_SIZE + N_CAPITALISED
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        self._ranks = ranks

    def cdf(self, zipf_s: float) -> np.ndarray:
        w = self._ranks ** -zipf_s
        return np.cumsum(w / w.sum())


def _decorate(word: str, rng: np.random.Generator) -> str:
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return word + "'s"
    if kind == 1:
        return word[:2] + "-" + word[2:]
    if kind == 2:
        return word + str(int(rng.integers(0, 100)))
    return word[:2] + _ACCENTED[int(rng.integers(0, len(_ACCENTED)))] \
        + word[2:]


@dataclass
class Pages:
    """A batch of generated pages, column-wise.

    ``words`` holds every page's word ids back to back; page ``i`` owns
    ``words[offsets[i]:offsets[i + 1]]``."""
    url: np.ndarray     # object (str)
    lang: np.ndarray    # object (str)
    html: list          # bytes per page
    words: np.ndarray   # int32 surface ids
    offsets: np.ndarray  # int64, len n + 1

    def __len__(self) -> int:
        return len(self.url)

    def text(self, vocab: Vocabulary, i: int) -> str:
        lo, hi = self.offsets[i], self.offsets[i + 1]
        return " ".join(vocab.surfaces[self.words[lo:hi]])

    def digest(self) -> str:
        """sha256 over every column, for the determinism self-check."""
        h = hashlib.sha256()
        for u, l, b in zip(self.url, self.lang, self.html):
            h.update(u.encode()); h.update(l.encode()); h.update(b)
        h.update(self.words.tobytes()); h.update(self.offsets.tobytes())
        return h.hexdigest()

    def to_arrow(self):
        import pyarrow as pa
        return pa.table({"url": pa.array(list(self.url), pa.string()),
                         "html": pa.array(self.html, pa.binary()),
                         "lang": pa.array(list(self.lang), pa.string())})


class Generator:
    """Draws pages for one run seed; successive calls continue the same
    stream, so a run's base corpus, appends and re-crawls never collide."""

    def __init__(self, seed: int, spec: CorpusSpec,
                 vocab: Vocabulary) -> None:
        self.seed = int(seed)
        self.spec = spec
        self.vocab = vocab
        self.rng = np.random.Generator(np.random.PCG64(self.seed))
        self._cdf = vocab.cdf(spec.zipf_s)
        self._next_url = 0
        self._url_tag = hashlib.sha1(str(self.seed).encode()).hexdigest()[:6]

    def _new_urls(self, n: int) -> np.ndarray:
        ids = np.arange(self._next_url, self._next_url + n)
        self._next_url += n
        hosts = self.rng.integers(0, 2000, n)
        return np.array([f"https://site{h:04d}.example/{self._url_tag}/p{i}"
                         for h, i in zip(hosts, ids)], dtype=object)

    def pages(self, n: int, urls: np.ndarray | None = None,
              all_en: bool = False) -> Pages:
        """``n`` fresh pages; ``urls`` re-uses given urls (re-crawls)."""
        s, rng = self.spec, self.rng
        if urls is None:
            urls = self._new_urls(n)
        lens = np.clip(np.round(rng.lognormal(np.log(s.len_median),
                                              s.len_sigma, n)),
                       s.len_min, s.len_max).astype(np.int64)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        total = int(offsets[-1])
        words = np.minimum(np.searchsorted(self._cdf, rng.random(total)),
                           VOCAB_SIZE - 1).astype(np.int32)
        cap = (words < N_CAPITALISED) & (rng.random(total) < CAPITAL_SHARE)
        words[cap] += VOCAB_SIZE
        if all_en:
            lang = np.full(n, "en", dtype=object)
        else:
            lang_pick = rng.integers(0, len(NON_EN_LANGS), n)
            lang = np.where(rng.random(n) < s.non_en_share,
                            np.array(NON_EN_LANGS, dtype=object)[lang_pick],
                            "en").astype(object)
            # non-en pages open with one of their marker words
            non_en = np.flatnonzero(lang != "en")
            words[offsets[non_en]] = self.vocab.marker_base + \
                rng.integers(0, len(NON_EN_MARKERS), len(non_en))
        noise = rng.random(total) < s.html_noise
        tag_pick = rng.integers(0, len(_TAGS), total)
        script_len = rng.integers(0, 6, n)
        html = [self._html(words[offsets[i]:offsets[i + 1]],
                           noise[offsets[i]:offsets[i + 1]],
                           tag_pick[offsets[i]:offsets[i + 1]],
                           int(script_len[i]), i)
                for i in range(n)]
        return Pages(urls, lang, html, words, offsets)

    def _html(self, words, noise, tags, script_len: int, i: int) -> bytes:
        surf = self.vocab.surfaces[words]
        # a noisy boundary replaces the separating space with a tag: tags
        # extract to whitespace, which collapses back to one space
        seps = np.where(noise[1:], np.array(_TAGS, dtype=object)[tags[1:]],
                        " ")
        parts = np.empty(2 * len(surf) - 1, dtype=object)
        parts[0::2] = surf
        parts[1::2] = seps
        body = "".join(parts).replace("'", "&#39;")
        script = "var s = '<p>hidden</p>';" * script_len
        page = (f"<html><head><title></title>"
                f"<style>p {{ margin: {i % 7}px; }}</style>"
                f"<script>{script}</script></head>\n"
                f"<body><!-- page {i} --><p>{body}</p></body></html>")
        # non-ASCII letters as numeric character references
        return page.encode("ascii", "xmlcharrefreplace")
