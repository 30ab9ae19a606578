"""Seeded inputs for the benchmark: Zipf-vocabulary web pages, request
streams and append streams.

Everything here is a pure function of the seed and the sizes, and none of
it calls into ``patapsco_spark``: the program under test receives only the
generated pages and query strings, so a change to the program's own page
synthesizer cannot change what the benchmark feeds it.

The generator also keeps the counts an index build must reproduce (number
of documents, total tokens after whitespace tokenisation) and the text the
DuckDB oracles score: lower-cased with runs of whitespace collapsed to one
space, which is what ``TextConfig(stem=None, stopwords=None,
lowercase=True)`` indexes.
"""

from __future__ import annotations

import html
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The page shape is the one the program documents for its own Zipf corpus
# (``sources.webpages._synth_batch(vocab="zipf")``), re-implemented here:
# 100-500 words per page, a 50 000-word vocabulary with rank frequency
# ~ r^-2 (inverse CDF of a uniform draw, rank = floor(1/u)), and a sentence
# break every 8-14 words.
VOCAB_SIZE = 50_000
WORDS_MIN, WORDS_MAX = 100, 499
LINE_MIN, LINE_MAX = 8, 14
# Query terms are drawn from the same vocabulary with P(rank r) ~ 1/r, a
# flatter law than the pages', so that queries hold tail terms (rank above
# 100) as well as head terms; under r^-2 almost every query term would be
# one of the first few words.
QUERY_ZIPF_S = 1.0
ACCENT_SHARE = 0.1          # pages carrying one non-ASCII word
ACCENTED = ["café", "naïve", "zürich", "señor", "façade", "fjörd", "élan",
            "söze"]
_ONSETS = "b c d f g h k l m n p r s t v z".split()
_NUCLEI = "a e i o u".split()
_SYLLABLES = [o + n for o in _ONSETS for n in _NUCLEI]


def word(rank: int) -> str:
    """The vocabulary word of a 1-based rank: a unique pseudo-word of at
    least two syllables (base-80 digits of the rank)."""
    out = []
    r = rank
    while r:
        r, d = divmod(r, len(_SYLLABLES))
        out.append(_SYLLABLES[d])
    while len(out) < 2:
        out.append(_SYLLABLES[0])
    return "".join(reversed(out))


VOCAB = [word(r) for r in range(1, VOCAB_SIZE + 1)]
_QP = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -QUERY_ZIPF_S
_QP /= _QP.sum()


def page_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 0-based vocabulary ranks of page words: rank = floor(1/u) for
    u uniform in (0, 1], capped at the vocabulary size (pmf ~ r^-2)."""
    u = 1.0 - rng.random(n)
    return np.minimum(VOCAB_SIZE, (1.0 / u).astype(np.int64)) - 1


def query_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 0-based vocabulary ranks of query terms (pmf ~ 1/r)."""
    return rng.choice(VOCAB_SIZE, size=n, p=_QP)


def page_url(gen: int, i: int) -> str:
    """External id of page ``i`` of generation ``gen`` (0 = base corpus,
    k = k-th append). Lexicographic id order equals (gen, i) order, so the
    engine's docid tie-break matches the oracle's string tie-break even
    after appends."""
    return f"https://bench.example/g{gen:03d}/p{i:07d}"


@dataclass
class Corpus:
    """One generation of pages plus what the build must report for it."""

    urls: list[str]
    html: list[bytes]
    text: list[str]          # extracted text as the engine should see it
    norm: list[str]          # lower-cased, whitespace-collapsed (oracle)
    num_docs: int
    total_tf: int
    html_bytes: int
    num_postings: int        # distinct (term, page) pairs
    crawled_at: np.ndarray   # warc_ts, microseconds since the epoch

    def write_parquet(self, path: str, lang: str = "eng") -> None:
        """Write the crawl input (url, warc_ts, html, lang) as one parquet
        file."""
        table = pa.table({
            "url": pa.array(self.urls, pa.string()),
            "warc_ts": pa.array(self.crawled_at, pa.timestamp("us")),
            "html": pa.array(self.html, pa.binary()),
            "lang": pa.array([lang] * self.num_docs, pa.string()),
        })
        pq.write_table(table, path)

    def write_docs_parquet(self, path: str) -> None:
        """Write the extracted documents (id, text, lang) as one parquet
        file: the input of ``analyze_documents`` and ``append_batch``."""
        pq.write_table(pa.table({
            "id": pa.array(self.urls, pa.string()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(["eng"] * self.num_docs, pa.string()),
        }), path)

    def postings(self) -> list[tuple[np.ndarray, np.ndarray]]:
        """Per term, the (page index, term frequency) postings of the
        corpus, page indexes ascending: the input of the codec probe."""
        lists: dict[str, tuple[list, list]] = {}
        for i, text in enumerate(self.norm):
            counts: dict[str, int] = {}
            for t in text.split():
                counts[t] = counts.get(t, 0) + 1
            for t, c in counts.items():
                d, f = lists.setdefault(t, ([], []))
                d.append(i)
                f.append(c)
        return [(np.array(d, np.int64), np.array(f, np.int64))
                for d, f in lists.values()]


def make_corpus(seed: int, n: int, gen: int = 0) -> Corpus:
    """``n`` seeded web pages. Each page is a title line and sentences of
    Zipf-drawn words, one sentence per ``<p>`` and the same sentence length
    throughout a page, with a capitalised first word (mixed case) and, on a
    share of pages, one accented word (so the analysis chain's non-ASCII
    route also runs)."""
    rng = np.random.default_rng([seed, gen, 0x9A6E])
    lengths = rng.integers(WORDS_MIN, WORDS_MAX + 1, size=n)
    steps = rng.integers(LINE_MIN, LINE_MAX + 1, size=n)
    ranks = page_ranks(rng, int(lengths.sum()))
    accent = rng.random(n) < ACCENT_SHARE
    accent_word = rng.integers(0, len(ACCENTED), size=n)
    urls, htmls, texts, norms = [], [], [], []
    total_tf = html_bytes = num_postings = 0
    pos = 0
    for i in range(n):
        words = [VOCAB[r] for r in ranks[pos:pos + lengths[i]]]
        pos += lengths[i]
        if accent[i]:
            words[len(words) // 2] = ACCENTED[accent_word[i]]
        title_words = words[:3]
        title = " ".join(w.capitalize() for w in title_words)
        body = words[3:]
        lines = []
        for p in range(0, len(body), steps[i]):
            chunk = body[p:p + steps[i]]
            chunk[0] = chunk[0].capitalize()
            lines.append(" ".join(chunk))
        doc = render_html(title, lines, i)
        text = "\n".join([title] + lines)
        urls.append(page_url(gen, i))
        htmls.append(doc)
        texts.append(text)
        norm = " ".join(text.lower().split())
        norms.append(norm)
        num_postings += len(set(norm.split()))
        total_tf += len(words)
        html_bytes += len(doc)
    crawled_at = (1_600_000_000 + rng.integers(0, 10**7, size=n)) * 10**6
    return Corpus(urls, htmls, texts, norms, n, total_tf, html_bytes,
                  num_postings, crawled_at)


def render_html(title: str, lines: list[str], i: int) -> bytes:
    """A small web page whose visible text is the title line followed by
    one line per paragraph; script, style and comment content is noise the
    extractor must drop."""
    body = "\n".join(f"<p>{html.escape(ln)}</p>" for ln in lines)
    page = ("<!DOCTYPE html><html><head>"
            f"<title>{html.escape(title)}</title>"
            "<style>p { margin: 0 }</style>"
            f"<script>var page = {i}; var s = '<p>no text</p>';</script>"
            "</head><body><!-- navigation -->\n"
            f"<div class=\"main\">{body}</div></body></html>")
    return page.encode("utf-8")


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

@dataclass
class Request:
    kind: str                # "bm25" | "phrase" | "batch"
    qid: str
    text: str = ""           # bm25 / phrase query text
    terms: tuple = ()        # bm25 terms (oracle input)
    phrase: tuple = ()       # phrase words (oracle input)
    extra: str = ""          # loose term of a phrase request
    topics: tuple = ()       # batch: ((qid, text), ...)


class QueryStream:
    """Seeded query generator over the terms a corpus actually contains.

    Plain BM25 queries take 1-4 distinct terms by Zipf rank (see
    ``QUERY_ZIPF_S``), so both head terms (long postings) and tail terms
    occur. Phrase queries take a
    two-word phrase that occurs in some page plus one loose term, as
    ``'"a b" c'`` in boolean syntax."""

    def __init__(self, seed: int, corpus: Corpus, stream: int = 1):
        self.rng = np.random.default_rng([seed, stream, 0x51E7])
        self.corpus = corpus
        present = set()
        for t in corpus.norm:
            present.update(t.split())
        self.present = present
        self.n = 0

    def _term(self) -> str:
        while True:
            w = VOCAB[int(query_ranks(self.rng, 1)[0])]
            if w in self.present:
                return w

    def _terms(self, lo: int = 1, hi: int = 4) -> list[str]:
        k = int(self.rng.integers(lo, hi + 1))
        out: list[str] = []
        while len(out) < k:
            w = self._term()
            if w not in out:
                out.append(w)
        return out

    def _qid(self, kind: str) -> str:
        self.n += 1
        return f"{kind}{self.n:05d}"

    def bm25(self) -> Request:
        terms = self._terms()
        return Request("bm25", self._qid("q"), " ".join(terms),
                       terms=tuple(terms))

    def phrase(self) -> Request:
        norm = self.corpus.norm
        while True:
            toks = norm[int(self.rng.integers(len(norm)))].split()
            j = int(self.rng.integers(len(toks) - 1))
            a, b = toks[j], toks[j + 1]
            if a == b or not a.isascii() or not b.isascii():
                continue
            extra = self._term()
            if extra in (a, b):
                continue
            return Request("phrase", self._qid("p"), f'"{a} {b}" {extra}',
                           phrase=(a, b), extra=extra)

    def batch(self, size: int) -> Request:
        qid = self._qid("b")
        topics = tuple((f"{qid}-{j:03d}", " ".join(self._terms()))
                       for j in range(size))
        return Request("batch", qid, topics=topics)
