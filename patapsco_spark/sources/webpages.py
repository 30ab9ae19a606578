"""Common-Crawl-style web-pages source (the BASELINE.json input shape):

    (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Three pieces, all vectorized (Arrow batches, no per-row Python UDFs):

- :func:`render_html_series` / :func:`extract_text_series` — deterministic
  HTML renderer and its exact inverse, the HTML-to-text extractor. The
  extractor is the "byte-identical extracted text per url" invariant surface:
  for any text whose lines are already space-collapsed and stripped,
  ``extract(render(text)) == text`` byte-for-byte, and the pytest goldens pin
  the extractor's behavior on hand-written HTML (scripts, styles, comments,
  entities, block vs inline tags).
- :func:`synthesize_pages` — deterministic synthetic corpus at any scale:
  every column derives from md5(doc index), so the table is identical across
  partitionings, parallelism levels, and runs (no RNG state anywhere).
- :func:`extract_pages` / :func:`index_webpages` — the ingestion pipeline:
  html → text (mapInPandas) → the analysis chain → inverted index.

Reference parity note: patapsco itself ingests pre-extracted jsonl
(/root/reference/patapsco/docs.py:62-99) and has no HTML stage; the
extraction invariant comes from BASELINE.json's input_hint. Everything
downstream of extraction reuses the patapsco-parity analysis chain.
"""

from __future__ import annotations

import hashlib
import html as _html
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# ---------------------------------------------------------------------------
# HTML renderer (used by the synthesizer) and its exact-inverse extractor
# ---------------------------------------------------------------------------

_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|article|section|header|"
    "footer|blockquote|pre|title"
)
_RE_SCRIPT = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
_RE_BLOCK = re.compile(rf"</?({_BLOCK_TAGS})\b[^>]*>", re.I)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_SPACES = re.compile(r"[^\S\n]+")


def html_to_text(doc: str) -> str:
    """Deterministic HTML→text: drop script/style/comments, block tags →
    newline, other tags → '', entity unescape, per-line space collapse +
    strip, drop blank lines. Pure function of the html bytes."""
    s = _RE_SCRIPT.sub(" ", doc)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub(" ", s)
    s = _html.unescape(s)
    lines = (_RE_SPACES.sub(" ", ln).strip() for ln in s.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def extract_text_series(html_bytes: pd.Series) -> pd.Series:
    """Series[bytes|str] html → Series[str] text (utf-8, errors=replace)."""
    def decode(b) -> str:
        if b is None:
            return ""
        if isinstance(b, (bytes, bytearray)):
            return bytes(b).decode("utf-8", errors="replace")
        return str(b)
    return html_bytes.map(lambda b: html_to_text(decode(b)))


def render_html_series(text: pd.Series, title: pd.Series | None = None) -> pd.Series:
    """text (+ optional title) → full html page whose extraction is exactly
    ``title + '\\n' + text`` (title line first, as a <title> block)."""
    def render(args) -> str:
        t, ttl = args
        body = "".join(f"<p>{_html.escape(ln)}</p>\n" for ln in (t or "").split("\n"))
        head = f"<title>{_html.escape(ttl)}</title>" if ttl else ""
        return (
            "<!DOCTYPE html><html><head>"
            f"{head}<style>body{{margin:0}}</style>"
            "<script type=\"text/javascript\">var x = '<p>not text</p>';</script>"
            "</head><body><!-- boilerplate -->"
            f"{body}</body></html>"
        )
    ttl = title if title is not None else pd.Series([None] * len(text), index=text.index)
    return pd.Series(map(render, zip(text, ttl)), index=text.index)


# ---------------------------------------------------------------------------
# Deterministic synthesis (seedless: every value is a pure function of docno)
# ---------------------------------------------------------------------------

_VOCAB = (
    "data query stream window table scan filter join sort hash merge batch "
    "spark index term page crawl web text token shard block score rank "
    "corpus norm delta code link node edge graph cache"
).split()

_LANGS = ["eng", "eng", "eng", "rus", "zho", "fas", "spa", "deu"]  # eng-heavy


def _synth_batch(idx: np.ndarray, vocab: str = "base") -> pd.DataFrame:
    """Vectorized page synthesis for an array of doc indices.

    ``vocab="base"``: ~35-word vocabulary (every term is a head term —
    stresses posting-list length, not pruning). ``vocab="zipf"``: 50k-word
    Zipf-distributed vocabulary via inverse-CDF over hash bytes (realistic
    web-text shape: stopword-like heads, long rare tail — the regime where
    prefix filtering pays off)."""
    n = len(idx)
    # 16 hash bytes per doc drive all choices (stable across everything)
    digests = [hashlib.md5(f"page-{i}".encode()).digest() for i in idx]
    h = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(n, 16)
    # 100-500 words — the extracted-text length of a typical web page
    n_words = 100 + (h[:, 0].astype(np.int64) * 256 + h[:, 1]) % 400
    langs = [_LANGS[b % len(_LANGS)] for b in h[:, 2]]
    texts = []
    for i, (seed_row, nw) in enumerate(zip(h, n_words)):
        # word stream: md5(docno, k) → vocab index, 4 words per hash call
        words = []
        base = f"page-{idx[i]}-w"
        if vocab == "zipf":
            for k in range(0, int(nw), 8):
                d = hashlib.md5(f"{base}{k}".encode()).digest()
                for j in range(0, 16, 2):
                    u = (d[j] * 256 + d[j + 1] + 1) / 65536.0
                    words.append(f"w{min(50000, int(1.0 / u))}")  # pmf ~ r^-2
        else:
            for k in range(0, int(nw), 4):
                d = hashlib.md5(f"{base}{k}".encode()).digest()
                words.extend(_VOCAB[d[j] % len(_VOCAB)] for j in range(4))
        words = words[: int(nw)]
        # sentence breaks every 8-14 words (from hash bytes) → newlines
        step = 8 + seed_row[3] % 7
        lines = [" ".join(words[p:p + step]) for p in range(0, len(words), step)]
        texts.append("\n".join(lines))
    title = [f"Page {i} — {_VOCAB[h[r, 4] % len(_VOCAB)]}" for r, i in enumerate(idx)]
    full_text = [f"{t}\n{x}" for t, x in zip(title, texts)]
    htmls = render_html_series(pd.Series(texts), pd.Series(title))
    ts = pd.to_datetime(
        (np.int64(1_600_000_000) + (h[:, 5].astype(np.int64) * 65536
                                    + h[:, 6].astype(np.int64) * 256
                                    + h[:, 7])) , unit="s")
    return pd.DataFrame({
        "url": [f"https://example.org/{hashlib.md5(f'page-{i}'.encode()).hexdigest()[:8]}/{i}"
                for i in idx],
        "warc_ts": ts,
        "html": [s.encode("utf-8") for s in htmls],
        "text": full_text,
        "lang": langs,
    })


def synthesize_pages(spark: SparkSession, n: int, partitions: int | None = None,
                     vocab: str = "base") -> DataFrame:
    """Deterministic n-page Common-Crawl-style table. Identical content for
    any ``partitions`` value — every row is a pure function of its index."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _synth_batch(pdf["id"].to_numpy(), vocab=vocab)

    return spark.range(n, numPartitions=parts).mapInPandas(gen, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Ingestion pipeline
# ---------------------------------------------------------------------------

EXTRACTED_SCHEMA = "url string, warc_ts timestamp, text string, lang string"


def extract_pages(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, html, …) → (url, warc_ts, text, lang) with text
    re-extracted from html bytes (one Arrow pass; the stored ``text`` column,
    when present, is the per-url byte-identity oracle, not the input)."""
    cols = ["url", "warc_ts", "html", "lang"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "text": extract_text_series(pdf["html"]),
                "lang": pdf["lang"],
            })

    return pages.select(*cols).mapInPandas(run, schema=EXTRACTED_SCHEMA)


def index_webpages(spark: SparkSession, pages: DataFrame, index_path: str,
                   cfg: IndexConfig | None = None, resume: bool = True) -> dict:
    """Full ingestion: html → text → analysis chain → sharded inverted index
    (docids assigned by url order; see indexer docid determinism notes).

    Extraction is FUSED into the analysis kernel — one Python worker per
    task, one Arrow round trip (see analyze_documents); build_index widens
    the scan ahead of that kernel when the file packing runs narrow."""
    from ..operators.indexer import build_index
    cfg = cfg or IndexConfig()
    # select first: the stored `text` column is the byte-identity oracle,
    # not an input — extraction recreates it from html (column pruning)
    pages = pages.select("url", "html", "lang")

    def extract_transform(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.drop(columns=["html"])
        out["text"] = extract_text_series(pdf["html"])
        return out

    return build_index(spark, pages, index_path, cfg, id_col="url",
                       text_col="text", lang_col="lang", resume=resume,
                       batch_transform=extract_transform,
                       transform_cols=("html",))
