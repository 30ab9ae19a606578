"""Round-5 hot-path identity tests.

The index build's two IPC-elimination moves are correctness-gated here:

1. The Catalyst ASCII fast path (functions/analyze._analyze_catalyst) must
   be byte-identical to the pandas kernel on every row it claims — pinned
   by running analyze_documents with the router enabled vs disabled over a
   corpus that mixes ASCII, whitespace oddities, mojibake, unicode, nulls,
   over-length docs, and \r-terminated strings (the Java-$ trap).
2. Catalyst tf emission (operators/indexer.emit_tf_catalyst) must be
   row-identical to the Arrow reference kernel (_emit_tf).
"""

import numpy as np
import pytest

from patapsco_spark.config import IndexConfig, TextConfig
from patapsco_spark.functions.analyze import (
    analyze_documents,
    catalyst_fast_eligible,
)
from patapsco_spark.operators.indexer import _emit_tf, emit_tf_catalyst

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)

# every row class the router must handle: (id, text, lang)
MIXED_DOCS = [
    ("d00", "Plain ASCII text with words", "eng"),
    ("d01", "  leading and   trailing spaces  ", "eng"),
    ("d02", "multi\n\nline\ntext here", "eng"),
    ("d03", "", "eng"),
    ("d04", None, "eng"),
    ("d05", "UPPER lower MiXeD 123 !@# ~`[]{}", "eng"),
    ("d06", "tab\tseparated words", "eng"),          # \t → pandas path
    ("d07", "carriage\rreturn", "eng"),              # \r → Java-$ trap row
    ("d08", "ends with newline\n", "eng"),
    ("d09", "ends with cr\r", "eng"),
    ("d10", "café résumé naïve", "eng"),
    ("d11", "Привет мир", "rus"),
    ("d12", "中文 文本", "zho"),
    ("d13", "zero​width and no break", "eng"),   # format chars
    ("d14", "mojibake cafÃ© here", "eng"),       # fix_encoding row
    ("d15", "é combining acute", "eng"),             # NFC row
    ("d16", "x " * 300, "eng"),
    ("d17", "null lang row", None),
    ("d18", "empty lang row", ""),
    ("d19", "a" * 120, "eng"),       # over max_text_len (ascii) → dropped
    ("d20", "é" + "a" * 119, "eng"),  # over max_text_len (non-ascii)
    ("d21", "single", "eng"),
    ("d22", " ", "eng"),
    ("d23", "\n\n\n", "eng"),
    ("d24", "del\x7fchar", "eng"),   # 0x7F not printable → pandas path
]

SMALL_CFG = TextConfig(stem=None, stopwords=None, lowercase=True,
                       max_text_len=110)


def _rows(df):
    out = []
    for r in df.collect():
        d = r.asDict()
        d["terms"] = list(d["terms"])
        if "term_pos" in d:
            d["term_pos"] = list(d["term_pos"])
        out.append(d)
    return sorted(out, key=lambda d: d["id"])


@pytest.mark.parametrize("store_raw", [True, False])
@pytest.mark.parametrize("with_positions", [True, False])
def test_catalyst_vs_python_identity(spark, store_raw, with_positions):
    assert catalyst_fast_eligible(SMALL_CFG)
    df = spark.createDataFrame(MIXED_DOCS, "id string, text string, lang string")
    fast = analyze_documents(df, SMALL_CFG, store_raw=store_raw,
                             with_positions=with_positions,
                             allow_catalyst=True)
    slow = analyze_documents(df, SMALL_CFG, store_raw=store_raw,
                             with_positions=with_positions,
                             allow_catalyst=False)
    assert fast.schema == slow.schema
    assert _rows(fast) == _rows(slow)


def test_catalyst_path_not_taken_for_other_chains():
    assert not catalyst_fast_eligible(TextConfig(stem="porter"))
    assert not catalyst_fast_eligible(TextConfig(stopwords="lucene"))
    assert not catalyst_fast_eligible(TextConfig(tokenize="ngram", stem=None,
                                                 stopwords=None))
    assert not catalyst_fast_eligible(
        TextConfig(stem=None, stopwords=None, lowercase=False))


def test_catalyst_with_transform(spark):
    """batch_transform (html→text) under the fast path: extraction-only
    kernel then JVM analysis — same rows as the fused pandas route."""
    from patapsco_spark.sources.webpages import extract_text_series

    def transform(pdf):
        out = pdf.drop(columns=["html"])
        out["text"] = extract_text_series(pdf["html"])
        return out

    rows = [
        ("u1", b"<html><body><p>Hello World</p><p>Two lines</p></body></html>", "eng"),
        ("u2", b"<p>caf\xc3\xa9 unicode</p>", "eng"),  # utf-8 é → pandas path
        ("u3", b"<script>var x=1;</script><p>after script</p>", "eng"),
        ("u4", None, "eng"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, lang string")
    kw = dict(id_col="url", text_col="text", lang_col="lang",
              batch_transform=transform, extra_cols=("html",))
    fast = analyze_documents(df, RAW, allow_catalyst=True, **kw)
    slow = analyze_documents(df, RAW, allow_catalyst=False, **kw)
    assert _rows(fast) == _rows(slow)


def test_emit_tf_catalyst_matches_kernel(spark):
    rows = []
    rng = np.random.RandomState(7)
    vocab = ["alpha", "beta", "Gamma", "delta-x", "e", "zz", "alpha"]
    for docid in range(40):
        n = int(rng.randint(0, 30))
        terms = [vocab[i] for i in rng.randint(0, len(vocab), n)]
        rows.append((docid % 3, docid, terms))
    rows.append((0, 99, []))       # empty terms → no rows
    rows.append((1, 100, None))    # null terms → no rows
    df = spark.createDataFrame(rows, "shard int, docid long, terms array<string>")

    got = emit_tf_catalyst(df)
    want = df.mapInPandas(
        _emit_tf, schema="shard int, term string, docid long, tf int")
    key = ["shard", "term", "docid"]
    g = sorted([tuple(r) for r in got.select(*key, "tf").collect()])
    w = sorted([tuple(r) for r in want.select(*key, "tf").collect()])
    assert g == w and len(g) > 0


def test_full_build_identity(spark, tmp_index):
    """End-to-end: a build routed through the Catalyst fast path produces
    byte-identical postings/norms to a pandas-only build."""
    import os

    from patapsco_spark.operators.indexer import build_index

    docs = [(f"doc{i:03d}",
             " ".join(["alpha beta gamma delta".split()[j % 4]
                       for j in range(i % 17 + 1)])
             + (" café" if i % 5 == 0 else ""),
             "eng") for i in range(60)]
    df = spark.createDataFrame(docs, "id string, text string, lang string")
    cfg = IndexConfig(text=RAW, num_shards=2)

    import patapsco_spark.functions.analyze as A
    p_fast = os.path.join(tmp_index, "fast")
    build_index(spark, df, p_fast, cfg, resume=False)

    orig = A.catalyst_fast_eligible
    A.catalyst_fast_eligible = lambda cfg: False
    try:
        p_slow = os.path.join(tmp_index, "slow")
        build_index(spark, df, p_slow, cfg, resume=False)
    finally:
        A.catalyst_fast_eligible = orig

    for sub, key in [("postings", ["shard", "term"]), ("norms", ["docid"])]:
        a = spark.read.parquet(f"{p_fast}/{sub}")
        b = spark.read.parquet(f"{p_slow}/{sub}")
        ra = sorted([tuple(r) for r in a.collect()],
                    key=lambda t: str(t))
        rb = sorted([tuple(r) for r in b.collect()],
                    key=lambda t: str(t))
        assert ra == rb, f"{sub} differs between fast and slow builds"
