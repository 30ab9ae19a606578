"""HITS (operators/linkgraph.py) and PMI collocations
(operators/textstats.py): closed-form goldens on tiny inputs plus
validation."""

import math

import pytest

from patapsco_spark.operators.linkgraph import hits
from patapsco_spark.operators.textstats import pmi_collocations


def test_hits_star_graph(spark):
    # h -> {a1, a2, a3}: h is the only hub, authorities split evenly.
    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3")], "src string, dst string")
    out = {r["node"]: (r["auth"], r["hub"])
           for r in hits(edges, iterations=4).collect()}
    s3 = 1 / math.sqrt(3)
    assert out["h"][0] == pytest.approx(0.0)
    assert out["h"][1] == pytest.approx(1.0)
    for a in ("a1", "a2", "a3"):
        assert out[a][0] == pytest.approx(s3, abs=1e-12)
        assert out[a][1] == pytest.approx(0.0)


def test_hits_mutual_reinforcement(spark):
    # two hubs point at x; one of them also points at y: x out-ranks y,
    # and the 2-link hub out-ranks the 1-link hub
    edges = spark.createDataFrame(
        [("h1", "x"), ("h2", "x"), ("h2", "y")], "src string, dst string")
    out = {r["node"]: (r["auth"], r["hub"])
           for r in hits(edges, iterations=10).collect()}
    assert out["x"][0] > out["y"][0] > 0
    assert out["h2"][1] > out["h1"][1] > 0


def test_hits_validation(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


def test_pmi_hand_math(spark):
    # "big apple" always adjacent; "the" everywhere — low PMI
    docs = spark.createDataFrame(
        [("1", "the big apple is the big apple"),
         ("2", "big apple pie"),
         ("3", "the the the")], "doc_id string, text string")
    out = pmi_collocations(docs, k=10, min_count=2).collect()
    rows = {(r["w1"], r["w2"]): (r["pair_count"], r["pmi"]) for r in out}
    toks = [t for _, txt in [("1", "the big apple is the big apple"),
                             ("2", "big apple pie"),
                             ("3", "the the the")] for t in txt.split()]
    pairs = []
    for txt in ("the big apple is the big apple", "big apple pie",
                "the the the"):
        ws = txt.split()
        pairs += list(zip(ws, ws[1:]))
    n, np_ = len(toks), len(pairs)
    c_big, c_apple = toks.count("big"), toks.count("apple")
    c_pair = pairs.count(("big", "apple"))
    want = math.log((c_pair / np_) / ((c_big / n) * (c_apple / n)))
    assert rows[("big", "apple")][0] == 3
    assert rows[("big", "apple")][1] == pytest.approx(want, abs=1e-12)
    # min_count floor: ('apple', 'is') occurs once -> excluded
    assert ("apple", "is") not in rows
    # "the the" (2 occurrences) scores BELOW "big apple"
    assert rows[("the", "the")][1] < rows[("big", "apple")][1]


def test_pmi_validation(spark):
    docs = spark.createDataFrame([("1", "a b")], "doc_id string, text string")
    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(docs, min_count=0)
    empty = spark.createDataFrame([("1", "solo")],
                                  "doc_id string, text string")
    assert pmi_collocations(empty, min_count=1).count() == 0


def test_pmi_null_text_counts_zero_tokens_without_ansi(spark):
    # size(NULL) is -1 when ANSI mode is off: a NULL text must still count
    # zero tokens, so the PMI values equal those of the corpus without it
    texts = ["the big apple is the big apple", "big apple pie", "the the the"]
    base = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)],
                                 "doc_id string, text string")
    with_null = base.unionByName(
        spark.createDataFrame([("n", None)], "doc_id string, text string"))
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {(r["w1"], r["w2"]): r["pmi"]
               for r in pmi_collocations(with_null, k=10,
                                         min_count=2).collect()}
        want = {(r["w1"], r["w2"]): r["pmi"]
                for r in pmi_collocations(base, k=10, min_count=2).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert got == want and got
