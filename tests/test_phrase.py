"""Exact phrase scoring over the positions sidecar (IndexConfig.positions).

EXCEEDS the reference: patapsco's Lucene index stores DOCS_AND_FREQS without
positions (/root/reference/patapsco/index.py:52), so its phrase queries
silently degrade to bag-of-words. With the sidecar, a quoted phrase scores
like Lucene's PhraseQuery under BM25: tf = exact phrase frequency,
idf = Σ member-term idfs, same length norm — verified here against an
independent closed-form computation and against the bag-of-words degrade.
"""

import math

import numpy as np
import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.functions.smallfloat import quantize_length
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)

DOCS = [
    ("d1", "red fox jumps high today", "eng"),        # phrase once
    ("d2", "fox red jumps high today", "eng"),        # words, no phrase
    ("d3", "red fox red fox jumps", "eng"),           # phrase twice
    ("d4", "tail red wind fox jumps", "eng"),         # words far apart
    ("d5", "nothing relevant here at all", "eng"),
]


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idxpos"))
    df = spark.createDataFrame(DOCS, "id string, text string, lang string")
    build_index(spark, df, path,
                IndexConfig(text=RAW, num_shards=2, positions=True))
    return path


@pytest.fixture(scope="module")
def flat_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idxflat"))
    df = spark.createDataFrame(DOCS, "id string, text string, lang string")
    build_index(spark, df, path, IndexConfig(text=RAW, num_shards=2))
    return path


def _run(spark, idx, q, **cfg):
    res = search_texts(spark, idx, [("q", q)],
                       RetrieveConfig(k=10, **cfg), text_cfg=RAW, mode="boolean")
    return [(r["doc_id"], r["rank"], r["score"]) for r in res.collect()]


def test_phrase_matches_consecutive_only(spark, pos_index):
    hits = _run(spark, pos_index, '"red fox"')
    assert {h[0] for h in hits} == {"d1", "d3"}


def test_phrase_tf_counts_repeats(spark, pos_index):
    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red fox"'))
    assert hits["d3"] > hits["d1"]  # tf=2 vs tf=1 at equal dl


def test_phrase_score_matches_lucene_closed_form(spark, pos_index):
    """Independent oracle: score = (idf_red + idf_fox) · tf/(tf + k1·(1-b+b·dlq/avgdl))."""
    n, k1, b = 5, 0.9, 0.4
    dls = [5, 5, 5, 5, 5]
    avgdl = float(np.float32(sum(dls) / n))
    idf = lambda df: math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf_phrase = idf(4) + idf(4)     # red in d1..d4, fox in d1..d4
    dlq = float(quantize_length(np.array([5]))[0])
    kpart = k1 * (1 - b + b * dlq / avgdl)
    expect = {"d1": idf_phrase * 1 / (1 + kpart),
              "d3": idf_phrase * 2 / (2 + kpart)}
    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red fox"'))
    for d, s in expect.items():
        assert hits[d] == pytest.approx(s, rel=1e-9)


def test_phrase_degrades_without_positions(spark, flat_index):
    """No sidecar → reference behavior: bag-of-words over the phrase words."""
    hits = {h[0] for h in _run(spark, flat_index, '"red fox"')}
    assert {"d1", "d2", "d3", "d4"} <= hits


def test_phrase_must_not_excludes(spark, pos_index):
    hits = {h[0] for h in _run(spark, pos_index, 'jumps NOT "red fox"')}
    assert hits == {"d2", "d4"}


def test_phrase_and_term_mix(spark, pos_index):
    hits = {h[0] for h in _run(spark, pos_index, '"red fox" AND jumps')}
    assert hits == {"d1", "d3"}


def test_phrase_with_unindexed_word_matches_nothing(spark, pos_index):
    assert _run(spark, pos_index, '"red zzzunknown"') == []


def test_trigram_phrase(spark, pos_index):
    hits = {h[0] for h in _run(spark, pos_index, '"red fox jumps"')}
    assert hits == {"d1", "d3"}  # d3: "red fox jumps" at positions 2..4


def test_phrase_explain_sums_to_score(spark, pos_index):
    """explain() must decompose phrase-query scores exactly: the phrase
    component row (tf = phrase freq, idf = Σ member idfs) plus the loose
    term's row sum to the search score per doc."""
    from collections import defaultdict

    from patapsco_spark.operators.queryparse import parse_query
    from patapsco_spark.operators.retrieve import explain

    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red fox" jumps'))
    plan = parse_query("q", '"red fox" jumps', mode="boolean")
    exp = explain(spark, pos_index, plan, list(hits)).collect()
    by_doc = defaultdict(float)
    terms_seen = set()
    for r in exp:
        by_doc[r["doc_id"]] += r["contribution"]
        terms_seen.add(r["term"])
    assert '"red fox"' in terms_seen and "jumps" in terms_seen
    for d, s in hits.items():
        assert by_doc[d] == pytest.approx(s, rel=1e-9)


def test_phrase_qld_matches_closed_form(spark, pos_index):
    """QLD positional phrases (exceeds the reference, which always degrades):
    the phrase pseudo-term scores through the standard LMDirichlet formula
    with tf = phrase frequency and cf = corpus phrase frequency:
    max(ln(1 + tf/(mu·p_c)) + ln(mu/(dlq+mu)), 0), p_c = (cf+1)/(total_tf+1)."""
    mu, total_tf = 1000, 25          # 5 docs × 5 tokens
    dlq = float(quantize_length(np.array([5]))[0])
    len_comp = math.log(mu / (dlq + mu))
    p_c = (3 + 1) / (total_tf + 1)   # phrase cf: d1 tf=1 + d3 tf=2
    expect = {d: max(math.log(1 + tf / (mu * p_c)) + len_comp, 0.0)
              for d, tf in (("d1", 1), ("d3", 2))}
    hits = dict((h[0], h[2]) for h in
                _run(spark, pos_index, '"red fox"', name="qld"))
    assert set(hits) == {"d1", "d3"}
    for d, s in expect.items():
        assert hits[d] == pytest.approx(s, rel=1e-9)


def test_phrase_qld_degrades_without_positions(spark, flat_index):
    hits = {h[0] for h in _run(spark, flat_index, '"red fox"', name="qld")}
    assert {"d1", "d2", "d3", "d4"} <= hits


def test_phrase_honors_stopword_position_increments(spark, tmp_path):
    """Lucene StopFilter leaves a position gap where a stopword was removed,
    so PhraseQuery "data stream" must NOT match "data the stream". The
    positions sidecar stores pre-removal stream indices (term_pos) to
    reproduce this exactly."""
    stop_cfg = TextConfig(stem=None, stopwords="lucene", lowercase=True)
    docs = [
        ("g1", "data stream processing wins", "eng"),       # adjacent: match
        ("g2", "data the stream processing wins", "eng"),   # gap: no match
        ("g3", "big data of the stream engine", "eng"),     # 2-gap: no match
    ]
    path = str(tmp_path / "idx_stopinc")
    df = spark.createDataFrame(docs, "id string, text string, lang string")
    build_index(spark, df, path,
                IndexConfig(text=stop_cfg, num_shards=2, positions=True))
    res = search_texts(spark, path, [("q", '"data stream"')],
                       RetrieveConfig(k=10), text_cfg=stop_cfg, mode="boolean")
    assert {r["doc_id"] for r in res.collect()} == {"g1"}


def test_analyze_positions_track_removed_stopwords():
    """Unit check of the kernel: with_positions returns each kept token's
    pre-removal index; without removable steps it signals arange via None."""
    import pandas as pd

    from patapsco_spark.functions.analyze import analyze_tokens_batch

    stop_cfg = TextConfig(stem=None, stopwords="lucene", lowercase=True)
    toks, pos = analyze_tokens_batch(
        pd.Series(["data the stream", "the a data"]), stop_cfg,
        with_positions=True)
    assert list(toks) == [["data", "stream"], ["data"]]
    assert list(pos) == [[0, 2], [2]]

    toks2, pos2 = analyze_tokens_batch(
        pd.Series(["data the stream"]), RAW, with_positions=True)
    assert list(toks2) == [["data", "the", "stream"]]
    assert pos2 is None  # nothing removable: positions ≡ 0..n-1


def test_boosted_phrase(spark, pos_index):
    """'"red fox"^3' parses to a boosted phrase clause; the score is exactly
    3× the unboosted phrase score."""
    base = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red fox"'))
    boosted = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red fox"^3'))
    assert set(base) == set(boosted)
    for d in base:
        assert boosted[d] == pytest.approx(3 * base[d], rel=1e-9)


# ---------------------------------------------------------------------------
# sloppy phrases ('"a b"~N', round 5): ordered anchored-greedy proximity —
# semantics + Lucene departures documented at queryparse.Clause.slop


def test_slop_parses_and_orders(spark, pos_index):
    # red..jumps within excess 1: d1 (red=0,jumps=2: excess 1),
    # d2 (red=1,jumps=2: 0), d3 (best anchor red=2,jumps=4: 1); d4 is 2 away
    hits = _run(spark, pos_index, '"red jumps"~1')
    assert {h[0] for h in hits} == {"d1", "d2", "d3"}


def test_slop_widens_matches(spark, pos_index):
    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red jumps"~3'))
    assert set(hits) == {"d1", "d2", "d3", "d4"}
    # d3 has TWO matching anchors (red@0 excess 3, red@2 excess 1) → tf 2
    # beats every tf-1 doc at equal dl
    assert all(hits["d3"] > hits[d] for d in ("d1", "d2", "d4"))


def test_slop_is_ordered_only(spark, pos_index):
    # reversed words never match within any doc — SpanNear(inOrder=true)
    # semantics, a documented departure from Lucene's unordered slop≥2
    assert _run(spark, pos_index, '"jumps red"~2') == []


def test_slop_zero_equals_exact_phrase(spark, pos_index):
    assert _run(spark, pos_index, '"red fox"~0') == \
        _run(spark, pos_index, '"red fox"')


def test_slop_score_matches_closed_form(spark, pos_index):
    """score = (idf_red + idf_jumps) · tf/(tf + k1·(1-b+b·dlq/avgdl))."""
    n, k1, b = 5, 0.9, 0.4
    avgdl = float(np.float32(25 / n))
    idf = lambda df: math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf_ph = idf(4) + idf(4)      # red in d1-d4, jumps in d1-d4
    dlq = float(quantize_length(np.array([5]))[0])
    kpart = k1 * (1 - b + b * dlq / avgdl)
    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red jumps"~3'))
    assert hits["d3"] == pytest.approx(idf_ph * 2 / (2 + kpart), rel=1e-9)
    assert hits["d1"] == pytest.approx(idf_ph * 1 / (1 + kpart), rel=1e-9)


def test_slop_and_exact_coexist_one_batch(spark, pos_index):
    # same words at two slops in ONE query: distinct pseudo-terms, both
    # score. Only d2 ("fox red jumps …") contains the exact phrase, so it
    # earns the exact clause's contribution ON TOP of the sloppy one; all
    # other docs keep their sloppy-only scores.
    hits = dict((h[0], h[2])
                for h in _run(spark, pos_index, '"red jumps" OR "red jumps"~3'))
    only_sloppy = dict((h[0], h[2])
                       for h in _run(spark, pos_index, '"red jumps"~3'))
    only_exact = dict((h[0], h[2])
                      for h in _run(spark, pos_index, '"red jumps"'))
    assert set(hits) == {"d1", "d2", "d3", "d4"}
    assert set(only_exact) == {"d2"}
    for d, s in only_sloppy.items():
        expect = s + only_exact.get(d, 0.0)
        assert hits[d] == pytest.approx(expect, rel=1e-9)


def test_slop_explain_components_sum(spark, pos_index):
    from patapsco_spark.operators.queryparse import plan_boolean
    from patapsco_spark.operators.retrieve import explain
    rows = explain(spark, pos_index, plan_boolean("q", '"red jumps"~3'),
                   ["d3"]).collect()
    assert len(rows) == 1
    assert rows[0]["term"] == '"red jumps"~3'
    assert rows[0]["tf"] == 2
    hits = dict((h[0], h[2]) for h in _run(spark, pos_index, '"red jumps"~3'))
    assert rows[0]["contribution"] == pytest.approx(hits["d3"], rel=1e-9)


def test_slop_degrades_without_positions(spark, flat_index):
    # no sidecar → bag-of-words degrade over the phrase words, exactly the
    # same clause the exact phrase degrades to (slop is a positions-only
    # concept; the reference's positionless Lucene index always degrades)
    sloppy = _run(spark, flat_index, '"red jumps"~1')
    exact = _run(spark, flat_index, '"red jumps"')
    assert sloppy == exact
    assert {"d1", "d2", "d3", "d4"} <= {h[0] for h in sloppy}


def test_slop_float_rejected():
    from patapsco_spark.operators.queryparse import ParseError, plan_boolean
    with pytest.raises(ParseError, match="integer"):
        plan_boolean("q", '"red fox"~1.5')


def test_slop_single_word_ignored():
    from patapsco_spark.operators.queryparse import plan_boolean
    plan = plan_boolean("q", '"red"~4')
    assert plan.clauses[0].slop == 0 and not plan.clauses[0].phrase


def test_slop_with_boost_parses():
    from patapsco_spark.operators.queryparse import plan_boolean
    plan = plan_boolean("q", '"red fox"~2^3')
    c = plan.clauses[0]
    assert c.slop == 2 and c.boost == 3.0 and c.phrase


def test_phrase_rejected_for_qljm_and_classic(spark, pos_index):
    # positional phrase scoring is wired for bm25/qld only; on an index
    # that HAS positions the other scorers must refuse, not silently
    # degrade to the bag-of-words fallback (new r5)
    for name in ("qljm", "classic"):
        with pytest.raises(ValueError, match="not implemented for scorer"):
            _run(spark, pos_index, '"red fox"', name=name)


class TestSpanFirst:
    """Lucene SpanFirstQuery (Clause.first, new r5): the term matches only
    at 0-based token positions < end; tf = qualifying occurrences, BM25
    idf = the wrapped term's full-df idf (SpanWeight builds its SimWeight
    from the underlying term states)."""

    @staticmethod
    def _search(spark, idx, spec, extra=None, **cfg):
        from patapsco_spark.operators.queryparse import span_first_plan
        from patapsco_spark.operators.retrieve import search
        plan = span_first_plan("q", spec, extra_terms=extra)
        res = search(spark, idx, [plan], RetrieveConfig(k=10, **cfg))
        return {r["doc_id"]: r["score"] for r in res.collect()}

    def test_hand_computed(self, spark, pos_index):
        # fox positions: d1@1, d2@0, d3@{1,3}, d4@3; df(fox)=4, N=5, dl=5
        rows = self._search(spark, pos_index, [("fox", 2)])
        assert set(rows) == {"d1", "d2", "d3"}
        idf = math.log(1 + (5 - 4 + 0.5) / (4 + 0.5))
        dlq = float(quantize_length(np.array([5]))[0])
        k = 0.9 * (1 - 0.4 + 0.4 * dlq / 5.0)
        want = idf * 1.0 / (1.0 + k)
        for d in ("d1", "d2", "d3"):
            assert rows[d] == pytest.approx(want, rel=1e-9)

    def test_tf_counts_only_qualifying(self, spark, pos_index):
        # end=4 admits BOTH d3 occurrences (pos 1 and 3) -> tf=2
        rows = self._search(spark, pos_index, [("fox", 4)])
        assert set(rows) == {"d1", "d2", "d3", "d4"}
        idf = math.log(1 + (5 - 4 + 0.5) / (4 + 0.5))
        dlq = float(quantize_length(np.array([5]))[0])
        k = 0.9 * (1 - 0.4 + 0.4 * dlq / 5.0)
        assert rows["d3"] == pytest.approx(idf * 2.0 / (2.0 + k), rel=1e-9)
        assert rows["d3"] > rows["d1"]

    def test_strict_first_position(self, spark, pos_index):
        rows = self._search(spark, pos_index, [("fox", 1)])
        assert set(rows) == {"d2"}

    def test_no_match_spec_is_empty(self, spark, pos_index):
        # 'today' never occurs at position 0 -> pseudo stays out of df_map
        rows = self._search(spark, pos_index, [("today", 1)])
        assert rows == {}

    def test_must_composition(self, spark, pos_index):
        from patapsco_spark.operators.queryparse import (MUST, Clause,
                                                         QueryPlan)
        from patapsco_spark.operators.retrieve import search
        plan = QueryPlan("q", [
            Clause(MUST, 1.0, [("fox", 1.0)], first=2),
            Clause(MUST, 1.0, [("today", 1.0)])], "span_first")
        res = search(spark, pos_index, [plan], RetrieveConfig(k=10))
        assert {r["doc_id"] for r in res.collect()} == {"d1", "d2"}

    def test_positionless_index_refuses(self, spark, flat_index):
        with pytest.raises(ValueError, match="positions sidecar"):
            self._search(spark, flat_index, [("fox", 2)])

    def test_unwired_scorer_refuses(self, spark, pos_index):
        with pytest.raises(ValueError, match="span_first is not"):
            self._search(spark, pos_index, [("fox", 2)], name="classic")

    def test_explain_refuses(self, spark, pos_index):
        from patapsco_spark.operators.queryparse import span_first_plan
        from patapsco_spark.operators.retrieve import explain
        with pytest.raises(ValueError, match="span_first"):
            explain(spark, pos_index, span_first_plan("q", [("fox", 2)]),
                    ["d1"])

    def test_qld_scores_pseudo_stats(self, spark, pos_index):
        # QLD path: pseudo (df, cf) feed LMDirichlet directly
        rows = self._search(spark, pos_index, [("fox", 2)], name="qld",
                            mu=1000)
        assert set(rows) == {"d1", "d2", "d3"}
        # cf(pseudo)=3 qualifying occurrences, total_tf=25, +1 smoothing
        p_c = (3 + 1) / (25 + 1)
        dlq = float(quantize_length(np.array([5]))[0])
        want = math.log(1 + 1.0 / (1000 * p_c)) + math.log(
            1000 / (dlq + 1000))
        for d in ("d1", "d2", "d3"):
            assert rows[d] == pytest.approx(max(want, 0.0), rel=1e-9)
