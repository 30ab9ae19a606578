"""search-after paging (IndexSearcher.searchAfter) and the total-hit-count
collector (TotalHitCountCollector) over the sharded index."""

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import (process_queries, search,
                                               search_texts)

CFG = TextConfig(stem=None, stopwords=None, lowercase=True)

# distinct tf/dl per doc → distinct scores (paging not at the mercy of ties)
CORPUS = [
    ("d1", "stream stream stream window", "eng"),
    ("d2", "stream stream window filter", "eng"),
    ("d3", "stream window filter scan table", "eng"),
    ("d4", "window filter scan", "eng"),
    ("d5", "stream window window filter scan table probe", "eng"),
    ("d6", "stream stream stream stream filter probe", "eng"),
    ("d7", "window probe cache", "eng"),
]


def _fresh(spark, path):
    docs = spark.createDataFrame(CORPUS, "id string, text string, lang string")
    build_index(spark, docs, str(path), IndexConfig(text=CFG, num_shards=3),
                resume=False)


def _build(index_copy, spark, path):
    """The test's own copy of the CORPUS index (built once)."""
    return index_copy("search_after", path, lambda p: _fresh(spark, p))


def _page(spark, idx, k, after=None, **kw):
    res = search_texts(spark, idx, [("q", "stream window")],
                       RetrieveConfig(k=k, after=after, **kw), text_cfg=CFG)
    return res.select("doc_id", "docid", "rank", "score").collect()


class TestSearchAfter:
    def test_pages_tile_the_full_ranking(self, spark, tmp_path, index_copy):
        idx = _build(index_copy, spark, tmp_path / "idx")
        full = _page(spark, idx, 10)
        assert len(full) == 7
        pages, cursor = [], None
        for _ in range(3):
            page = _page(spark, idx, 3, after=cursor)
            if not page:
                break
            assert [r["rank"] for r in page] == list(range(len(page)))
            pages.extend(page)
            cursor = (page[-1]["score"], page[-1]["docid"])
        assert [(r["doc_id"], r["score"]) for r in pages] == \
            [(r["doc_id"], r["score"]) for r in full]
        # past the end: empty page
        assert _page(spark, idx, 3, after=cursor) == []

    def test_per_query_cursor_dict(self, spark, tmp_path, index_copy):
        idx = _build(index_copy, spark, tmp_path / "idx")
        plans = process_queries([("a", "stream"), ("b", "window")], CFG,
                                mode="plain")
        full = search(spark, idx, plans, RetrieveConfig(k=10)).collect()
        by_q = {}
        for r in full:
            by_q.setdefault(r["query_id"], []).append(r)
        cursors = {q: (rows[1]["score"], rows[1]["docid"])
                   for q, rows in by_q.items()}  # skip 2 per query
        paged = search(spark, idx, plans,
                       RetrieveConfig(k=10, after=cursors)).collect()
        got = {}
        for r in paged:
            got.setdefault(r["query_id"], []).append(r)
        for q, rows in by_q.items():
            assert [(r["doc_id"], r["score"]) for r in got.get(q, [])] == \
                [(r["doc_id"], r["score"]) for r in rows[2:]]


class TestMoreLikeThis:
    def test_source_ranks_first_and_gates_apply(self, spark, tmp_path,
                                                index_copy):
        import pytest

        from patapsco_spark.operators.retrieve import more_like_this

        idx = _build(index_copy, spark, tmp_path / "idx")
        like = "stream stream window window filter"  # tf≥2: stream, window
        res = more_like_this(spark, idx, like, CFG, min_tf=2, min_df=1,
                             max_terms=25, cfg=RetrieveConfig(k=10)).collect()
        assert res  # selected terms = {stream, window}
        # every corpus doc contains stream or window except none → all 7
        assert len(res) == 7
        # doc most similar to the like-text tops the ranking
        assert res[0]["doc_id"] in ("d1", "d5")
        # min_df gate: demanding df ≥ 8 (corpus has 7 docs) empties the
        # candidate set loudly
        with pytest.raises(ValueError, match="min_df"):
            more_like_this(spark, idx, like, CFG, min_tf=2, min_df=8)
        with pytest.raises(ValueError, match="min_tf"):
            more_like_this(spark, idx, "all distinct words here", CFG)

    def test_max_terms_caps_selection(self, spark, tmp_path, index_copy):
        from patapsco_spark.operators.retrieve import more_like_this

        idx = _build(index_copy, spark, tmp_path / "idx")
        like = "stream stream window window filter filter scan scan"
        # cap at 1 informative term → ranking must equal a 1-term query
        got = more_like_this(spark, idx, like, CFG, min_tf=2, min_df=1,
                             max_terms=1, cfg=RetrieveConfig(k=10)).collect()
        # highest tf·idf term wins the cap; all results match that term
        assert got
        assert len({r["doc_id"] for r in got}) == len(got)


class TestTotalHitCount:
    def test_counts_match_unbounded_search(self, spark, tmp_path, index_copy):
        idx = _build(index_copy, spark, tmp_path / "idx")
        plans = process_queries(
            [("a", "stream"), ("b", "probe"), ("c", "nosuchterm")], CFG,
            mode="plain")
        counts = {r["query_id"]: r["total_hits"]
                  for r in search(spark, idx, plans, RetrieveConfig(k=100),
                                  count_only=True).collect()}
        full = search(spark, idx, plans, RetrieveConfig(k=100)).collect()
        want = {}
        for r in full:
            want[r["query_id"]] = want.get(r["query_id"], 0) + 1
        assert counts == want  # zero-match query omitted from both
        assert "c" not in counts

    def test_count_respects_boolean_and_deletes(self, spark, tmp_path,
                                                index_copy):
        from patapsco_spark.operators.deletes import delete_docs

        idx = _build(index_copy, spark, tmp_path / "idx")
        plans = process_queries([("q", "+stream -filter")], CFG,
                                mode="boolean")
        n0 = search(spark, idx, plans, RetrieveConfig(),
                    count_only=True).collect()[0]["total_hits"]
        assert n0 == 1  # only d1 has stream without filter
        delete_docs(spark, idx, ["d1"])
        got = search(spark, idx, plans, RetrieveConfig(),
                     count_only=True).collect()
        assert got == []  # the only match is tombstoned

    def test_count_schema_on_empty_terms(self, spark, tmp_path, index_copy):
        """Review fix: the empty-terms early return must keep the count
        contract's (query_id, total_hits) schema."""
        idx = _build(index_copy, spark, tmp_path / "idx")
        plans = process_queries([("q", "")], CFG, mode="plain")
        df = search(spark, idx, plans, RetrieveConfig(), count_only=True)
        assert df.columns == ["query_id", "total_hits"]
        assert df.collect() == []
