"""Point-in-time reads (operators/retrieve.open_pit — the ES PIT /
Lucene reader-refcount analogue, file-based): byte-stable paging across
concurrent appends, loud staleness after compaction, and the interval
arithmetic behind the staleness check."""

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import (_check_pit_valid,
                                               _live_ranges, open_pit,
                                               search_texts)
from patapsco_spark.streaming.incremental import append_batch, compact_index

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id string, text string, lang string")


def _build(spark, path):
    build_index(spark, _docs(spark, [
        ("p1", "alpha beta pad", "eng"),
        ("p2", "alpha pad pad", "eng"),
        ("p3", "beta pad pad", "eng"),
    ]), path, IndexConfig(text=RAW, num_shards=2))


@pytest.fixture()
def idx(spark, tmp_path, index_copy):
    return index_copy("pit", tmp_path / "idx", lambda p: _build(spark, p))


def _hits(spark, idx_path, pit=None):
    res = search_texts(spark, idx_path, [("q", "alpha beta")],
                       RetrieveConfig(k=10), text_cfg=RAW, pit=pit)
    return [(r["doc_id"], r["score"]) for r in res.collect()]


def test_pit_stable_across_append(spark, idx):
    pit = open_pit(idx)
    before = _hits(spark, idx, pit=pit)
    append_batch(spark, _docs(spark, [("p9", "alpha alpha alpha", "eng")]),
                 idx, IndexConfig(text=RAW))
    # the pinned view must replay byte-identically: same docs, same
    # scores (idf/avgdl still computed from the pinned stats segments)
    assert _hits(spark, idx, pit=pit) == before
    # an unpinned search sees the appended doc under fresh stats
    fresh = _hits(spark, idx)
    assert "p9" in {d for d, _ in fresh}
    assert "p9" not in {d for d, _ in before}


def test_pit_stale_after_compaction(spark, idx):
    pit = open_pit(idx)
    append_batch(spark, _docs(spark, [("p9", "alpha pad pad", "eng")]),
                 idx, IndexConfig(text=RAW))
    compact_index(spark, idx, mode="full")
    with pytest.raises(ValueError, match="point-in-time is stale"):
        _hits(spark, idx, pit=pit)
    # reopening against the compacted generation works
    assert {d for d, _ in _hits(spark, idx, pit=open_pit(idx))} >= {"p1"}


def test_pit_synonyms_read_the_pinned_tombstones(spark, idx):
    # synonym pseudo postings must come from the PIT's snapshot: a delete
    # committed after open_pit is invisible to the pinned scorer, so it
    # must not mask the doc's synonym postings either
    from patapsco_spark.operators.deletes import delete_docs

    def hits(pit=None):
        res = search_texts(spark, idx, [("q", "alpha pad")],
                           RetrieveConfig(k=10), text_cfg=RAW, pit=pit,
                           synonyms={"alpha": ["beta"]})
        return [(r["doc_id"], r["score"]) for r in res.collect()]

    pit = open_pit(idx)
    before = hits(pit)
    assert "p1" in {d for d, _ in before}
    delete_docs(spark, idx, ["p1"])
    assert hits(pit) == before
    # an unpinned search sees the delete
    assert "p1" not in {d for d, _ in hits()}


def test_live_ranges_interval_arithmetic():
    assert _live_ranges({"num_shards": 4}) == [(0, 4)]
    assert _live_ranges({"shard_base": 2, "num_shards": 6}) == [(2, 6)]
    meta = {"shard_base": 0, "num_shards": 8, "dead_ranges": [[2, 4], [5, 6]]}
    assert _live_ranges(meta) == [(0, 2), (4, 5), (6, 8)]


def test_check_pit_valid_logic():
    pit = {"num_shards": 4, "shard_base": 0}
    # append: grew above — still valid
    _check_pit_valid(pit, {"num_shards": 7, "shard_base": 0})
    # full compaction: generation flipped above the pinned range
    with pytest.raises(ValueError, match="stale"):
        _check_pit_valid(pit, {"num_shards": 9, "shard_base": 7})
    # tiered compaction that killed a pinned shard range
    with pytest.raises(ValueError, match="stale"):
        _check_pit_valid(pit, {"num_shards": 6, "shard_base": 0,
                               "dead_ranges": [[3, 4]]})
    # tiered compaction above the pinned range only: valid shards, but a
    # collapsed stats floor makes the pinned stats segments unreadable
    with pytest.raises(ValueError, match="stats segments"):
        _check_pit_valid(pit, {"num_shards": 6, "shard_base": 0,
                               "stats_base": 4})
    # a PIT opened after tiered compaction stays valid while its holes
    # are preserved
    tiered = {"num_shards": 6, "shard_base": 0, "dead_ranges": [[3, 4]],
              "stats_base": 0}
    _check_pit_valid(tiered, tiered)
