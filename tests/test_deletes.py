"""Document deletes: Lucene-semantics tombstones (operators/deletes.py) —
immediate masking with frozen statistics, physical application at
compaction, carried .liv-style tombstones for kept tiered shards."""

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.deletes import (delete_by_query, delete_docs,
                                              read_tombstones, update_docs)
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts
from patapsco_spark.plans import manifest as mf
from patapsco_spark.streaming.incremental import append_batch, compact_index

CFG = TextConfig(stem=None, stopwords=None, lowercase=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id string, text string, lang string")


# tf("stream") differs per doc and dl differs → distinct BM25 scores, so
# result comparisons are not at the mercy of docid tie-breaks
CORPUS = [
    ("d1", "stream stream stream window", "eng"),
    ("d2", "stream stream window filter scan", "eng"),
    ("d3", "stream window filter scan table probe", "eng"),
    ("d4", "window filter scan", "eng"),
    ("d5", "stream window window filter scan table probe cache", "eng"),
]


def _hits(spark, idx, query="stream window", k=10, **cfg_kw):
    mode = "boolean" if '"' in query else "plain"
    res = search_texts(spark, idx, [("q", query)],
                       RetrieveConfig(k=k, **cfg_kw), text_cfg=CFG,
                       mode=mode)
    return [(r.doc_id, round(r.score, 9)) for r in res.collect()]


def _build(spark, path, rows, **idx_kw):
    build_index(spark, _docs(spark, rows), str(path),
                IndexConfig(text=CFG, **idx_kw), resume=False)
    return str(path)


def _base(index_copy, spark, path, rows, **idx_kw):
    """The test's own copy of the index over ``rows`` (built once)."""
    key = ("deletes", tuple(rows), tuple(sorted(idx_kw.items())))
    return index_copy(key, path, lambda p: _build(spark, p, rows, **idx_kw))


class TestTombstoneMasking:
    def test_masked_and_stats_frozen(self, spark, tmp_path, index_copy):
        """A deleted doc stops matching immediately; every surviving doc
        keeps its EXACT pre-delete score (df/N/avgdl frozen at the
        manifest — Lucene's pre-merge contract)."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=2)
        before = dict(_hits(spark, idx))
        assert "d1" in before
        delete_docs(spark, idx, ["d1", "d3"])
        after = _hits(spark, idx)
        ids = [d for d, _ in after]
        assert "d1" not in ids and "d3" not in ids
        for doc, score in after:
            assert score == before[doc]  # frozen stats, identical scores

    def test_unknown_and_redelete_are_noops(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        m0 = mf.read_manifest(idx)["config"]
        m1 = delete_docs(spark, idx, ["nope"])
        assert m1.get("deletes_batches", 0) == m0.get("deletes_batches", 0)
        m2 = delete_docs(spark, idx, ["d2"])
        assert m2["deletes_batches"] == 1
        m3 = delete_docs(spark, idx, ["d2"])  # already tombstoned
        assert m3["deletes_batches"] == 1
        assert "d2" not in [d for d, _ in _hits(spark, idx)]

    def test_delete_masks_phrases(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1,
                     positions=True)
        res0 = _hits(spark, idx, '"stream window"')
        assert "d3" in dict(res0)
        delete_docs(spark, idx, ["d3"])
        assert "d3" not in dict(_hits(spark, idx, '"stream window"'))


class TestCompactionAppliesDeletes:
    def test_full_compaction_equals_rebuild_on_survivors(self, spark,
                                                         tmp_path, index_copy):
        """After a FULL compaction the index scores exactly like a fresh
        build over the surviving docs — stats, postings, norms all
        physically reflect the deletes."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=2)
        delete_docs(spark, idx, ["d1", "d4"])
        compact_index(spark, idx, mode="full")
        survivors = [r for r in CORPUS if r[0] not in ("d1", "d4")]
        ref = _build(spark, tmp_path / "ref", survivors, num_shards=1)
        assert _hits(spark, idx) == _hits(spark, ref)
        meta = mf.read_manifest(idx)["config"]
        assert meta["num_docs"] == 3
        assert meta["deletes_base"] == meta["deletes_batches"]  # window empty
        assert read_tombstones(spark, idx, meta) is None

    def test_full_compaction_with_positions(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=2,
                     positions=True)
        delete_docs(spark, idx, ["d3"])
        compact_index(spark, idx, mode="full")
        survivors = [r for r in CORPUS if r[0] != "d3"]
        ref = _build(spark, tmp_path / "ref", survivors, num_shards=1,
                     positions=True)
        assert _hits(spark, idx, '"stream window"') == \
            _hits(spark, ref, '"stream window"')

    def test_tiered_carries_kept_tombstones(self, spark, tmp_path, index_copy):
        """Tiered compaction applies tombstones only in the merged tail;
        a tombstone in a kept (full) base shard is carried forward and
        still masks — then a later FULL compaction converges to the
        rebuild-on-survivors fixpoint."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        # one full base shard (5 docs / dps 5); append an underfilled tail
        append_batch(spark, _docs(spark, [
            ("e1", "stream stream scan", "eng"),
            ("e2", "probe cache window", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=0)
        delete_docs(spark, idx, ["d2", "e1"])  # kept-shard + tail
        meta = compact_index(spark, idx, mode="tiered")
        assert meta["deletes_batches"] - meta["deletes_base"] == 1  # carried
        ids = dict(_hits(spark, idx))
        assert "d2" not in ids and "e1" not in ids
        assert "e2" in ids
        # kept shard still counts d2 in stats (carried-.liv contract)
        assert meta["num_docs"] == 6
        meta = compact_index(spark, idx, mode="full")
        assert meta["num_docs"] == 5
        assert meta["deletes_base"] == meta["deletes_batches"]
        survivors = [r for r in CORPUS if r[0] != "d2"] + [
            ("e2", "probe cache window", "eng")]
        ref = _build(spark, tmp_path / "ref", survivors, num_shards=1)
        assert _hits(spark, idx) == _hits(spark, ref)

    def test_append_after_delete_keeps_tombstones(self, spark, tmp_path,
                                                  index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        delete_docs(spark, idx, ["d1"])
        append_batch(spark, _docs(spark, [("f1", "stream table", "eng")]),
                     idx, IndexConfig(text=CFG), epoch_id=0)
        ids = dict(_hits(spark, idx))
        assert "d1" not in ids and "f1" in ids

    def test_delete_by_query_and_idempotence(self, spark, tmp_path,
                                             index_copy):
        """deleteDocuments(Query) parity: every match tombstoned, repeat
        call writes nothing (masked docs no longer match)."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=2)
        delete_by_query(spark, idx, "probe", text_cfg=CFG)  # d3, d5
        ids = dict(_hits(spark, idx))
        assert "d3" not in ids and "d5" not in ids and "d1" in ids
        m1 = mf.read_manifest(idx)["config"]
        m2 = delete_by_query(spark, idx, "probe", text_cfg=CFG)
        assert m2["deletes_batches"] == m1["deletes_batches"]

    def test_delete_by_boolean_query(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        delete_by_query(spark, idx, "+stream -filter", text_cfg=CFG,
                        mode="boolean")  # stream without filter: d1 only
        ids = dict(_hits(spark, idx))
        assert "d1" not in ids
        assert {"d2", "d3", "d4", "d5"} <= set(ids)

    def test_update_docs_upsert(self, spark, tmp_path, index_copy):
        """updateDocument parity: new version matches immediately, old
        version stops matching, unknown id is a plain add, stats count
        both copies until a full compaction converges to the rebuild."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        assert "d3" in dict(_hits(spark, idx, "probe"))
        upd = _docs(spark, [("d3", "table cache", "eng"),
                            ("u1", "stream probe", "eng")])
        meta = update_docs(spark, idx, upd, IndexConfig(text=CFG),
                           epoch_id=0)
        probe = dict(_hits(spark, idx, "probe"))
        assert "d3" not in probe and "u1" in probe
        assert "d3" in dict(_hits(spark, idx, "cache"))  # new version live
        assert meta["num_docs"] == 7  # both copies counted pre-merge
        compact_index(spark, idx, mode="full")
        updated = [r for r in CORPUS if r[0] != "d3"] + [
            ("d3", "table cache", "eng"), ("u1", "stream probe", "eng")]
        ref = _build(spark, tmp_path / "ref", updated, num_shards=1)
        assert _hits(spark, idx) == _hits(spark, ref)
        assert _hits(spark, idx, "cache") == _hits(spark, ref, "cache")

    def test_update_replay_is_exactly_once(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS, num_shards=1)
        upd = _docs(spark, [("d2", "replaced stream text", "eng")])
        update_docs(spark, idx, upd, IndexConfig(text=CFG), epoch_id=5)
        h1 = _hits(spark, idx)
        m1 = mf.read_manifest(idx)["config"]
        update_docs(spark, idx, upd, IndexConfig(text=CFG), epoch_id=5)
        assert _hits(spark, idx) == h1
        m2 = mf.read_manifest(idx)["config"]
        assert (m2["deletes_batches"], m2["num_docs"]) == \
            (m1["deletes_batches"], m1["num_docs"])

    def test_everything_deleted_in_tail(self, spark, tmp_path, index_copy):
        """Deleting every doc the compaction merges must not corrupt the
        index (empty-tail edge: off == 0)."""
        idx = _base(index_copy, spark, tmp_path / "idx", CORPUS[:2],
                    num_shards=1)
        delete_docs(spark, idx, ["d1", "d2"])
        meta = compact_index(spark, idx, mode="full")
        assert meta["num_docs"] == 0
        assert _hits(spark, idx) == []
