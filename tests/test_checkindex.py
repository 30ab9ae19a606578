"""check_index: the distributed CheckIndex analogue — clean on healthy and
maintained indexes, loud on seeded corruption."""

import pytest

from patapsco_spark.config import IndexConfig, TextConfig
from patapsco_spark.operators.checkindex import (CorruptIndexError,
                                                 check_index)
from patapsco_spark.operators.deletes import delete_docs, update_docs
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.plans import manifest as mf
from patapsco_spark.streaming.incremental import append_batch

CFG = TextConfig(stem=None, stopwords=None, lowercase=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id string, text string, lang string")


CORPUS = [
    ("d1", "stream stream window", "eng"),
    ("d2", "stream window filter scan", "eng"),
    ("d3", "window filter scan table probe", "eng"),
    ("d4", "filter scan cache", "eng"),
]


def _build(spark, path, **kw):
    build_index(spark, _docs(spark, CORPUS), str(path),
                IndexConfig(text=CFG, num_shards=2, **kw), resume=False)
    return str(path)


def _base(index_copy, spark, path, **kw):
    """The test's own copy of the CORPUS index (built once per ``kw``)."""
    key = ("checkindex", tuple(sorted(kw.items())))
    return index_copy(key, path, lambda p: _build(spark, p, **kw))


class TestHealthy:
    def test_fresh_build_clean_including_deep(self, spark, tmp_path,
                                              index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx", positions=True)
        rep = check_index(spark, idx, deep=True, raise_on_error=True)
        assert rep["ok"]
        assert rep["postings_deep"]["ok"]
        assert rep["positions"]["ok"]

    def test_maintained_index_clean(self, spark, tmp_path, index_copy):
        """Appends + an upsert + a delete leave every invariant intact:
        live ids stay unique, tombstones resolve, stats stay frozen."""
        idx = _base(index_copy, spark, tmp_path / "idx")
        append_batch(spark, _docs(spark, [("e1", "stream probe", "eng")]),
                     idx, IndexConfig(text=CFG), epoch_id=0)
        update_docs(spark, idx,
                    _docs(spark, [("d2", "refreshed stream", "eng")]),
                    IndexConfig(text=CFG), epoch_id=1)
        delete_docs(spark, idx, ["d4"])
        rep = check_index(spark, idx, deep=True, raise_on_error=True)
        assert rep["ok"]


class TestCorruption:
    def test_tampered_global_stats_flagged(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx")
        root = mf.read_manifest(idx)
        bad = dict(root["config"])
        bad["num_docs"] = int(bad["num_docs"]) + 1
        mf.write_manifest(idx, "index", bad, metrics=root.get("metrics"))
        rep = check_index(spark, idx)
        assert not rep["ok"] and not rep["global_stats"]["ok"]
        with pytest.raises(CorruptIndexError, match="global_stats"):
            check_index(spark, idx, raise_on_error=True)

    def test_duplicate_live_id_flagged(self, spark, tmp_path, index_copy):
        """A raw append of an already-live id (bypassing update_docs) is
        exactly the corruption live_ids exists to catch."""
        idx = _base(index_copy, spark, tmp_path / "idx")
        append_batch(spark, _docs(spark, [("d1", "stray copy", "eng")]),
                     idx, IndexConfig(text=CFG), epoch_id=0)
        rep = check_index(spark, idx)
        assert not rep["live_ids"]["ok"]
        assert rep["live_ids"]["duplicates"][0][0] == "d1"

    def test_dangling_tombstone_flagged(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx")
        root = mf.read_manifest(idx)
        meta = dict(root["config"])
        batch = int(meta.get("deletes_batches", 0))
        spark.createDataFrame([(0, 999999, "ghost")],
                              "shard int, docid long, id string") \
            .write.mode("overwrite").parquet(f"{idx}/deletes/batch={batch}")
        meta["deletes_base"] = int(meta.get("deletes_base", 0))
        meta["deletes_batches"] = batch + 1
        mf.write_manifest(idx, "index", meta, metrics=root.get("metrics"))
        rep = check_index(spark, idx)
        assert not rep["tombstones"]["ok"]
        assert (0, 999999, "ghost") in rep["tombstones"]["dangling"]

    def test_missing_packed_shard_flagged(self, spark, tmp_path, index_copy):
        import shutil

        idx = _base(index_copy, spark, tmp_path / "idx")
        shutil.rmtree(f"{idx}/norms_packed/shard=1")
        rep = check_index(spark, idx)
        assert not rep["norms_packed"]["ok"]
        assert any(r[0] == 1 for r in rep["norms_packed"]["bad_shards"])

    def test_search_refuses_missing_packed_shard(self, spark, tmp_path,
                                                 index_copy):
        """A live shard with postings but no norms_packed row is corrupt:
        a plain search must refuse it, not drop the shard's hits."""
        import shutil

        from patapsco_spark.operators.retrieve import search_texts

        idx = _base(index_copy, spark, tmp_path / "idx")
        shutil.rmtree(f"{idx}/norms_packed/shard=1")
        with pytest.raises(Exception, match="no norms_packed row"):
            search_texts(spark, idx, [("q1", "filter scan")],
                         text_cfg=CFG).collect()

    def test_missing_norms_shard_flagged(self, spark, tmp_path, index_copy):
        """Review fix: a shard with a packed blob but NO norms rows must be
        flagged (null-safe full-join filter), not silently pass."""
        import shutil

        idx = _base(index_copy, spark, tmp_path / "idx")
        shutil.rmtree(f"{idx}/norms/shard=1")
        rep = check_index(spark, idx)
        assert not rep["norms_packed"]["ok"]
        assert any(r[0] == 1 for r in rep["norms_packed"]["bad_shards"])

    def test_manifest_missing_keys_reported_not_keyerror(self, spark,
                                                         tmp_path, index_copy):
        """Review fix: a manifest lacking required keys yields a report
        with manifest.ok=False (or CorruptIndexError), never a KeyError."""
        idx = _base(index_copy, spark, tmp_path / "idx")
        root = mf.read_manifest(idx)
        bad = {k: v for k, v in root["config"].items()
               if k != "docs_per_shard"}
        mf.write_manifest(idx, "index", bad, metrics=root.get("metrics"))
        rep = check_index(spark, idx)
        assert not rep["ok"] and not rep["manifest"]["ok"]
        assert rep["manifest"]["missing_keys"] == ["docs_per_shard"]
        with pytest.raises(CorruptIndexError, match="manifest"):
            check_index(spark, idx, raise_on_error=True)
