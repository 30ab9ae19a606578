"""Snapshot/restore (plans/snapshots.py) — incremental repository
semantics over the engine's immutable-committed-files contract.

Pinned: a second snapshot after a mutation copies ONLY new files; a
restored index serves byte-identical results for its point in time
(both the pre- and post-mutation views); restore refuses live
directories; gc removes exactly the unreferenced pool files.
"""

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.deletes import delete_docs
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts
from patapsco_spark.plans import snapshots as snap

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)


def _hits(spark, idx, q):
    res = search_texts(spark, idx, [("q", q)], RetrieveConfig(k=10),
                       text_cfg=RAW)
    return sorted((r["doc_id"], r["rank"]) for r in res.collect())


def _build(spark, idx):
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta doc{i} body", "eng") for i in range(6)],
        "id string, text string, lang string")
    build_index(spark, docs, idx, IndexConfig(text=RAW, num_shards=2))


@pytest.fixture()
def repo(spark, tmp_path, index_copy):
    idx = index_copy("snapshots", tmp_path / "idx",
                     lambda p: _build(spark, p))
    return idx, str(tmp_path / "repo")


class TestSnapshots:
    def test_incremental_and_point_in_time_restore(self, spark, repo,
                                                   tmp_path):
        idx, rp = repo
        before = _hits(spark, idx, "alpha")
        s1 = snap.snapshot(idx, rp, "s1")
        assert s1["copied"] == s1["files"] > 0

        # mutate: tombstone a doc (adds a deletes batch, new files only)
        delete_docs(spark, idx, ["d2"])
        after = _hits(spark, idx, "alpha")
        assert after != before
        s2 = snap.snapshot(idx, rp, "s2")
        # the base index files were pooled by s1: only the delta copies
        assert s2["files"] > s1["files"] - 2
        assert 0 < s2["copied"] < s2["files"]

        r2 = str(tmp_path / "r2")
        snap.restore(rp, "s2", r2)
        assert _hits(spark, r2, "alpha") == after
        r1 = str(tmp_path / "r1")
        snap.restore(rp, "s1", r1)
        assert _hits(spark, r1, "alpha") == before

    def test_refusals(self, spark, repo, tmp_path):
        idx, rp = repo
        snap.snapshot(idx, rp, "s1")
        with pytest.raises(ValueError, match="already exists"):
            snap.snapshot(idx, rp, "s1")
        with pytest.raises(KeyError, match="unknown snapshot"):
            snap.restore(rp, "ghost", str(tmp_path / "x"))
        with pytest.raises(ValueError, match="not empty"):
            snap.restore(rp, "s1", idx)
        with pytest.raises(ValueError, match="nothing to snapshot"):
            snap.snapshot(str(tmp_path / "void"), rp, "s0")

    def test_gc_keeps_shared_files(self, spark, repo):
        from patapsco_spark.plans import fsio
        idx, rp = repo
        snap.snapshot(idx, rp, "s1")
        pool_after_s1 = len(fsio.list_files(f"{rp}/files"))
        delete_docs(spark, idx, ["d1"])
        snap.snapshot(idx, rp, "s2")
        pool_after_s2 = len(fsio.list_files(f"{rp}/files"))
        assert pool_after_s2 > pool_after_s1  # s2 pooled a real delta
        out = snap.delete_snapshot(rp, "s2", gc=True)
        # gc removes exactly s2's unshared pooled delta, never s1's files
        assert out["gc_removed"] == pool_after_s2 - pool_after_s1
        assert snap.list_snapshots(rp) == ["s1"]
        assert len(fsio.list_files(f"{rp}/files")) == pool_after_s1
        assert not fsio.exists(f"{rp}/meta/s2")
