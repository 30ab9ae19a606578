"""Resharding (streaming/incremental.py:reshard_index — the ES
shrink/split analogue): retrieval results identical across a shard-size
change in BOTH directions, layout matches the new geometry, appends keep
working afterwards, positions survive, and tiered mode refuses a size
change."""

import os

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts
from patapsco_spark.plans import manifest as mf
from patapsco_spark.streaming.incremental import (append_batch,
                                                  compact_index,
                                                  reshard_index)

CFG = TextConfig(stem=None, stopwords=None, lowercase=True)

ROWS = [(f"d{i}", f"stream word{i % 5} red fox window filter", "eng")
        for i in range(12)]
QUERIES = [("q1", "stream red"), ("q2", "word3 fox"), ("q3", "filter")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id string, text string, lang string")


def _results(spark, idx):
    res = search_texts(spark, idx, QUERIES, RetrieveConfig(k=50),
                       text_cfg=CFG)
    return sorted((r.query_id, r.doc_id, r["rank"], round(r.score, 12))
                  for r in res.collect())


def _base(index_copy, spark, path, **kw):
    """The test's own copy of the ROWS index (built once per ``kw``)."""
    return index_copy(("reshard",) + tuple(sorted(kw.items())), path,
                      lambda p: build_index(
                          spark, _docs(spark, ROWS), p,
                          IndexConfig(text=CFG, num_shards=4, **kw),
                          resume=False))


def _live_shards(idx, meta):
    shards = {int(d.split("=")[1]) for d in os.listdir(f"{idx}/postings")
              if d.startswith("shard=")}
    return {s for s in shards
            if meta["shard_base"] <= s < meta["num_shards"]}


@pytest.mark.parametrize("new_dps", [2, 7])  # shrink=bigger, split=smaller
def test_reshard_preserves_results(spark, tmp_path, index_copy, new_dps):
    idx = _base(index_copy, spark, tmp_path / f"rs{new_dps}")
    before = _results(spark, idx)
    old = mf.read_manifest(idx)["config"]
    assert int(old["docs_per_shard"]) == 3  # 12 docs / 4 shards

    meta = reshard_index(spark, idx, docs_per_shard=new_dps)
    assert int(meta["docs_per_shard"]) == new_dps
    after = _results(spark, idx)
    assert after == before and len(before) > 0
    live = _live_shards(idx, meta)
    assert len(live) == -(-meta["num_docs"] // new_dps)
    # new generation never collided with old partition dirs pre-commit
    assert meta["shard_base"] >= old["num_shards"]


def test_append_after_reshard(spark, tmp_path, index_copy):
    idx = _base(index_copy, spark, tmp_path / "rsapp")
    reshard_index(spark, idx, docs_per_shard=5)
    append_batch(spark, _docs(spark, [
        ("z1", "stream appended red", "eng")]), idx,
        IndexConfig(text=CFG), epoch_id=0)
    res = search_texts(spark, idx, [("q", "appended")],
                       RetrieveConfig(k=10), text_cfg=CFG)
    assert [r.doc_id for r in res.collect()] == ["z1"]


def test_reshard_positions_index_keeps_phrases(spark, tmp_path, index_copy):
    idx = _base(index_copy, spark, tmp_path / "rspos", positions=True)
    q = [("q", '"red fox"')]
    before = sorted((r.doc_id, round(r.score, 12)) for r in search_texts(
        spark, idx, q, RetrieveConfig(k=50), text_cfg=CFG,
        mode="boolean").collect())
    reshard_index(spark, idx, docs_per_shard=5)
    after = sorted((r.doc_id, round(r.score, 12)) for r in search_texts(
        spark, idx, q, RetrieveConfig(k=50), text_cfg=CFG,
        mode="boolean").collect())
    assert after == before and len(before) == len(ROWS)


def test_tiered_refuses_size_change(spark, tmp_path, index_copy):
    idx = _base(index_copy, spark, tmp_path / "rstier")
    with pytest.raises(ValueError, match="resharding requires mode='full'"):
        compact_index(spark, idx, mode="tiered", docs_per_shard=5)
    with pytest.raises(ValueError, match="docs_per_shard"):
        compact_index(spark, idx, docs_per_shard=0)
