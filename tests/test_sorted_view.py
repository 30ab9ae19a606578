"""Blocked sorted views (operators/sortedview.py) — Lucene index
sorting's early termination as pushed block pruning.

Contracts pinned here: exactness vs a brute-force sort in both
directions, the `block < nb` predicate reaching the parquet scan,
delete-driven adaptive escalation staying exact, range filtering, the
stale-census refusal, and the missing-direction refusal.
"""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from patapsco_spark.config import IndexConfig, TextConfig
from patapsco_spark.operators.deletes import delete_docs
from patapsco_spark.operators.facets import build_value_sidecar
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.sortedview import (build_sorted_view,
                                                 sorted_topk)

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)
N = 37  # odd, spans blocks at block_size 4 and both shards


def _build_sv_index(spark, path):
    docs = [(f"d{i:03d}", f"word{i % 5} text body", "eng")
            for i in range(N)]
    df = spark.createDataFrame(docs, "id string, text string, lang string")
    build_index(spark, df, path, IndexConfig(text=RAW, num_shards=2))
    # deterministic non-monotone values, two exact ties (v = i*7 mod 61)
    vals = spark.createDataFrame(
        [(f"d{i:03d}", float((i * 7) % 61)) for i in range(N)],
        "id string, v double")
    build_value_sidecar(spark, path, vals, "v", id_col="id", value_col="v")
    build_sorted_view(spark, path, "v", ascending=False, block_size=4)


@pytest.fixture()
def sv_index(spark, tmp_path, index_copy):
    # each test owns a copy: some delete docs, add a view or edit a manifest
    return index_copy("sorted_view", tmp_path / "idx",
                      lambda p: _build_sv_index(spark, p))


def _brute(desc=True, drop=(), lo=None, hi=None):
    rows = [(f"d{i:03d}", float((i * 7) % 61)) for i in range(N)
            if f"d{i:03d}" not in drop]
    if lo is not None:
        rows = [r for r in rows if r[1] >= lo]
    if hi is not None:
        rows = [r for r in rows if r[1] <= hi]
    rows.sort(key=lambda r: (-r[1] if desc else r[1], r[0]))
    return rows


class TestSortedView:
    def test_exact_vs_brute_force_desc(self, spark, sv_index):
        got = [(r["doc_id"], r["value"]) for r in
               sorted_topk(spark, sv_index, "v", k=10).collect()]
        assert got == _brute(desc=True)[:10]

    def test_ascending_direction_is_its_own_view(self, spark, sv_index):
        with pytest.raises(ValueError, match="no asc sorted view"):
            sorted_topk(spark, sv_index, "v", k=5, ascending=True)
        build_sorted_view(spark, sv_index, "v", ascending=True,
                          block_size=4)
        got = [(r["doc_id"], r["value"]) for r in
               sorted_topk(spark, sv_index, "v", k=10,
                           ascending=True).collect()]
        assert got == _brute(desc=False)[:10]

    def test_block_pruning_reaches_the_scan(self, spark, sv_index):
        # k=3 at block_size=4 needs ONE block per shard: the result plan
        # must carry the pushed block predicate — early termination that
        # only trims output would re-read the whole view at 100 TB
        out = sorted_topk(spark, sv_index, "v", k=3)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        assert "PushedFilters" in plan
        assert "LessThan(block,1)" in plan

    def test_deletes_escalate_and_stay_exact(self, spark, sv_index):
        # tombstone the entire top block's worth of head docs: the first
        # read is starved and the adaptive loop must widen, still exact
        head = [d for d, _v in _brute(desc=True)[:9]]
        delete_docs(spark, sv_index, head)
        got = [(r["doc_id"], r["value"]) for r in
               sorted_topk(spark, sv_index, "v", k=10).collect()]
        assert got == _brute(desc=True, drop=set(head))[:10]

    def test_value_range_filter(self, spark, sv_index):
        got = [(r["doc_id"], r["value"]) for r in
               sorted_topk(spark, sv_index, "v", k=10,
                           value_range=(10.0, 40.0)).collect()]
        assert got == _brute(desc=True, lo=10.0, hi=40.0)[:10]
        assert all(10.0 <= v <= 40.0 for _d, v in got)

    def test_stale_census_refused(self, spark, sv_index):
        man_path = pathlib.Path(sv_index) / "sorted_views" / "v" / "desc" \
            / "_manifest.json"
        doc = json.loads(man_path.read_text())
        doc["config"]["num_shards"] = 99  # census no longer matches
        man_path.write_text(json.dumps(doc))
        with pytest.raises(ValueError, match="rebuild the view"):
            sorted_topk(spark, sv_index, "v", k=5)

    def test_id_join_gets_dynamic_partition_pruning(self, spark, sv_index):
        # the k-bounded hits broadcast against shard-partitioned norms
        # must trigger DPP — without it every query re-scans EVERY
        # shard's norms partition just to resolve ≤ k external ids
        out = sorted_topk(spark, sv_index, "v", k=3)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        assert "dynamicpruningexpression(shard" in plan

    def test_k_exceeding_corpus_returns_all_live(self, spark, sv_index):
        got = sorted_topk(spark, sv_index, "v", k=500).collect()
        assert len(got) == N
        ranks = [r["rank"] for r in got]
        assert ranks == list(range(N))
