"""Resume / lineage semantics — the engine analogue of patapsco's
``.complete``-gated plan pruning and part_N bookkeeping
(/root/reference/patapsco/job.py:672-685,903-908; tests/test_job.py plan
tests are the model).

Executor-loss *within* a stage is Spark's own task-retry domain (all our
kernels are deterministic, so retries are safe); what the engine must add —
and what these tests pin — is stage-level exact resume: a partially
completed run (some stage outputs present and valid, later ones missing or
stale) recomputes only what is missing.
"""

import time

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts
from patapsco_spark.plans import manifest as mf

CFG = TextConfig(stem=None, stopwords=None)


def _docs(spark, n=40):
    rows = [(f"d{i:03d}", f"alpha beta gamma{i % 7} delta", "eng")
            for i in range(n)]
    return spark.createDataFrame(rows, "id string, text string, lang string")


class TestResume:
    def test_partial_loss_rebuilds_only_missing_stages(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        docs = _docs(spark)
        build_index(spark, docs, idx, IndexConfig(text=CFG, num_shards=2),
                    resume=False)
        analyzed_manifest_before = mf.read_manifest(f"{idx}/analyzed")

        # simulate loss of the postings output after the analyzed stage
        import shutil
        shutil.rmtree(f"{idx}/postings")

        build_index(spark, docs, idx, IndexConfig(text=CFG, num_shards=2),
                    resume=True)
        # analyzed stage untouched (same manifest timestamp — not recomputed)
        analyzed_manifest_after = mf.read_manifest(f"{idx}/analyzed")
        assert analyzed_manifest_before["written_at"] == \
            analyzed_manifest_after["written_at"]
        # postings rebuilt and queries work
        assert mf.read_manifest(f"{idx}/postings") is not None
        res = search_texts(spark, idx, [("q", "alpha")],
                           RetrieveConfig(k=5), text_cfg=CFG)
        assert res.count() == 5

    def test_config_change_invalidates_stages(self, spark, tmp_path):
        idx = str(tmp_path / "idx2")
        docs = _docs(spark)
        build_index(spark, docs, idx, IndexConfig(text=CFG, num_shards=2),
                    resume=False)
        before = mf.read_manifest(f"{idx}/analyzed")["written_at"]
        # different text config → analysis must recompute even with resume
        cfg2 = IndexConfig(text=TextConfig(stem="porter", stopwords=None),
                           num_shards=2)
        build_index(spark, docs, idx, cfg2, resume=True)
        after = mf.read_manifest(f"{idx}/analyzed")["written_at"]
        assert before != after

    def test_lineage_records_cover_all_rows(self, spark, tmp_path):
        idx = str(tmp_path / "idx3")
        docs = _docs(spark, n=35)
        build_index(spark, docs, idx, IndexConfig(text=CFG, num_shards=3),
                    resume=False)
        lineage = mf.read_manifest(f"{idx}/analyzed")["lineage"]
        assert sum(r["rows"] for r in lineage) == 35
        # per-partition key ranges are disjoint and ordered
        recs = sorted(lineage, key=lambda r: r["min_key"])
        for a, b in zip(recs, recs[1:]):
            assert a["max_key"] <= b["min_key"]

    def test_deterministic_docids_across_partitionings(self, spark, tmp_path):
        """Same corpus, different input partitioning → identical docids
        (the rank-identity prerequisite)."""
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        build_index(spark, _docs(spark).repartition(2), a,
                    IndexConfig(text=CFG, num_shards=2), resume=False)
        build_index(spark, _docs(spark).repartition(7), b,
                    IndexConfig(text=CFG, num_shards=2), resume=False)
        na = {(r.id, r.docid) for r in
              spark.read.parquet(f"{a}/norms").collect()}
        nb = {(r.id, r.docid) for r in
              spark.read.parquet(f"{b}/norms").collect()}
        assert na == nb

    def test_format4_postings_read_compact_and_rebuild(self, spark, tmp_path):
        """A format-4 index (postings still carrying the two block-max
        sidecar columns) searches and compacts to the same rows, and a
        resume build rewrites its postings at format 5 without them."""
        import glob
        import json
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "idx4")
        rows = [(f"d{i:03d}", f"alpha beta gamma{i % 7} delta"
                 + " alpha" * (i % 3), "eng") for i in range(40)]
        docs = spark.createDataFrame(rows, "id string, text string, lang string")
        icfg = IndexConfig(text=CFG, num_shards=2, positions=True)
        queries = [("plain", "alpha gamma3"), ("phrase", '"beta gamma2"')]

        def hits(path):
            res = search_texts(spark, path, queries, RetrieveConfig(k=50),
                               text_cfg=CFG, mode="boolean")
            return sorted((r.query_id, r.doc_id, r.score)
                          for r in res.collect())

        build_index(spark, docs, idx, icfg, resume=False)
        want = hits(idx)
        assert {q for q, _, _ in want} == {"plain", "phrase"}

        post_files = glob.glob(f"{idx}/postings/shard=*/*.parquet")
        for f in post_files:
            t = pq.read_table(f)
            ones = pa.array([[1] * len(b) for b in
                             t.column("block_last").to_pylist()],
                            pa.list_(pa.int64()))
            pq.write_table(t.append_column("block_max_tf", ones)
                           .append_column("block_min_dlq", ones), f)
            # the rewrite invalidates Hadoop's checksum sidecar
            crc = os.path.join(os.path.dirname(f),
                               f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        for m in glob.glob(f"{idx}/**/{mf.MANIFEST}", recursive=True):
            with open(m) as fh:
                doc = json.load(fh)
            if doc.get("config", {}).get("postings_format") == 5:
                doc["config"]["postings_format"] = 4
                with open(m, "w") as fh:
                    json.dump(doc, fh)
        assert mf.read_manifest(idx)["config"]["postings_format"] == 4

        assert hits(idx) == want
        compacted = str(tmp_path / "idx4c")
        shutil.copytree(idx, compacted)
        compact_index(spark, compacted, mode="full")
        assert hits(compacted) == want

        build_index(spark, docs, idx, icfg, resume=True)
        assert mf.read_manifest(f"{idx}/postings")["config"][
            "postings_format"] == 5
        for f in glob.glob(f"{idx}/postings/shard=*/*.parquet"):
            names = pq.read_schema(f).names
            assert "block_max_tf" not in names
            assert "block_min_dlq" not in names
        assert hits(idx) == want
