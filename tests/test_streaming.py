"""Incremental index maintenance: batch append semantics + the Structured
Streaming foreachBatch sink (file source, availableNow trigger)."""

import json
import time

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_texts
from patapsco_spark.streaming.incremental import (append_batch, stream_index,
                                                  stream_upserts)

CFG = TextConfig(stem=None, stopwords=None, lowercase=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id string, text string, lang string")


def _base(index_copy, spark, path, rows, **kw):
    """The test's own copy of the index over ``rows`` (built once)."""
    key = ("streaming", tuple(rows), tuple(sorted(kw.items())))
    return index_copy(key, path, lambda p: build_index(
        spark, _docs(spark, rows), p, IndexConfig(text=CFG, **kw),
        resume=False))


class TestAppendBatch:
    def test_append_extends_results(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        build_index(spark, _docs(spark, [
            ("a1", "stream window join", "eng"),
            ("a2", "filter scan table", "eng")]), idx,
            IndexConfig(text=CFG, num_shards=1), resume=False)

        meta = append_batch(spark, _docs(spark, [
            ("b1", "stream stream window", "eng"),
            ("b2", "cache probe vector", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=0)
        assert meta["num_docs"] == 4

        res = search_texts(spark, idx, [("q", "stream")],
                           RetrieveConfig(k=10), text_cfg=CFG)
        ids = {r.doc_id for r in res.collect()}
        assert ids == {"a1", "b1"}  # old and new docs both retrievable

    def test_epoch_idempotence(self, spark, tmp_path, index_copy):
        idx = _base(index_copy, spark, tmp_path / "idx2",
                    [("a1", "x y", "eng")], num_shards=1)
        batch = _docs(spark, [("b1", "x z", "eng")])
        m1 = append_batch(spark, batch, idx, IndexConfig(text=CFG), epoch_id=7)
        m2 = append_batch(spark, batch, idx, IndexConfig(text=CFG), epoch_id=7)
        assert m1["num_docs"] == 2
        assert m2["num_docs"] == 2  # replay was a no-op

    def test_append_writes_positions_sidecar(self, spark, tmp_path):
        """Appends to a positions-enabled index must extend the sidecar, or
        phrase queries would silently miss every streamed doc forever."""
        idx = str(tmp_path / "idxp")
        build_index(spark, _docs(spark, [
            ("a1", "red fox jumps", "eng"),
            ("a2", "fox red swims", "eng")]), idx,
            IndexConfig(text=CFG, num_shards=1, positions=True), resume=False)
        append_batch(spark, _docs(spark, [
            ("b1", "the red fox returns", "eng"),
            ("b2", "red then fox apart", "eng")]), idx,
            IndexConfig(text=CFG, positions=True), epoch_id=0)
        res = search_texts(spark, idx, [("q", '"red fox"')],
                           RetrieveConfig(k=10), text_cfg=CFG, mode="boolean")
        assert {r.doc_id for r in res.collect()} == {"a1", "b1"}

    def test_old_layout_append_refused(self, spark, tmp_path, index_copy):
        """Appending to a pre-format-4 index would write partition dirs
        beside flat parquet and corrupt later reads — must refuse."""
        from patapsco_spark.plans import manifest as mf
        idx = _base(index_copy, spark, tmp_path / "idxold",
                    [("a1", "x y", "eng")], num_shards=1)
        man = mf.read_manifest(idx)
        doc = dict(man["config"], postings_format=3)
        mf.write_manifest(idx, "index", doc)
        with pytest.raises(ValueError, match="postings_format"):
            append_batch(spark, _docs(spark, [("b1", "z", "eng")]), idx,
                         IndexConfig(text=CFG), epoch_id=0)

    def test_uncommitted_term_stats_delta_ignored(self, spark, tmp_path):
        """A crashed append leaves a seg=K term-stats delta with NO manifest
        commit; readers must not let it inflate df/cf (snapshot isolation —
        the same guarantee the shard filters give postings/norms)."""
        import pandas as pd
        idx = str(tmp_path / "idxcrash")
        build_index(spark, _docs(spark, [
            ("a1", "stream window", "eng"), ("a2", "stream scan", "eng")]),
            idx, IndexConfig(text=CFG, num_shards=1), resume=False)
        before = search_texts(spark, idx, [("q", "stream")],
                              RetrieveConfig(k=10), text_cfg=CFG).collect()
        # simulate the crash window: an uncommitted seg=1 delta on disk
        # (manifest still says num_shards=1)
        seg_dir = f"{idx}/term_stats/seg=1"
        import os
        os.makedirs(seg_dir, exist_ok=True)
        pd.DataFrame({"term": ["stream"], "df": [1000], "cf": [5000]}
                     ).to_parquet(f"{seg_dir}/part-0.parquet", index=False)
        after = search_texts(spark, idx, [("q", "stream")],
                             RetrieveConfig(k=10), text_cfg=CFG).collect()
        assert [(r.doc_id, r.score) for r in before] == \
               [(r.doc_id, r.score) for r in after]

    def test_orphan_shards_above_range_not_folded_into_delta(
            self, spark, tmp_path, index_copy):
        """A LARGER append that crashes pre-manifest leaves orphan postings
        shards ABOVE a later smaller append's range; the smaller append's
        committed seg delta must not sweep them in (regression: the delta
        scan had only a lower shard bound, so the orphan's df/cf poisoned
        the committed stats and skewed idf for every query)."""
        import shutil
        idx = _base(index_copy, spark, tmp_path / "idx5", [
            ("a1", "alpha beta", "eng"), ("a2", "beta gamma", "eng")],
            num_shards=1)
        pre = tmp_path / "manifest_pre5.json"
        shutil.copy(f"{idx}/_manifest.json", pre)
        # crashed larger run: 3 docs at docs_per_shard=2 -> shards 1 AND 2
        append_batch(spark, _docs(spark, [
            ("b1", "alpha one", "eng"), ("b2", "alpha two", "eng"),
            ("b3", "orphanterm only", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=1)
        shutil.copy(pre, f"{idx}/_manifest.json")  # crash: no commit
        # smaller committed append: 1 doc -> shard 1 only; orphan shard 2
        # (carrying 'orphanterm') is still on disk above the range
        meta = append_batch(spark, _docs(spark, [
            ("c1", "alpha delta", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=2)
        assert meta["num_docs"] == 3
        from patapsco_spark.operators.indexer import read_term_stats
        stats = {r.term: r.df for r in read_term_stats(spark, idx).collect()}
        assert "orphanterm" not in stats
        assert stats["alpha"] == 2  # a1 + c1, NOT the crashed b1/b2

    def test_docids_do_not_collide(self, spark, tmp_path):
        idx = str(tmp_path / "idx3")
        build_index(spark, _docs(spark, [("a1", "x", "eng"), ("a2", "y", "eng")]),
                    idx, IndexConfig(text=CFG, num_shards=1), resume=False)
        append_batch(spark, _docs(spark, [("b1", "z", "eng")]), idx,
                     IndexConfig(text=CFG), epoch_id=0)
        norms = spark.read.parquet(f"{idx}/norms")
        docids = [r.docid for r in norms.select("docid").collect()]
        assert len(docids) == len(set(docids)) == 3


    def test_partial_failure_replay_no_duplicates(self, spark, tmp_path,
                                                  index_copy):
        """Exactly-once under partial failure: simulate a crash AFTER the
        table appends but BEFORE the manifest commit by reverting the
        manifest to its pre-append state, then replaying the same epoch.
        The replay must overwrite the orphaned shard/seg partitions, not
        append next to them."""
        import shutil
        idx = _base(index_copy, spark, tmp_path / "idx4", [
            ("a1", "alpha beta", "eng"), ("a2", "beta gamma", "eng")],
            num_shards=1)
        pre = tmp_path / "manifest_pre.json"
        shutil.copy(f"{idx}/_manifest.json", pre)

        batch = _docs(spark, [("b1", "alpha delta", "eng"),
                              ("b2", "delta beta", "eng")])
        append_batch(spark, batch, idx, IndexConfig(text=CFG), epoch_id=3)
        # crash simulation: all four table writes landed, manifest didn't
        shutil.copy(pre, f"{idx}/_manifest.json")
        meta = append_batch(spark, batch, idx, IndexConfig(text=CFG), epoch_id=3)
        assert meta["num_docs"] == 4

        norms = spark.read.parquet(f"{idx}/norms")
        assert norms.count() == 4  # no duplicate norm rows
        packed = spark.read.parquet(f"{idx}/norms_packed")
        shards = [r.shard for r in packed.select("shard").collect()]
        assert len(shards) == len(set(shards))  # one blob per shard
        posts = spark.read.parquet(f"{idx}/postings")
        keys = [(r.shard, r.term) for r in posts.select("shard", "term").collect()]
        assert len(keys) == len(set(keys))  # no duplicate (shard, term) rows

        from patapsco_spark.operators.indexer import read_term_stats
        stats = {r.term: r.df for r in read_term_stats(spark, idx).collect()}
        assert stats["beta"] == 3 and stats["delta"] == 2

        res = search_texts(spark, idx, [("q", "delta")],
                           RetrieveConfig(k=10), text_cfg=CFG)
        assert {r.doc_id for r in res.collect()} == {"b1", "b2"}

    def test_append_plan_has_no_global_window(self, spark, tmp_path):
        """Docid assignment in appends must be distributed (per-file offsets
        + row_number within file), never a single-partition global window:
        a multi-partition batch append's norms must stay id-ordered by
        docid AND the batch must have been written from >1 task."""
        idx = str(tmp_path / "idx5")
        build_index(spark, _docs(spark, [("a0", "seed doc", "eng")]), idx,
                    IndexConfig(text=CFG, num_shards=1), resume=False)
        rows = [(f"b{i:03d}", f"word{i} common", "eng") for i in range(64)]
        batch = _docs(spark, rows).repartition(8)
        append_batch(spark, batch, idx, IndexConfig(text=CFG), epoch_id=1)

        norms = (spark.read.parquet(f"{idx}/norms")
                 .where("docid >= 1").orderBy("docid").collect())
        ids = [r.id for r in norms]
        assert ids == sorted(ids)  # docids assigned in external-id order
        docids = [r.docid for r in norms]
        assert docids == list(range(docids[0], docids[0] + 64))  # dense

        # physical-plan check: the docid window must be PARTITIONED (by
        # staged file), never a global (empty partition spec) sort
        from patapsco_spark.operators.indexer import _assign_docids
        analyzed_like = batch.selectExpr("id", "text")
        plan_df = _assign_docids(analyzed_like, {"f": 0}, 10)
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line and "row_number" in line:
                assert "[file" in line, f"unpartitioned window: {line}"


class TestStreamIndex:
    def test_file_stream_ingestion(self, spark, tmp_path):
        src = tmp_path / "feed"
        src.mkdir()
        idx = str(tmp_path / "sidx")
        build_index(spark, _docs(spark, [("seed", "stream window", "eng")]),
                    idx, IndexConfig(text=CFG, num_shards=1), resume=False)

        for i, text in enumerate(["stream table scan", "window cache probe"]):
            with open(src / f"batch{i}.jsonl", "w") as f:
                f.write(json.dumps({"id": f"s{i}", "text": text, "lang": "eng"}) + "\n")

        stream = (spark.readStream
                  .schema("id string, text string, lang string")
                  .json(str(src)))
        q = stream_index(spark, stream, idx, checkpoint=str(tmp_path / "ckpt"),
                         cfg=IndexConfig(text=CFG))
        q.awaitTermination(120)

        res = search_texts(spark, idx, [("q", "stream")],
                           RetrieveConfig(k=10), text_cfg=CFG)
        ids = {r.doc_id for r in res.collect()}
        assert ids == {"seed", "s0"}


class TestStreamUpserts:
    def test_recrawl_replaces_previous_version(self, spark, tmp_path):
        """CDC re-crawl: a page seen again stops matching its old text and
        matches its new text; a fresh page is a plain add."""
        src = tmp_path / "feed"
        src.mkdir()
        idx = str(tmp_path / "uidx")
        build_index(spark, _docs(spark, [
            ("p0", "stream window legacy", "eng"),
            ("p1", "filter scan", "eng")]), idx,
            IndexConfig(text=CFG, num_shards=1), resume=False)

        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"id": "p0", "text": "stream refreshed copy",
                                "lang": "eng"}) + "\n")
            f.write(json.dumps({"id": "p2", "text": "legacy window probe",
                                "lang": "eng"}) + "\n")
        stream = (spark.readStream
                  .schema("id string, text string, lang string")
                  .json(str(src)))
        q = stream_upserts(spark, stream, idx,
                           checkpoint=str(tmp_path / "uckpt"),
                           cfg=IndexConfig(text=CFG))
        q.awaitTermination(120)

        def ids(query):
            res = search_texts(spark, idx, [("q", query)],
                               RetrieveConfig(k=10), text_cfg=CFG)
            return {r.doc_id for r in res.collect()}

        assert ids("legacy") == {"p2"}          # old p0 version gone
        assert ids("refreshed") == {"p0"}       # new p0 version live
        assert ids("stream") == {"p0"}
        assert ids("filter") == {"p1"}          # untouched doc intact

    def test_ts_col_collapses_in_batch_revisions(self, spark, tmp_path):
        """Two revisions of one id in a single micro-batch: ts_col keeps
        only the newest; without ts_col the batch is refused loudly."""
        idx = str(tmp_path / "uidx")
        build_index(spark, _docs(spark, [("seed", "stream", "eng")]),
                    idx, IndexConfig(text=CFG, num_shards=1), resume=False)
        rows = [("r0", "first crawl text", "eng", 1),
                ("r0", "second crawl text", "eng", 2)]

        src = tmp_path / "feed2"
        src.mkdir()
        with open(src / "b0.jsonl", "w") as f:
            for rid, text, lang, ts in rows:
                f.write(json.dumps({"id": rid, "text": text, "lang": lang,
                                    "ts": ts}) + "\n")
        stream = (spark.readStream
                  .schema("id string, text string, lang string, ts long")
                  .json(str(src)))
        q = stream_upserts(spark, stream, idx,
                           checkpoint=str(tmp_path / "ckpt2"),
                           cfg=IndexConfig(text=CFG), ts_col="ts")
        q.awaitTermination(120)
        res = search_texts(spark, idx, [("q", "crawl")],
                           RetrieveConfig(k=10), text_cfg=CFG)
        assert {r.doc_id for r in res.collect()} == {"r0"}
        res2 = search_texts(spark, idx, [("q", "second")],
                            RetrieveConfig(k=10), text_cfg=CFG)
        assert {r.doc_id for r in res2.collect()} == {"r0"}
        res3 = search_texts(spark, idx, [("q", "first")],
                            RetrieveConfig(k=10), text_cfg=CFG)
        assert {r.doc_id for r in res3.collect()} == set()

        # without ts_col the duplicate batch must fail loudly, not index
        # two live copies
        src2 = tmp_path / "feed3"
        src2.mkdir()
        with open(src2 / "b0.jsonl", "w") as f:
            for rid, text, lang, _ in rows:
                f.write(json.dumps({"id": rid, "text": text,
                                    "lang": lang}) + "\n")
        stream2 = (spark.readStream
                   .schema("id string, text string, lang string")
                   .json(str(src2)))
        q2 = stream_upserts(spark, stream2, idx,
                            checkpoint=str(tmp_path / "ckpt3"),
                            cfg=IndexConfig(text=CFG))
        with pytest.raises(Exception, match="multiple rows"):
            q2.awaitTermination(120)
            q2.processAllAvailable()


class TestMergePolicy:
    def test_triggers_noop_tiered_full_in_order(self, spark, tmp_path):
        """maybe_compact: healthy index no-ops; append padding trips the
        tiered trigger exactly at the fragmentation bound; pending
        tombstones trip the full trigger; results identical throughout."""
        from patapsco_spark.operators.deletes import delete_docs
        from patapsco_spark.streaming.incremental import maybe_compact

        idx = str(tmp_path / "midx")
        build_index(spark, _docs(spark, [
            ("a1", "stream window", "eng"), ("a2", "filter scan", "eng"),
            ("a3", "stream table", "eng"), ("a4", "window probe", "eng")]),
            idx, IndexConfig(text=CFG, num_shards=2), resume=False)

        def hits():
            res = search_texts(spark, idx, [("q", "stream window")],
                               RetrieveConfig(k=20), text_cfg=CFG)
            return [(r.doc_id, round(r.score, 12)) for r in res.collect()]

        # fresh dense build: no fragmentation, no tombstones → no-op
        mode, _ = maybe_compact(spark, idx, max_frag_shards=2)
        assert mode is None

        # four 1-doc appends: each strands one underfilled shard (dps=2 →
        # 4 extra docs pack into 2 shards; 4 stranded − 2 minimal = frag 2)
        for e in range(4):
            append_batch(spark, _docs(
                spark, [(f"b{e}", f"stream extra{e}", "eng")]), idx,
                IndexConfig(text=CFG), epoch_id=e)
        before = hits()
        mode, meta = maybe_compact(spark, idx, max_frag_shards=3)
        assert mode is None  # frag 2 < 3: policy holds
        mode, meta = maybe_compact(spark, idx, max_frag_shards=2)
        assert mode == "tiered"
        assert hits() == before
        mode, _ = maybe_compact(spark, idx, max_frag_shards=2)
        assert mode is None  # compacted: fragmentation cleared

        # tombstone 2 of 8 docs = 25% ≥ 20% → full. The doc SET is
        # preserved (scores legitimately change: full compaction rebuilds
        # the statistics over the survivors — pinned in test_deletes)
        delete_docs(spark, idx, ["a2", "b0"])
        live_ids = {d for d, _ in hits()}
        mode, meta = maybe_compact(spark, idx, max_tombstone_frac=0.2)
        assert mode == "full"
        assert meta["num_docs"] == 6
        assert {d for d, _ in hits()} == live_ids
        mode, _ = maybe_compact(spark, idx, max_tombstone_frac=0.2)
        assert mode is None

    def test_policy_collapses_more_than_half_full_strays(self, spark,
                                                         tmp_path):
        """Review fix: stranded shards filled ABOVE 50% (3 of 4 docs) must
        still be collapsed by the policy — its default tiered cut is
        'any non-full shard', matching the fragmentation arithmetic — and
        the reported mode reflects an actual change."""
        from patapsco_spark.operators.indexer import build_index as bi
        from patapsco_spark.streaming.incremental import maybe_compact

        idx = str(tmp_path / "m2")
        rows = [(f"a{i}", f"stream word{i}", "eng") for i in range(4)]
        bi(spark, _docs(spark, rows), idx,
           IndexConfig(text=CFG, num_shards=1), resume=False)  # dps=4
        for e in range(4):  # 3-doc appends: each shard 3/4 full
            append_batch(spark, _docs(spark, [
                (f"b{e}_{j}", f"stream extra{e} tok{j}", "eng")
                for j in range(3)]), idx, IndexConfig(text=CFG), epoch_id=e)
        # 16 docs over 5 live shards, minimal is 4 → frag 1
        mode, meta = maybe_compact(spark, idx, max_frag_shards=1)
        assert mode == "tiered"
        assert meta["num_shards"] != 5 or meta.get("dead_ranges")
        mode, _ = maybe_compact(spark, idx, max_frag_shards=1)
        assert mode is None  # packed now; and never a reported no-op


class TestCompaction:
    """compact_index (round-3 verdict #3): N appends → compact → identical
    retrieval results; shard dirs and stats segments collapse; appends keep
    working on the compacted generation."""

    def _build_with_appends(self, spark, idx, index_copy, n_appends=4,
                            positions=False):
        kw = dict(text=CFG, num_shards=2, positions=positions)

        def append(path, e):
            append_batch(spark, _docs(spark, [
                (f"b{e}_1", f"stream epoch{e} window red", "eng"),
                (f"b{e}_2", f"vector epoch{e} fox probe", "eng")]), path,
                IndexConfig(**kw), epoch_id=e)

        def build(path, n):
            build_index(spark, _docs(spark, [
                ("a1", "stream window join red fox", "eng"),
                ("a2", "filter scan table stream", "eng"),
                ("a3", "red fox runs fast", "eng")]), path,
                IndexConfig(**kw), resume=False)
            for e in range(n):
                append(path, e)

        # the build and the first two appends are shared; the rest run here
        shared = min(n_appends, 2)
        index_copy(("compaction", positions, shared), idx,
                   lambda p: build(p, shared))
        for e in range(shared, n_appends):
            append(idx, e)

    @staticmethod
    def _results(spark, idx, queries):
        res = search_texts(spark, idx, queries, RetrieveConfig(k=50),
                           text_cfg=CFG)
        return sorted((r.query_id, r.doc_id, r["rank"], round(r.score, 12))
                      for r in res.collect())

    def test_compact_preserves_results_and_bounds_layout(self, spark, tmp_path,
                                                         index_copy):
        import os
        from patapsco_spark.plans import manifest as mf
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "cidx")
        self._build_with_appends(spark, idx, index_copy, n_appends=4)
        queries = [("q1", "stream red"), ("q2", "fox"), ("q3", "epoch2"),
                   ("q4", "vector probe window")]
        before = self._results(spark, idx, queries)
        pre = mf.read_manifest(idx)["config"]
        pre_shards = {d for d in os.listdir(f"{idx}/postings")
                      if d.startswith("shard=")}
        pre_segs = {d for d in os.listdir(f"{idx}/term_stats")
                    if d.startswith("seg=")}
        assert len(pre_segs) == 5  # base + 4 append deltas

        meta = compact_index(spark, idx)
        after = self._results(spark, idx, queries)
        assert after == before and len(before) > 0

        # layout is bounded: dense shards, ONE stats segment, old gen gone
        dps = int(meta["docs_per_shard"])
        live = meta["num_shards"] - meta["shard_base"]
        assert live == -(-meta["num_docs"] // dps)
        segs = {d for d in os.listdir(f"{idx}/term_stats")
                if d.startswith("seg=")}
        assert segs == {f"seg={meta['shard_base']}"}
        shards = {d for d in os.listdir(f"{idx}/postings")
                  if d.startswith("shard=")}
        assert len(shards) == live
        assert shards.isdisjoint(pre_shards)
        assert meta["num_docs"] == pre["num_docs"]
        assert meta["total_tf"] == pre["total_tf"]
        assert meta["avgdl"] == pre["avgdl"]

    def test_compact_positions_index_keeps_phrases(self, spark, tmp_path,
                                                   index_copy):
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "cidxp")
        self._build_with_appends(spark, idx, index_copy, n_appends=3,
                                 positions=True)
        q = [("q", '"red fox"')]
        before = sorted((r.doc_id, round(r.score, 12)) for r in search_texts(
            spark, idx, q, RetrieveConfig(k=50), text_cfg=CFG,
            mode="boolean").collect())
        compact_index(spark, idx)
        after = sorted((r.doc_id, round(r.score, 12)) for r in search_texts(
            spark, idx, q, RetrieveConfig(k=50), text_cfg=CFG,
            mode="boolean").collect())
        assert after == before and len(before) >= 2

    def test_append_after_compact_and_recompact(self, spark, tmp_path,
                                                index_copy):
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "cidx2")
        self._build_with_appends(spark, idx, index_copy, n_appends=2)
        compact_index(spark, idx)
        meta = append_batch(spark, _docs(spark, [
            ("c1", "stream after compact", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=100)
        assert meta["num_docs"] == 8
        res = search_texts(spark, idx, [("q", "stream")],
                           RetrieveConfig(k=50), text_cfg=CFG)
        ids = {r.doc_id for r in res.collect()}
        assert {"a1", "a2", "c1", "b0_1", "b1_1"} <= ids
        # a second compaction folds the post-compact append in too
        meta2 = compact_index(spark, idx)
        assert meta2["compactions"] == 2
        res2 = search_texts(spark, idx, [("q", "stream")],
                            RetrieveConfig(k=50), text_cfg=CFG)
        assert {r.doc_id for r in res2.collect()} == ids


class TestTieredCompaction:
    """Round-5 verdict #7: tiered compaction merges only the underfilled
    appended tail into dense shards, leaving full base shards byte-untouched
    — at 100 TB the base dominates and a full rewrite per compaction is
    prohibitive. Pinned here: retrieval identity, base-shard files untouched
    (path+mtime+size), bounded shard count, collapsed stats segment, appends
    and full compaction still working afterwards."""

    QUERIES = [("q1", "stream red"), ("q2", "fox"), ("q3", "tail1"),
               ("q4", "base word probe")]

    def _build(self, spark, idx, index_copy, n_appends=4):
        # base: 4 docs / 2 full shards (dps=2); appends: 1 doc each → each
        # burns a whole shard range at 50% fill — the tiered target
        def append(path, e):
            append_batch(spark, _docs(spark, [
                (f"t{e}", f"stream tail{e} red probe", "eng")]), path,
                IndexConfig(text=CFG), epoch_id=e)

        def build(path, n):
            build_index(spark, _docs(spark, [
                ("a1", "stream window red fox", "eng"),
                ("a2", "filter scan base word", "eng"),
                ("a3", "red fox runs fast", "eng"),
                ("a4", "probe vector base stream", "eng")]), path,
                IndexConfig(text=CFG, num_shards=2), resume=False)
            for e in range(n):
                append(path, e)

        # the build and the first three appends are shared; the rest run here
        shared = min(n_appends, 3)
        index_copy(("tiered", shared), idx, lambda p: build(p, shared))
        for e in range(shared, n_appends):
            append(idx, e)

    @staticmethod
    def _snapshot_files(root):
        import os
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    @staticmethod
    def _results(spark, idx, queries):
        res = search_texts(spark, idx, queries, RetrieveConfig(k=50),
                           text_cfg=CFG)
        return sorted((r.query_id, r.doc_id, r["rank"], round(r.score, 12))
                      for r in res.collect())

    def test_tiered_keeps_base_untouched_and_results_identical(
            self, spark, tmp_path, index_copy):
        import os
        from patapsco_spark.plans import manifest as mf
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "tidx")
        self._build(spark, idx, index_copy, n_appends=4)
        before = self._results(spark, idx, self.QUERIES)
        pre = mf.read_manifest(idx)["config"]
        dps = int(pre["docs_per_shard"])
        base_files = {}
        for table in ("postings", "norms", "norms_packed"):
            for s in (0, 1):
                base_files.update(self._snapshot_files(f"{idx}/{table}/shard={s}"))
        assert base_files

        meta = compact_index(spark, idx, mode="tiered", fill_threshold=0.5)
        after = self._results(spark, idx, self.QUERIES)
        assert after == before and len(before) > 0

        # full base shards byte-untouched
        post_files = {}
        for table in ("postings", "norms", "norms_packed"):
            for s in (0, 1):
                post_files.update(self._snapshot_files(f"{idx}/{table}/shard={s}"))
        assert post_files == base_files

        # tail merged dense: 4 one-doc shards → ceil(4/2)=2 new shards;
        # live = 2 kept + 2 new, with the dead range recorded
        assert meta["shard_base"] == 0
        assert meta["dead_ranges"] == [[2, 6]]
        live_shards = {int(d.split("=")[1])
                       for d in os.listdir(f"{idx}/postings")
                       if d.startswith("shard=")}
        assert live_shards == {0, 1, 6, 7}
        assert meta["num_docs"] == 8
        assert meta["num_shards"] == 8

        # stats collapsed to one segment at the new baseline
        segs = {d for d in os.listdir(f"{idx}/term_stats")
                if d.startswith("seg=")}
        assert segs == {f"seg={meta['stats_base']}"}
        assert meta["stats_base"] == 6

    def test_tiered_noop_when_all_filled(self, spark, tmp_path, index_copy):
        from patapsco_spark.plans import manifest as mf
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "tidx2")
        self._build(spark, idx, index_copy, n_appends=0)
        pre = mf.read_manifest(idx)["config"]
        meta = compact_index(spark, idx, mode="tiered", fill_threshold=0.5)
        assert meta == pre  # every shard full — nothing rewritten

    def test_append_and_full_compact_after_tiered(self, spark, tmp_path,
                                                  index_copy):
        from patapsco_spark.streaming.incremental import compact_index

        idx = str(tmp_path / "tidx3")
        self._build(spark, idx, index_copy, n_appends=3)
        compact_index(spark, idx, mode="tiered", fill_threshold=0.5)
        meta = append_batch(spark, _docs(spark, [
            ("z1", "stream after tiered", "eng"),
            ("z2", "red fox again", "eng")]), idx,
            IndexConfig(text=CFG), epoch_id=50)
        res = search_texts(spark, idx, [("q", "stream")],
                           RetrieveConfig(k=50), text_cfg=CFG)
        got = {r.doc_id for r in res.collect()}
        assert "z1" in got and "a1" in got and "t0" in got

        before = self._results(spark, idx, self.QUERIES)
        meta2 = compact_index(spark, idx)  # full compact resets the holes
        assert meta2["dead_ranges"] == [] and \
            meta2["shard_base"] == meta2["stats_base"]
        assert self._results(spark, idx, self.QUERIES) == before

    def test_decode_kernel_refuses_missing_norms_blob(self):
        # ADVICE r4: postings without a norms_packed row is index
        # corruption — the kernel must refuse loudly, not silently drop
        # the shard from the compacted index
        import pandas as pd
        import pytest
        from patapsco_spark.streaming.incremental import \
            _make_decode_remap_kernel

        kernel = _make_decode_remap_kernel(2, {3: (6, 12)})
        posts = pd.DataFrame({"term": ["x"], "postings": [b""],
                              "block_off": [[]], "block_gap_len": [[]],
                              "block_last": [[]]})
        packed = pd.DataFrame({"codes": pd.Series(dtype=object)})
        with pytest.raises(ValueError, match="corrupt"):
            kernel((3,), posts, packed)
        # the converse (norms row, no postings) stays a silent empty: a
        # shard whose docs contain only stop-worded/empty text is legal
        assert kernel((3,), posts.iloc[0:0], packed).empty
