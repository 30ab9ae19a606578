"""Queries-as-DataFrame batch retrieval (search_query_frame): the scale path
that removes the driver-resident all-topics plan list (the reference holds
every topic in memory; at 10^6 topics that is the first driver bottleneck).
Only one hash chunk's texts/plans/term-stats are driver-resident at a time;
per-chunk parquet dirs make the batch crash-resumable; results are identical
to the list path."""

import os

import pytest
from pyspark.sql import functions as F

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.indexer import build_index
from patapsco_spark.operators.retrieve import search_query_frame, search_texts

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)

N_QUERIES = 100_000


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qframe") / "idx")
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta term{i % 7} gamma delta{i % 3}", "eng")
         for i in range(60)],
        "id string, text string, lang string")
    build_index(spark, docs, path, IndexConfig(text=RAW, num_shards=2))
    return path


@pytest.fixture(scope="module")
def queries_df(spark):
    # deterministic synthetic topics: 1-2 term plain queries over the vocab
    return spark.range(N_QUERIES).select(
        F.concat(F.lit("q"), F.col("id")).alias("query_id"),
        F.concat(F.lit("term"), F.pmod("id", F.lit(7)),
                 F.when(F.pmod("id", F.lit(3)) == 0, F.lit(" alpha"))
                  .otherwise(F.lit(""))).alias("text"))


def test_100k_queries_bounded_driver_and_identical_results(
        spark, idx, queries_df, tmp_path):
    out = str(tmp_path / "runout")
    res = search_query_frame(spark, idx, queries_df, out,
                             RetrieveConfig(k=3), text_cfg=RAW,
                             chunk_size=25_000)
    # chunking engaged: >1 chunk dir ⇒ at most chunk_size texts were ever
    # driver-resident at once
    chunks = [d for d in os.listdir(out) if d.startswith("chunk=")]
    assert len(chunks) == 4
    assert res.select("query_id").distinct().count() == N_QUERIES

    # identical to the list path on a sample of query ids
    sample_ids = [f"q{i}" for i in range(0, N_QUERIES, 9973)]
    listed = search_texts(
        spark, idx,
        [(r["query_id"], r["text"]) for r in
         queries_df.where(F.col("query_id").isin(sample_ids)).collect()],
        RetrieveConfig(k=3), text_cfg=RAW)
    got = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
           for r in res.where(F.col("query_id").isin(sample_ids)).collect()}
    want = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
            for r in listed.collect()}
    assert got == want and len(want) > 0


def test_config_change_invalidates_chunks(spark, idx, queries_df, tmp_path):
    """resume=True with a CHANGED retrieval config must wipe and recompute —
    never serve chunks built under a different k/scorer (stale-resume
    hazard). The run manifest fingerprints the full config."""
    out = str(tmp_path / "runout3")
    small = queries_df.limit(300)
    r1 = search_query_frame(spark, idx, small, out, RetrieveConfig(k=2),
                            text_cfg=RAW, chunk_size=200)
    assert r1.groupBy("query_id").count().agg({"count": "max"}).first()[0] <= 2
    r2 = search_query_frame(spark, idx, small, out, RetrieveConfig(k=3),
                            text_cfg=RAW, chunk_size=200)
    # k=3 results actually materialize (old k=2 chunks were invalidated)
    assert r2.groupBy("query_id").count().agg({"count": "max"}).first()[0] == 3
    # and a stale out-of-range chunk dir from a larger earlier run is gone
    assert not os.path.exists(os.path.join(out, "chunk=99"))


def test_resume_skips_completed_chunks(spark, idx, queries_df, tmp_path):
    """A second call with resume=True must not recompute finished chunks —
    pin via the parquet files' mtimes staying put."""
    out = str(tmp_path / "runout2")
    small = queries_df.limit(500)
    search_query_frame(spark, idx, small, out, RetrieveConfig(k=2),
                       text_cfg=RAW, chunk_size=200)
    mtimes = {d: os.path.getmtime(os.path.join(out, d, "_SUCCESS"))
              for d in os.listdir(out) if d.startswith("chunk=")}
    search_query_frame(spark, idx, small, out, RetrieveConfig(k=2),
                       text_cfg=RAW, chunk_size=200)
    after = {d: os.path.getmtime(os.path.join(out, d, "_SUCCESS"))
             for d in os.listdir(out) if d.startswith("chunk=")}
    assert after == mtimes


def test_content_change_invalidates_chunks(spark, idx, tmp_path):
    """resume=True with the SAME config but CHANGED topic content must not
    serve stale chunks (round-3 advice: identity was (path, config) only —
    the manifest now fingerprints (row count, sum xxhash64(qid, text)))."""
    out = str(tmp_path / "runout4")
    q1 = spark.createDataFrame([("qa", "term1"), ("qb", "term2 alpha")],
                               "query_id string, text string")
    search_query_frame(spark, idx, q1, out, RetrieveConfig(k=3),
                       text_cfg=RAW, chunk_size=10)
    q2 = spark.createDataFrame([("qa", "term3"), ("qb", "term4 gamma")],
                               "query_id string, text string")
    r2 = search_query_frame(spark, idx, q2, out, RetrieveConfig(k=3),
                            text_cfg=RAW, chunk_size=10)
    expect = search_texts(spark, idx, [("qa", "term3"), ("qb", "term4 gamma")],
                          RetrieveConfig(k=3), text_cfg=RAW)
    got = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
           for r in r2.collect()}
    want = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
            for r in expect.collect()}
    assert got == want and len(want) > 0


def test_duplicated_pair_swap_invalidates_chunks(spark, idx, tmp_path):
    """Regression: the content fingerprint was bit_xor of row hashes, and
    xor cancels pairwise — swapping one DUPLICATED row pair for another
    (same row count) left the fingerprint unchanged, so resume served the
    previous content's chunks. The decimal-sum fingerprint must refresh."""
    out = str(tmp_path / "runout5")
    q1 = spark.createDataFrame([("qa", "term1"), ("qa", "term1")],
                               "query_id string, text string")
    search_query_frame(spark, idx, q1, out, RetrieveConfig(k=3),
                       text_cfg=RAW, chunk_size=10)
    q2 = spark.createDataFrame([("qa", "term2 alpha"), ("qa", "term2 alpha")],
                               "query_id string, text string")
    r2 = search_query_frame(spark, idx, q2, out, RetrieveConfig(k=3),
                            text_cfg=RAW, chunk_size=10)
    # compare against a FRESH run of the same duplicated frame (duplicate
    # qids have their own rank semantics — the check is purely that the
    # resumed path recomputed rather than serving term1's chunks)
    expect = search_query_frame(spark, idx, q2, str(tmp_path / "fresh5"),
                                RetrieveConfig(k=3), text_cfg=RAW,
                                chunk_size=10)
    got = {(r["query_id"], r["doc_id"]) for r in r2.collect()}
    want = {(r["query_id"], r["doc_id"]) for r in expect.collect()}
    assert got == want and len(want) > 0


def test_parallel_chunks_identical_and_not_slower(spark, idx, queries_df,
                                                  tmp_path, monkeypatch):
    """parallel=4 must produce results identical to the sequential path and
    overlap chunk jobs (round-3 verdict #5: the serial loop scaled wall-time
    with chunk count). Overlap is checked without a clock: each chunk's
    search waits (bounded) until a second chunk's search is in flight, so
    a re-serialized loop (e.g. a lock around run_chunk) peaks at one."""
    import threading

    from patapsco_spark.operators import retrieve

    out_seq = str(tmp_path / "seq")
    out_par = str(tmp_path / "par")
    r_seq = search_query_frame(spark, idx, queries_df, out_seq,
                               RetrieveConfig(k=3), text_cfg=RAW,
                               chunk_size=25_000, parallel=1)
    seq_rows = sorted(map(tuple, r_seq.collect()))

    real = retrieve.search_texts
    cv = threading.Condition()
    seen = {"now": 0, "peak": 0, "gave_up": False}

    def tracked(*args, **kwargs):
        with cv:
            seen["now"] += 1
            seen["peak"] = max(seen["peak"], seen["now"])
            cv.notify_all()
            if not cv.wait_for(lambda: seen["peak"] >= 2 or seen["gave_up"],
                               timeout=30):
                seen["gave_up"] = True
        try:
            return real(*args, **kwargs)
        finally:
            with cv:
                seen["now"] -= 1

    monkeypatch.setattr(retrieve, "search_texts", tracked)
    r_par = search_query_frame(spark, idx, queries_df, out_par,
                               RetrieveConfig(k=3), text_cfg=RAW,
                               chunk_size=25_000, parallel=4)
    par_rows = sorted(map(tuple, r_par.collect()))
    assert par_rows == seq_rows and len(par_rows) > 0
    assert seen["peak"] >= 2, "parallel=4 ran its chunks one at a time"
