"""The traced run's layer sweep and the per-layer metrics.

After the timed window, :func:`sweep` calls each layer's public functions
alone (extraction, analysis, the postings codec, manifest and parquet
reads, term-stats reads) and runs the incremental path (two appends, a
search after each, one compaction and a search after it) on the
workload's index. Once the Spark event log is complete, :func:`finish`
rolls its jobs up onto the spans and turns them into the per-layer
metrics of :data:`perfbench.metrics.PER_LAYER`.
"""

from __future__ import annotations

import os
import time

import numpy as np
from numpy import median
from patapsco_spark.functions.analyze import analyze_documents
from patapsco_spark.functions.codec import (BLOCK_SIZE, decode_blocks,
                                            encode_postings_blocked)
from patapsco_spark.operators.indexer import read_term_stats
from patapsco_spark.plans.manifest import read_manifest
from patapsco_spark.plans.pqread import read_parquet
from patapsco_spark.sources.webpages import extract_pages
from patapsco_spark.streaming.incremental import append_batch, compact_index
from pyspark.sql import functions as F

from . import gen
from .oracle import manifest_counts
from .trace import Rollup
from .workloads import B, K, K1

APPEND_DOCS = 100
# build-zipf's retrieval and incremental probes run on an index of this
# many pages, built with positions after the timed window
PROBE_PAGES = 5000
APPENDS = 2
MICRO_REPS = 20
STATS_REPS = 3


def _timed(fn, reps: int) -> float:
    """Median seconds of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sweep(ctx, wl) -> None:
    spark, tr, L, corpus = ctx.spark, ctx.tracer, ctx.layers, wl.corpus

    # sources.webpages: extraction alone, into a noop sink
    pages = spark.read.parquet(wl.pages_path)
    t = time.perf_counter()
    with tr.span("webpages.extract_pages"):
        _noop(extract_pages(pages))
    dt = time.perf_counter() - t
    L["webpages.extract_s"] = dt
    L["webpages.extract_mb_per_s"] = corpus.html_bytes / 1e6 / dt

    # functions.analyze: the analysis chain alone over extracted text
    docs_path = os.path.join(ctx.work, "docs.parquet")
    corpus.write_docs_parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    t = time.perf_counter()
    with tr.span("analyze.analyze_documents"):
        _noop(analyze_documents(docs, wl.text_cfg, id_col="id",
                                text_col="text", lang_col="lang"))
    dt = time.perf_counter() - t
    L["analyze.documents_s"] = dt
    L["analyze.tokens_per_s"] = corpus.total_tf / dt

    codec_probe(wl, L)

    # the index the retrieval and incremental probes run on: search-mix's
    # own; build-zipf builds one with positions so phrases can run
    if wl.name == "search-mix":
        index = wl.index
    else:
        corpus = gen.make_corpus(ctx.seed, PROBE_PAGES)
        probe_path = os.path.join(ctx.work, "probe.parquet")
        corpus.write_parquet(probe_path)
        index = os.path.join(ctx.work, "probe-index")
        if wl.build(corpus, probe_path, index, True, "probe") is None:
            return
        stream = gen.QueryStream(ctx.seed, corpus, stream=2)
        for _ in range(2):   # the first of each kind warms its code path
            for kind in ("bm25", "phrase", "batch"):
                wl.request(index, wl.next_request(stream, kind), tag="probe")
    ctx.oracle.ensure(corpus, 0)

    L["plans.read_manifest_ms"] = 1000 * _timed(
        lambda: read_manifest(index), MICRO_REPS)
    L["plans.read_parquet_define_ms"] = 1000 * _timed(
        lambda: read_parquet(spark, f"{index}/postings"), MICRO_REPS)

    stream = gen.QueryStream(ctx.seed, corpus, stream=3)
    terms = list(stream.bm25().terms)

    def stats_lookup():
        (read_term_stats(spark, index)
         .where(F.col("term").isin(terms)).collect())

    L["retrieve.read_term_stats_ms"] = 1000 * _timed(stats_lookup, STATS_REPS)

    # streaming.incremental: appends, each followed by one BM25 search
    num_docs, total_tf = corpus.num_docs, corpus.total_tf
    append_s, after_ms = [], []
    for g in range(1, APPENDS + 1):
        batch = gen.make_corpus(ctx.seed, APPEND_DOCS, gen=g)
        path = os.path.join(ctx.work, f"append-{g}.parquet")
        batch.write_docs_parquet(path)
        wl.attempted += 1
        t = time.perf_counter()
        try:
            with tr.span("incremental.append_batch", request=f"append{g}"):
                meta = append_batch(spark, spark.read.parquet(path), index,
                                    wl.index_cfg(False), epoch_id=g)
        except Exception as exc:  # counted, and the sweep stops here
            wl.fail(f"append{g}: raised {exc!r}")
            return
        append_s.append(time.perf_counter() - t)
        num_docs += batch.num_docs
        total_tf += batch.total_tf
        bad = manifest_counts(meta, num_docs, total_tf)
        if bad:
            wl.fail(f"append{g}: {bad}")
        ctx.oracle.ensure(batch, g)
        req = stream.bm25()
        got = wl.request(index, req, tag="after_append")
        if got is not None:
            after_ms.append(got[0] * 1000)
            wl.check_rows(req.qid, got[1],
                          ctx.oracle.bm25(req.terms, K, K1, B, gen=g))
    if not append_s:
        return
    L["incremental.append_s"] = median(append_s)
    L["incremental.append_docs_per_s"] = APPEND_DOCS / median(append_s)
    L["incremental.search_after_append_ms"] = median(after_ms) if after_ms else None
    L["retrieve.read_term_stats_appended_ms"] = 1000 * _timed(
        stats_lookup, STATS_REPS)
    L["incremental.stats_segments"] = sum(
        1 for d in os.listdir(os.path.join(index, "term_stats"))
        if d.startswith("seg="))

    wl.attempted += 1
    t = time.perf_counter()
    try:
        with tr.span("incremental.compact_index"):
            meta = compact_index(spark, index)
    except Exception as exc:
        wl.fail(f"compact: raised {exc!r}")
        return
    L["incremental.compact_s"] = time.perf_counter() - t
    bad = manifest_counts(meta, num_docs, total_tf)
    if bad:
        wl.fail(f"compact: {bad}")
    req = stream.bm25()
    got = wl.request(index, req, tag="after_compact")
    if got is not None:
        wl.check_rows(req.qid, got[1],
                      ctx.oracle.bm25(req.terms, K, K1, B, gen=APPENDS))


def codec_probe(wl, L: dict) -> None:
    """functions.codec on the corpus's own postings lists: blocked encode,
    decode of every block, and a round-trip check."""
    lists = wl.corpus.postings()
    n = sum(len(d) for d, _ in lists)
    t = time.perf_counter()
    encoded = [encode_postings_blocked(d, f) for d, f in lists]
    enc_s = time.perf_counter() - t
    lasts = [d[np.minimum(np.arange(BLOCK_SIZE - 1, len(d) + BLOCK_SIZE - 1,
                                    BLOCK_SIZE), len(d) - 1)] for d, _ in lists]
    wl.attempted += 1
    t = time.perf_counter()
    decoded = [decode_blocks(blob, np.arange(len(offs)), np.asarray(offs),
                             np.asarray(glen), last)
               for (blob, offs, glen), last in zip(encoded, lasts)]
    dec_s = time.perf_counter() - t
    if any(not (np.array_equal(d, dd) and np.array_equal(f, ff))
           for (d, f), (dd, ff) in zip(lists, decoded)):
        wl.fail("codec: decode(encode(postings)) differs from the postings")
    L["codec.encode_postings_per_s"] = n / enc_s
    L["codec.decode_postings_per_s"] = n / dec_s
    L["codec.bytes_per_posting"] = sum(len(e[0]) for e in encoded) / n


# ---------------------------------------------------------------------------
# after the event log is complete
# ---------------------------------------------------------------------------

def finish(ctx, wl, spans, rolls: dict[str, Rollup]) -> None:
    """Per-layer metrics from the spans and their event-log roll-ups."""
    L = ctx.layers
    by_id = {s.id: s for s in spans}

    def named(name, **attrs):
        return [s for s in spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def med(values):
        values = [v for v in values if v is not None]
        return median(values) if values else None

    # the timed builds of build-zipf, the set-up build of search-mix
    builds = [s for s in named("indexer.build") if "phases" in s.attrs
              and (s.request == "setup" or s.request.startswith("build"))]
    for key in ("analyzed_s", "norms_s", "postings_s", "term_stats_s",
                "finalize_s"):
        L[f"indexer.{key}"] = med([s.attrs["phases"][key] for s in builds])
    r = [rolls[s.id] for s in builds]
    L["indexer.jobs"] = med([x.jobs for x in r])
    L["indexer.stages"] = med([x.stages for x in r])
    L["indexer.shuffle_write_bytes"] = med([x.cost.shuffle_write_bytes for x in r])
    L["indexer.spill_bytes"] = med([x.cost.spill_bytes for x in r])
    L["indexer.task_busy_ratio"] = med(
        [x.cost.task_ms / (x.wall_ms * ctx.cores) for x in r])
    L["indexer.bytes_per_posting"] = med(
        [s.attrs["postings_bytes"] / s.attrs["num_postings"] for s in builds])

    analyze = named("analyze.analyze_documents")
    L["analyze.python_bytes"] = rolls[analyze[0].id].cost.python_bytes \
        if analyze else None

    tag = "probe" if wl.name == "build-zipf" else ""
    reqs = [s for s in named("request", tag=tag) if not s.attrs.get("warm")]
    children = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault((s.parent, s.name), s)
    L["queryparse.plan_ms"] = med(
        [children[(s.id, "queryparse.process_queries")].dur * 1000
         for s in reqs if (s.id, "queryparse.process_queries") in children])
    for kind in ("bm25", "phrase", "batch"):
        ks = [s for s in reqs if s.attrs.get("kind") == kind]
        kr = [rolls[s.id] for s in ks]
        pre = f"retrieve.{kind}."
        L[pre + "define_ms"] = med([children[(s.id, "retrieve.search")].dur * 1000
                                    for s in ks])
        L[pre + "execute_ms"] = med([children[(s.id, "retrieve.execute")].dur * 1000
                                     for s in ks])
        L[pre + "jobs"] = med([x.jobs for x in kr])
        L[pre + "stages"] = med([x.stages for x in kr])
        L[pre + "driver_gap_ms"] = med([x.driver_gap_ms for x in kr])
        L[pre + "shuffle_bytes"] = med([x.cost.shuffle_write_bytes for x in kr])
        L[pre + "python_bytes"] = med([x.cost.python_bytes for x in kr])
        L[pre + "task_ms"] = med([x.cost.task_ms for x in kr])

    appends = named("incremental.append_batch")
    L["incremental.append_jobs"] = med([rolls[s.id].jobs for s in appends])
    compact = named("incremental.compact_index")
    L["incremental.compact_bytes_rewritten"] = \
        rolls[compact[0].id].cost.output_bytes if compact else None

    window = named("window")
    if window:
        cost = rolls[window[0].id].cost
        L["spark.gc_ms"] = cost.gc_ms
        L["spark.peak_execution_memory_bytes"] = cost.peak_exec_mem
