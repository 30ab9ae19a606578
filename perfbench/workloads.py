"""The benchmark's workloads and the traced layer sweep.

Load model: one closed-loop client. This process is the only caller and
issues the next request when the previous one returns; Spark runs at
``local[nproc]`` and nothing else generates load.

- ``build-zipf``: cold ``index_webpages`` builds of seeded Zipf web pages
  (html -> text -> analysis -> SPIMI postings -> norms -> term_stats).
- ``search-mix``: a seeded request stream (single BM25 queries, phrase
  queries, batches of many topics) over an index with positions built
  during set-up.

Every call into the program sits inside a tracer span, so the traced run
can attribute Spark jobs to it; the untraced run uses the span times only.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig
from patapsco_spark.operators.retrieve import process_queries, search
from patapsco_spark.plans.manifest import read_manifest
from patapsco_spark.sources.webpages import index_webpages

from . import gen
from .oracle import manifest_counts, same_topk
from .stats import summarize

K = 10                       # top-k of every request
K1, B = 0.9, 0.4             # RetrieveConfig defaults, passed to the oracles
BATCH_TOPICS = 32
# untimed warm-up before the window: a build of this many pages
# (build-zipf; the first build in a fresh JVM is the slowest), one request
# of each kind (search-mix)
WARM_PAGES = 300
# kinds of the search-mix stream, repeated; the seed chooses the queries,
# not the mix. Every kind occurs in the first three requests, so every
# window times each kind. The counts (7 bm25, 6 batch, 2 phrase) give each
# kind about a third of the window, as on a 4-core host over the 5000-page
# index the median single BM25 request takes 1.0 s, a batch 1.1 s and a
# phrase request 3.3 s. This spreads the window evenly over the layers the
# workload covers; it is not a model of real traffic.
PATTERN = ("bm25", "phrase", "batch", "bm25", "batch", "bm25", "batch",
           "bm25", "phrase", "batch", "bm25", "batch", "bm25", "batch", "bm25")
CHECK_BM25, CHECK_PHRASE, CHECK_TOPICS = 3, 2, 3


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def phase_times(index_path: str, start: float) -> dict:
    """Build phase durations from the ``written_at`` stamps of the stage
    manifests the build writes, in the order it writes them."""
    def stamp(stage: str) -> float | None:
        m = read_manifest(os.path.join(index_path, stage) if stage else index_path)
        return None if m is None else float(m["written_at"])

    analyzed, packed = stamp("analyzed"), stamp("norms_packed")
    postings = stamp("positions") or stamp("postings")
    stats, root = stamp("term_stats"), stamp("")
    return {"analyzed_s": analyzed - start, "norms_s": packed - analyzed,
            "postings_s": postings - packed, "term_stats_s": stats - postings,
            "finalize_s": root - stats}


class Workload:
    """Shared plumbing: failure accounting and the program's modules."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.text_cfg = TextConfig(stem=None, stopwords=None, lowercase=True)
        self.retrieve_cfg = RetrieveConfig(k=K, k1=K1, b=B)
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def index_cfg(self, positions: bool):
        return IndexConfig(text=self.text_cfg, num_shards=4,
                           positions=positions)

    def build(self, corpus: gen.Corpus, pages_path: str, index_path: str,
              positions: bool, request: str) -> dict | None:
        """One cold ``index_webpages`` build, checked against the
        generator's counts. Returns the manifest config, or None when the
        build failed."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        self.attempted += 1
        try:
            with tr.span("indexer.build", request=request) as sp:
                pages = spark.read.parquet(pages_path)
                meta = index_webpages(spark, pages, index_path,
                                      self.index_cfg(positions), resume=False)
        except Exception as exc:  # a failed build is counted, not fatal
            self.fail(f"{request}: build raised {exc!r}")
            return None
        sp.attrs["phases"] = phase_times(index_path, sp.start)
        sp.attrs["postings_bytes"] = _dir_bytes(os.path.join(index_path, "postings"))
        sp.attrs["num_postings"] = corpus.num_postings
        bad = manifest_counts(meta, corpus.num_docs, corpus.total_tf)
        if bad:
            self.fail(f"{request}: {bad}")
            return None
        return meta

    def request(self, index: str, req: gen.Request, warm: bool = False,
                tag: str = ""):
        """One closed-loop request: parse, define, execute. Returns
        (seconds, rows) or None when it raised."""
        ctx = self.ctx
        tr = ctx.tracer
        self.attempted += 1
        if req.kind == "batch":
            texts, mode = list(req.topics), "plain"
        else:
            texts, mode = [(req.qid, req.text)], (
                "boolean" if req.kind == "phrase" else "plain")
        start = time.perf_counter()
        try:
            with tr.span("request", request=req.qid, kind=req.kind,
                         warm=warm, tag=tag):
                with tr.span("queryparse.process_queries"):
                    plans = process_queries(texts, self.text_cfg, mode=mode)
                with tr.span("retrieve.search"):
                    df = search(ctx.spark, index, plans,
                                self.retrieve_cfg)
                with tr.span("retrieve.execute"):
                    rows = df.collect()
        except Exception as exc:  # counted as a failed request
            self.fail(f"{req.qid}: raised {exc!r}")
            return None
        took = time.perf_counter() - start
        return took, rows

    def check_rows(self, qid: str, rows, expected) -> None:
        got = [(r["doc_id"], int(r["rank"]), float(r["score"])) for r in rows]
        bad = same_topk(got, expected)
        if bad:
            self.fail(f"{qid}: {bad}")

    def next_request(self, stream: gen.QueryStream, kind: str) -> gen.Request:
        if kind == "batch":
            return stream.batch(BATCH_TOPICS)
        return getattr(stream, kind)()


class BuildZipf(Workload):
    name = "build-zipf"
    # per-document work is more than half of a build at this size on a
    # 4-core host: a warm 250-page build, nearly all fixed per-job cost,
    # takes 4.7 s, a warm 10 000-page one 11.1 s and a 20 000-page one 19.6 s
    pages = 10_000

    def setup(self) -> None:
        ctx = self.ctx
        self.corpus = gen.make_corpus(ctx.seed, self.pages)
        self.pages_path = os.path.join(ctx.work, "pages.parquet")
        self.corpus.write_parquet(self.pages_path)
        # a small corpus warms the same code paths in less set-up time
        warm = gen.make_corpus(ctx.seed, WARM_PAGES, gen=1)
        warm_path = os.path.join(ctx.work, "warm.parquet")
        warm.write_parquet(warm_path)
        self.build(warm, warm_path, os.path.join(ctx.work, "warm-index"),
                   False, "warm")
        shutil.rmtree(os.path.join(ctx.work, "warm-index"), ignore_errors=True)
        self.builds: list[tuple[float, int]] = []   # (seconds, index bytes)

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        k = 0
        while True:
            k += 1
            path = os.path.join(self.ctx.work, f"index-{k}")
            start = time.perf_counter()
            meta = self.build(self.corpus, self.pages_path, path, False,
                              f"build{k}")
            took = time.perf_counter() - start
            if meta is not None:
                self.builds.append((took, _dir_bytes(path)))
            shutil.rmtree(path, ignore_errors=True)
            # start another build only if it is expected to end in the window
            if time.perf_counter() - t0 + took > seconds:
                break

    def check(self) -> None:
        """Builds are checked against the manifest counts as they finish."""

    def end_to_end(self) -> dict:
        lat = [b[0] for b in self.builds]
        docs = self.corpus.num_docs * len(lat)
        size = float(np.median([b[1] for b in self.builds])) if self.builds else 0.0
        return {
            "samples": {"build_ms": [x * 1000.0 for x in lat]},
            "latency": summarize([x * 1000.0 for x in lat]),
            "throughput_per_s": docs / sum(lat) if lat else 0.0,
            "index_bytes_per_doc": size / self.corpus.num_docs,
            "named": {
                "build_docs_per_s": (docs / sum(lat) if lat else 0.0, "1/s", None),
                "index_bytes_per_doc": (size / self.corpus.num_docs, "B", None),
            },
        }


class SearchMix(Workload):
    name = "search-mix"
    # retrieval at this size sits on the warm-job floor (a BM25 request
    # takes 1.0 s here and 1.1 s over 10 000 pages); the set-up build with
    # positions, the first in a fresh JVM, takes 32 s over 10 000 pages,
    # more than the run budget holds
    pages = 5000

    def setup(self) -> None:
        ctx = self.ctx
        self.corpus = gen.make_corpus(ctx.seed, self.pages)
        self.pages_path = os.path.join(ctx.work, "pages.parquet")
        self.corpus.write_parquet(self.pages_path)
        self.index = os.path.join(ctx.work, "index")
        meta = self.build(self.corpus, self.pages_path, self.index, True,
                          "setup")
        if meta is None:
            raise RuntimeError("set-up build failed: " + "; ".join(self.failures))
        self.index_bytes = _dir_bytes(self.index)
        ctx.oracle.ensure(self.corpus, 0)
        self.stream = gen.QueryStream(ctx.seed, self.corpus)
        self.done: list[tuple[gen.Request, float, list]] = []
        # warm-up: one untimed request of every kind
        for kind in ("bm25", "phrase", "batch"):
            self.request(self.index, self.next_request(self.stream, kind),
                         warm=True)

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds:
            req = self.next_request(self.stream, PATTERN[i % len(PATTERN)])
            i += 1
            got = self.request(self.index, req)
            if got is not None:
                self.done.append((req, got[0], got[1]))

    def check(self) -> None:
        """A seeded sample of the timed requests against the oracles."""
        rng = np.random.default_rng([self.ctx.seed, 0xC4EC])
        by_kind: dict[str, list] = {}
        for item in self.done:
            by_kind.setdefault(item[0].kind, []).append(item)

        def sample(kind, n):
            items = by_kind.get(kind, [])
            idx = rng.choice(len(items), size=min(n, len(items)), replace=False)
            return [items[i] for i in sorted(idx)]

        for req, _, rows in sample("bm25", CHECK_BM25):
            self.check_rows(req.qid, rows, self.ctx.oracle.bm25(
                req.terms, K, K1, B))
        for req, _, rows in sample("phrase", CHECK_PHRASE):
            self.check_rows(req.qid, rows, self.ctx.oracle.phrase(
                req.phrase, req.extra, K, K1, B))
        for req, _, rows in sample("batch", 1):
            picks = rng.choice(len(req.topics), size=CHECK_TOPICS, replace=False)
            for j in sorted(picks):
                qid, text = req.topics[j]
                self.check_rows(qid, [r for r in rows if r["query_id"] == qid],
                                self.ctx.oracle.bm25(text.split(), K, K1, B))

    def end_to_end(self) -> dict:
        lat: dict[str, list[float]] = {}
        for req, took, _ in self.done:
            lat.setdefault(req.kind, []).append(took * 1000.0)
        # requests per second of PATTERN's mix, from each kind's median
        # latency: a window that ends mid-pattern holds other proportions,
        # and those must not move the figure
        mix_s = sum(float(np.median(lat[k])) / 1000.0 if k in lat else np.inf
                    for k in PATTERN)
        batch_q = BATCH_TOPICS * len(lat.get("batch", []))
        batch_s = sum(lat.get("batch", [])) / 1000.0
        named = {}
        for kind in ("bm25", "phrase"):
            s = summarize(lat.get(kind, []))
            named[f"{kind}_latency_p50_ms"] = (s["p50"], "ms", s)
            named[f"{kind}_latency_tail_ms"] = (s["tail"], "ms", s)
        named["batch_queries_per_s"] = (batch_q / batch_s if batch_s else None,
                                        "1/s", None)
        return {
            "samples": lat,
            "latency": summarize(lat.get("bm25", [])),
            "throughput_per_s": len(PATTERN) / mix_s,
            "index_bytes_per_doc": self.index_bytes / self.corpus.num_docs,
            "named": named,
        }


WORKLOADS = {w.name: w for w in (BuildZipf, SearchMix)}
