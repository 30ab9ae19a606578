"""The metric catalogue. Names, units, directions and bounds are read from
``BENCHMARK.json``; this module adds what that file has no key for: the
end-to-end metric and workload each layer metric should move.

End-to-end metrics are shared by both workloads, each measuring its own
requests:

- ``latency_p50_ms``: median latency of the headline request. build-zipf:
  one cold ``index_webpages`` build. search-mix: one single-query plain
  BM25 search (the warm-job floor).
- ``throughput_per_s``: build-zipf: documents indexed per second.
  search-mix: requests completed per second over the whole mix, so phrase
  and batch requests move it too.
- ``index_bytes_per_doc``: bytes on disk of the index the workload built,
  per document (search-mix's index carries positions).
- ``setup_s``: process start to the start of the timed window: session
  start, Python-worker warm-up, input generation, index build(s) and the
  warm-up requests.
"""

from __future__ import annotations

import json
import os

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json")

with open(BENCHMARK_JSON) as _f:
    _BENCH = json.load(_f)

# workload -> why it was chosen
WHY = {w["name"]: w["why"] for w in _BENCH["workloads"]}
# name -> (unit, better, bound)
END_TO_END = {m["name"]: (m["unit"], m["better"], m["bound"])
              for m in _BENCH["end_to_end"]}
# name -> (unit, better)
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in _BENCH["per_layer"]}

BZ, SM = "build-zipf", "search-mix"
_LAT, _THR, _IDX, _SET = ("latency_p50_ms", "throughput_per_s",
                          "index_bytes_per_doc", "setup_s")
_BUILD = [(_LAT, BZ), (_THR, BZ)]

# layer metric -> [(end-to-end metric, workload), ...] it should move
MOVES: dict[str, list] = {
    "session.start_s": [(_SET, BZ), (_SET, SM)],
    "session.worker_warm_s": [(_SET, BZ), (_SET, SM)],
    "webpages.extract_s": _BUILD,
    "webpages.extract_mb_per_s": _BUILD,
    "analyze.documents_s": _BUILD,
    "analyze.tokens_per_s": _BUILD,
    "analyze.python_bytes": _BUILD,
    "indexer.analyzed_s": _BUILD,
    "indexer.norms_s": _BUILD,
    "indexer.postings_s": _BUILD,
    "indexer.term_stats_s": _BUILD,
    "indexer.finalize_s": _BUILD,
    "indexer.jobs": _BUILD,
    "indexer.stages": _BUILD,
    "indexer.shuffle_write_bytes": _BUILD,
    "indexer.spill_bytes": _BUILD,
    "indexer.task_busy_ratio": _BUILD,
    "indexer.bytes_per_posting": [(_IDX, BZ), (_IDX, SM)],
    "codec.encode_postings_per_s": _BUILD,
    "codec.decode_postings_per_s": [(_THR, SM)],
    "codec.bytes_per_posting": [(_IDX, BZ), (_IDX, SM)],
    "queryparse.plan_ms": [(_LAT, SM)],
    "plans.read_manifest_ms": [(_LAT, SM)],
    "plans.read_parquet_define_ms": [(_LAT, SM)],
    "retrieve.read_term_stats_ms": [(_LAT, SM)],
    "retrieve.read_term_stats_appended_ms": [],
    "incremental.append_s": [],
    "incremental.append_docs_per_s": [],
    "incremental.append_jobs": [],
    "incremental.stats_segments": [],
    "incremental.search_after_append_ms": [],
    "incremental.compact_s": [],
    "incremental.compact_bytes_rewritten": [],
    "spark.gc_ms": [],
    "spark.peak_execution_memory_bytes": [],
    "run.peak_rss_mb": [],
    "trace.latency_p50_ms": [],
}
for _kind, _moves in (("bm25", [(_LAT, SM), (_THR, SM)]),
                      ("phrase", [(_THR, SM)]), ("batch", [(_THR, SM)])):
    for _m in ("define_ms", "execute_ms", "jobs", "stages", "driver_gap_ms",
               "shuffle_bytes", "python_bytes", "task_ms"):
        MOVES[f"retrieve.{_kind}.{_m}"] = _moves
