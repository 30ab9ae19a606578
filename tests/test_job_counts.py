"""Warm-query Spark-job-count guards.

The round-6 continuation removed definition-time jobs from every query
path: parquet schema-inference jobs (plans/pqread supplies the footer
schema driver-side) and the term-stats Exchange (single-committed-segment
fast path collects in one job). None of that is visible in the final
DataFrame's explain output — the removed jobs ran at *definition* time —
so this guard pins the observable effect instead: a warm top-k search
must stay within its measured job budget. A regression that re-introduces
per-read inference jobs or an extra stats job trips the bound.

The positional families run one shared pseudo-term pipeline
(retrieve._rewrite_pseudo_terms): one positions read, one eager
checkpoint and one stats collect per search, however many clause kinds
the batch mixes — so a mixed batch must cost about what its most
expensive kind costs alone, not the sum of the kinds.

Maintenance runs its tables through the build's shard writer
(operators/indexer.py), so an append or a compaction costs a pinned number
of jobs too: a regression that re-stages the analyzed batch or adds a
readback trips its bound."""

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)

# warm jobs measured on Spark 4.1, local[4], over the index below (AQE
# stage jobs + stats collect(s) + save); "mixed" is the phrase, span_near
# and span_first plans in one search(), within one job of its largest part;
# "synonym" is the bm25 plan with one synonym group
BUDGET = {"bm25": 8, "phrase": 14, "span_near": 14, "span_first": 14,
          "mixed": 14, "synonym": 11}
# one 20-doc append_batch, then one full compact_index, on a copy of it
APPEND_BUDGET, COMPACT_BUDGET = 22, 22


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    from patapsco_spark.operators.indexer import build_index

    docs = spark.createDataFrame(
        [(str(i), f"alpha beta gamma doc{i} delta word{i % 7}")
         for i in range(300)],
        "id string, text string")
    path = str(tmp_path_factory.mktemp("jobs") / "idx")
    build_index(spark, docs, path,
                IndexConfig(text=RAW, num_shards=2, positions=True),
                resume=False)
    return path


def _plans(kind):
    from patapsco_spark.operators.queryparse import (parse_query,
                                                     span_first_plan,
                                                     span_near_plan)
    if kind in ("bm25", "synonym"):
        return [parse_query("q1", "", "plain", terms=["alpha", "delta"])]
    phrase = parse_query("q1", '"alpha beta" delta', "boolean")
    near = span_near_plan("q2", [("alpha", "delta", 3)])
    first = span_first_plan("q3", [("gamma", 3)])
    return {"phrase": [phrase], "span_near": [near], "span_first": [first],
            "mixed": [phrase, near, first]}[kind]


def _jobs(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(tag))
    finally:
        sc.setJobGroup(None, None)


def _warm_jobs(spark, idx, kind):
    from patapsco_spark.operators.retrieve import search

    synonyms = {"alpha": ["gamma"]} if kind == "synonym" else None

    def run():
        res = search(spark, idx, _plans(kind), RetrieveConfig(k=5),
                     synonyms=synonyms)
        res.write.format("noop").mode("overwrite").save()

    _jobs(spark, f"warmup-{kind}", run)          # plan/codegen warmup
    return _jobs(spark, f"measured-{kind}", run)


@pytest.mark.parametrize("kind", sorted(BUDGET))
def test_warm_search_job_budget(spark, pos_idx, kind):
    n = _warm_jobs(spark, pos_idx, kind)
    assert n <= BUDGET[kind], f"warm {kind} search ran {n} jobs " \
                              f"(budget {BUDGET[kind]})"


def test_append_and_compaction_job_budget(spark, pos_idx, tmp_path):
    import shutil

    from patapsco_spark.streaming.incremental import (append_batch,
                                                      compact_index)

    idx = str(tmp_path / "idx")
    shutil.copytree(pos_idx, idx)
    docs = spark.createDataFrame(
        [(f"n{i}", f"alpha gamma new{i} word{i % 5}") for i in range(20)],
        "id string, text string")
    n = _jobs(spark, "append", lambda: append_batch(
        spark, docs, idx, IndexConfig(text=RAW), epoch_id=1))
    assert n <= APPEND_BUDGET, f"20-doc append ran {n} jobs " \
                               f"(budget {APPEND_BUDGET})"
    n = _jobs(spark, "compact", lambda: compact_index(spark, idx))
    assert n <= COMPACT_BUDGET, f"full compaction ran {n} jobs " \
                                f"(budget {COMPACT_BUDGET})"
