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
expensive kind costs alone, not the sum of the kinds."""

import pytest

from patapsco_spark.config import IndexConfig, RetrieveConfig, TextConfig

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)

# warm jobs measured on Spark 4.1, local[4], over the index below (AQE
# stage jobs + stats collect(s) + save); "mixed" is the phrase, span_near
# and span_first plans in one search(), within one job of its largest part
BUDGET = {"bm25": 8, "phrase": 14, "span_near": 14, "span_first": 14,
          "mixed": 14}


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
    if kind == "bm25":
        return [parse_query("q1", "", "plain", terms=["alpha", "delta"])]
    phrase = parse_query("q1", '"alpha beta" delta', "boolean")
    near = span_near_plan("q2", [("alpha", "delta", 3)])
    first = span_first_plan("q3", [("gamma", 3)])
    return {"phrase": [phrase], "span_near": [near], "span_first": [first],
            "mixed": [phrase, near, first]}[kind]


def _warm_jobs(spark, idx, kind):
    from patapsco_spark.operators.retrieve import search

    sc = spark.sparkContext

    def run(tag):
        sc.setJobGroup(tag, tag)
        try:
            res = search(spark, idx, _plans(kind), RetrieveConfig(k=5))
            res.write.format("noop").mode("overwrite").save()
            return len(sc.statusTracker().getJobIdsForGroup(tag))
        finally:
            sc.setJobGroup(None, None)

    run(f"warmup-{kind}")          # plan/codegen warmup
    return run(f"measured-{kind}")


@pytest.mark.parametrize("kind", sorted(BUDGET))
def test_warm_search_job_budget(spark, pos_idx, kind):
    n = _warm_jobs(spark, pos_idx, kind)
    assert n <= BUDGET[kind], f"warm {kind} search ran {n} jobs " \
                              f"(budget {BUDGET[kind]})"
