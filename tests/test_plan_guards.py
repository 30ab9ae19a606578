"""Physical-plan regression guards: the scale properties the engine's
design depends on must be visible in the optimized plans, not just assumed.
If a future change breaks term-predicate pushdown or shard partition
pruning, these fail loudly instead of silently turning a pruned scan into a
full-table read at production scale only."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from patapsco_spark.config import IndexConfig, TextConfig
from patapsco_spark.operators.indexer import build_index

RAW = TextConfig(stem=None, stopwords=None, lowercase=True)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "idx")
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta term{i % 7} gamma", "eng") for i in range(40)],
        "id string, text string, lang string")
    build_index(spark, docs, path, IndexConfig(text=RAW, num_shards=3))
    return path


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_postings_scan_pushes_term_filter(spark, idx):
    """The query-terms filter must reach the parquet scan (row-group pruning
    over the term-sorted postings files), not run post-scan only."""
    posts = (spark.read.parquet(f"{idx}/postings")
             .where(F.col("term").isin(["alpha", "beta"]) & (F.col("shard") < 3)))
    plan = _plan(posts)
    assert "PushedFilters" in plan
    assert "In(term" in plan


def test_postings_scan_prunes_shard_partitions(spark, idx):
    posts = (spark.read.parquet(f"{idx}/postings")
             .where(F.col("term").isin(["alpha"]) & (F.col("shard") == 1)))
    plan = _plan(posts)
    # shard is the partition column: the predicate must appear as a
    # PartitionFilter, and the scan must read 1 of 3 shard directories
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters", 1)[1][:200]


def test_norms_packed_is_one_row_per_shard(spark, idx):
    """The query path reads one packed blob per shard — if this table ever
    grows per-doc rows the per-query norms read becomes a columnar scan."""
    packed = spark.read.parquet(f"{idx}/norms_packed")
    assert packed.count() == 3
    assert packed.select("shard").distinct().count() == 3


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plansp") / "idxp")
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta term{i % 7} beta gamma", "eng")
         for i in range(40)],
        "id string, text string, lang string")
    build_index(spark, docs, path,
                IndexConfig(text=RAW, num_shards=3, positions=True))
    return path


def _mixed_plans():
    """One plan per positional clause kind over pos_idx's documents, each
    matching some docs: phrase, sloppy phrase, span_near, span_not,
    span_first, interval and phrase_prefix."""
    from patapsco_spark.operators.queryparse import (interval_plan,
                                                     parse_query,
                                                     phrase_prefix_plan,
                                                     span_first_plan,
                                                     span_near_plan,
                                                     span_not_plan)
    return [parse_query("phrase", '"alpha beta" delta', "boolean"),
            parse_query("sloppy", '"alpha gamma"~2', "boolean"),
            span_near_plan("span_near", [("alpha", "delta", 3)]),
            span_not_plan("span_not", [("beta", "alpha", 0)]),
            span_first_plan("span_first", [("gamma", 3)]),
            interval_plan("interval", [("alpha", "delta", 2)]),
            phrase_prefix_plan("phrase_prefix", ["delta"], "term")]


def test_mixed_kind_batch_equals_its_parts(spark, pos_idx):
    """All positional kinds share one pseudo-term pipeline: a batch mixing
    them must return, per query, exactly the rows that query returns when
    searched alone."""
    from patapsco_spark.config import RetrieveConfig
    from patapsco_spark.operators.retrieve import search

    def rows(plans):
        out = {}
        for r in search(spark, pos_idx, plans, RetrieveConfig(k=5)).collect():
            out.setdefault(r["query_id"], []).append(tuple(r))
        return out

    plans = _mixed_plans()
    mixed = rows(plans)
    for p in plans:
        alone = rows([p])
        assert alone.get(p.qid), f"{p.qid} matches nothing alone"
        assert mixed.get(p.qid) == alone[p.qid], p.qid


def test_multi_phrase_rewrite_is_one_job_and_one_union(spark, pos_idx):
    """A batch with MANY distinct phrases must trigger O(1) driver-blocking
    jobs during plan construction (one stats collect for ALL phrases — the
    round-2 shape ran 2 jobs PER phrase) and add exactly one union branch to
    the postings frame regardless of phrase count — as must a batch mixing
    every positional clause kind."""
    from patapsco_spark.config import RetrieveConfig
    from patapsco_spark.operators.retrieve import search
    from patapsco_spark.operators.retrieve import search_texts as st

    sc = spark.sparkContext

    def jobs_for(queries, group):
        sc.setJobGroup(group, "plan construction", True)
        try:
            res = st(spark, pos_idx, queries, RetrieveConfig(k=5),
                     text_cfg=RAW, mode="boolean")
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group)), res

    one = [("q1", '"alpha beta" delta')]
    many = [("q1", '"alpha beta" delta'), ("q2", '"beta gamma"'),
            ("q3", '"gamma delta" alpha'), ("q4", '"alpha beta gamma"')]
    n1, _ = jobs_for(one, "phrase-guard-1")
    n4, res = jobs_for(many, "phrase-guard-4")
    # AQE splits a collect into several jobs, so the absolute count is
    # environment-dependent — the guarded property is that it does NOT grow
    # with the phrase count (the round-2 shape added ≥2 jobs per phrase,
    # so 3 extra phrases would add ≥6 here)
    assert n4 <= n1 + 2, f"jobs grew with phrase count: {n1} -> {n4}"
    # one logical Union (postings ∪ pseudo-term postings) regardless of
    # phrase count; the round-2 shape chained one per phrase. The scoring
    # subtree is printed twice in the optimized plan (the norms-side dynamic
    # partition pruning subquery embeds a copy), so 1 union node ⇒ ≤2 lines;
    # 4 per-phrase unions would print ≥8.
    mixed = search(spark, pos_idx, _mixed_plans(), RetrieveConfig(k=5))
    for df in (res, mixed):
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        n_unions = sum(1 for ln in logical.splitlines() if "Union" in ln)
        assert n_unions <= 2, \
            f"{n_unions} union lines — per-phrase branches crept back in"
    # and the results are still correct: every query returns hits
    got = {r["query_id"] for r in res.collect()}
    assert got == {"q1", "q2", "q3", "q4"}


def test_search_uses_no_python_row_udfs(spark, idx):
    """The retrieval plan must stay Arrow-batched (cogrouped applyInPandas)
    — a BatchEvalPython node would mean a per-row Python UDF crept in."""
    from patapsco_spark.config import RetrieveConfig
    from patapsco_spark.operators.retrieve import search_texts

    res = search_texts(spark, idx, [("q", "alpha beta")],
                       RetrieveConfig(k=5), text_cfg=RAW)
    plan = _plan(res)
    assert "BatchEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "FlatMapCoGroupsInArrow" in plan


def test_term_stats_prefix_scan_pushes_startswith(spark, idx):
    """Wildcard expansion reads the term dictionary with the OR-of-prefixes
    predicate pushed to the parquet scan (StringStartsWith → row-group
    pruning over term-sorted stats files) — not a full-dictionary scan."""
    from patapsco_spark.operators.indexer import read_term_stats
    stats = (read_term_stats(spark, idx, num_shards=3)
             .where(F.col("term").startswith("te") |
                    F.col("term").startswith("al")))
    plan = _plan(stats)
    assert "PushedFilters" in plan
    assert "StringStartsWith" in plan


def test_term_stats_range_scan_pushes_bounds(spark, idx):
    """Range expansion ([a TO b]) reads the term dictionary with the bound
    predicates pushed to the parquet scan (GreaterThanOrEqual/LessThan →
    row-group pruning over term-sorted stats files)."""
    from patapsco_spark.operators.indexer import read_term_stats
    stats = (read_term_stats(spark, idx, num_shards=3)
             .where((F.col("term") >= "al") & (F.col("term") < "te")))
    plan = _plan(stats)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual" in plan and "LessThan" in plan


def test_round5_text_ops_are_pure_catalyst(spark):
    """The round-5 training-data operators (pii_scrub, bpe counts, unigram
    perplexity, line dedup, the clean-corpus funnel) must stay JVM-side:
    any Python/Arrow eval node means a UDF crept into an I/O-speed path."""
    from patapsco_spark.operators import dedup, recipes, textstats
    docs = spark.createDataFrame([(1, "a b c"), (2, "d e f")],
                                 "doc_id long, text string")
    frames = [textstats.pii_scrub(docs), textstats.bpe_token_counts(docs),
              textstats.ulm_perplexity(docs), dedup.line_dedup(docs),
              recipes.clean_corpus_funnel(docs),
              textstats.gopher_rules(docs),
              textstats.dsir_logweights(docs, docs.where("doc_id = 1"))]
    # match the UDF execution nodes specifically — a bare "Python"
    # substring also hits the PythonRDD input scan that createDataFrame
    # produces in an Arrow-less session, which is input plumbing, not a
    # UDF in the operator's plan
    udf_nodes = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "MapInArrow")
    for frame in frames:
        plan = _plan(frame)
        assert not any(n in plan for n in udf_nodes), plan


def test_cdx_index_is_range_partitioned(spark):
    """build_cdx must sample-range-partition on the key (hot domains spread
    across partitions), never hash — and sort within partitions."""
    from patapsco_spark.operators.weburl import build_cdx
    warcish = spark.createDataFrame(
        [("https://a/x", None, "response", 200, "text/html", b"x", "f", 0)],
        ("url string, warc_ts timestamp, warc_type string, http_status int,"
         " content_type string, html binary, warc_file string,"
         " warc_offset long"))
    plan = _plan(build_cdx(warcish))
    assert "rangepartitioning" in plan.lower()
    assert "Sort" in plan


def test_surt_and_domain_rollup_stay_jvm_side(spark):
    from patapsco_spark.operators.linkgraph import domain_edges
    from patapsco_spark.operators.weburl import surt
    edges = spark.createDataFrame([("https://a/x", "https://b/y")],
                                  "src string, dst string")
    for df in (edges.select(surt("src")), domain_edges(edges)):
        assert "EvalPython" not in _plan(df)


def test_pagerank_iteration_has_no_driver_collect_jobs(spark):
    """The dangling-mass fold must be a broadcast cross join inside the
    plan: building 3 iterations must launch only the vertex-count and
    validation jobs, never one job per iteration."""
    from patapsco_spark.operators.linkgraph import pagerank
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                              "src string, dst string")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    ranks = pagerank(e, iterations=3, truncate_every=10)  # no checkpoints
    after = len(tracker.getJobIdsForGroup(None) or [])
    # localCheckpoint(lazy) defers; n_nodes count() is the only required
    # action while BUILDING the plan (plus the lazy checkpoint jobs Spark
    # may run on first use) — allow a small constant, not one per iteration
    assert after - before <= 4
    plan = _plan(ranks)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hyperball_round_is_partial_aggregated(spark):
    """The register-wise max per round must run as partial+final
    HashAggregate (map-side combine absorbs in-degree skew)."""
    from patapsco_spark.operators.linkgraph import hyperball
    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "src string, dst string")
    plan = _plan(hyperball(e, t=1))
    assert plan.count("HashAggregate") >= 2
    assert "partial_max" in plan or "partial" in plan.lower()


def test_multi_spanfirst_rewrite_is_one_job_and_one_union(spark, pos_idx):
    """Same O(1)-jobs / one-union guard as the phrase rewrite, for the
    span-first rewrite (new r5): a batch with MANY (term, end) specs must
    collect stats once and add exactly one union branch to the postings
    frame, not one per spec."""
    from patapsco_spark.config import RetrieveConfig
    from patapsco_spark.operators.queryparse import span_first_plan
    from patapsco_spark.operators.retrieve import search

    sc = spark.sparkContext

    def jobs_for(plans, group):
        sc.setJobGroup(group, "plan construction", True)
        try:
            res = search(spark, pos_idx, plans, RetrieveConfig(k=5))
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group)), res

    one = [span_first_plan("q1", [("alpha", 2)])]
    many = [span_first_plan("q1", [("alpha", 2)]),
            span_first_plan("q2", [("beta", 3)]),
            span_first_plan("q3", [("gamma", 2), ("delta", 4)]),
            span_first_plan("q4", [("alpha", 3)], extra_terms=["delta"])]
    n1, _ = jobs_for(one, "sf-guard-1")
    n4, res = jobs_for(many, "sf-guard-4")
    assert n4 <= n1 + 3, f"driver jobs grew with spec count: {n1} -> {n4}"
    logical = res._jdf.queryExecution().optimizedPlan().toString()
    n_unions = sum(1 for ln in logical.splitlines() if "Union" in ln)
    assert n_unions <= 2, f"{n_unions} union lines — per-spec branches crept in"
    got = {r["query_id"] for r in res.collect()}
    assert got == {"q1", "q2", "q3", "q4"}


def test_cross_fields_pushdown_and_broadcasts(spark, idx):
    """cross_fields (new r5 s5): the per-field postings read must push the
    In(term) filter to the scan, and the idf/query joins must broadcast —
    the unbounded posting side is never the build side."""
    from patapsco_spark.operators.bm25f import search_cross_fields

    res = search_cross_fields(spark, {"f": idx}, [("q", "alpha beta")],
                              text_cfg=RAW, k=5)
    plan = _plan(res)
    assert "In(term" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_adjacency_matrix_has_no_match_self_join(spark, idx):
    """adjacency_matrix (new r5 s5): the pair expansion is a per-doc
    Generate over collected filter names — the plan must contain NO join
    of the match set with itself (the O(|matches|²) trap)."""
    from patapsco_spark.operators.aggs import adjacency_matrix, \
        match_set_texts

    m = match_set_texts(spark, idx, [("alpha", "alpha"), ("beta", "beta")],
                        text_cfg=RAW)
    plan, base = _plan(adjacency_matrix(m)), _plan(m)
    assert "Generate" in plan
    for join_kind in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                      "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        # no joins beyond what producing the match set itself needs
        assert plan.count(join_kind) == base.count(join_kind), join_kind


def test_sampler_is_one_window_no_join(spark, idx):
    """sampler (new r5 s5): one row_number window keyed (query, shard),
    no join — the shard key derives from docid arithmetic."""
    from patapsco_spark.operators.aggs import match_set_texts, sampler

    m = match_set_texts(spark, idx, [("q", "alpha")], text_cfg=RAW)
    plan = _plan(sampler(m, shard_size=2, docs_per_shard=14))
    assert plan.count("Window") >= 1
    tail = plan.split("Window", 1)[1]
    assert "row_number" in tail
    for join_kind in ("SortMergeJoin", "BroadcastHashJoin"):
        # the sampler itself adds no join beyond what match_set needs;
        # compare against the raw match plan's join count
        assert plan.count(join_kind) == _plan(m).count(join_kind), join_kind


def test_interval_positions_scan_pushes_terms(spark, pos_idx):
    """interval rewrite (new r5 s5): the positions sidecar read carries
    In(term, …) over exactly the specs' words — never a full positions
    scan."""
    from patapsco_spark.operators.queryparse import interval_plan
    from pyspark.sql import functions as FF

    pos = (spark.read.parquet(f"{pos_idx}/positions")
           .where(FF.col("term").isin(["alpha", "gamma"])
                  & (FF.col("shard") < 3)))
    plan = _plan(pos)
    assert "In(term" in plan
    # and the full search over an interval plan completes with the pushed
    # read (end-to-end wiring; semantic coverage lives in test_intervals)
    from patapsco_spark.config import RetrieveConfig
    from patapsco_spark.operators.retrieve import search
    out = search(spark, pos_idx,
                 [interval_plan("q", [("alpha", "gamma", 2)])],
                 RetrieveConfig(k=3))
    assert out.count() > 0


def test_new_metric_aggs_are_single_pass_catalyst(spark):
    """The fifth-session metric aggs (extended_stats, matrix_stats,
    percentile_ranks, range, filters) must plan as ONE partial+final
    HashAggregate pair over the joined frame — no Python UDFs, no
    nested-loop joins, no per-bucket jobs."""
    from patapsco_spark.operators.aggs import (extended_stats, filters_agg,
                                               matrix_stats,
                                               percentile_ranks, range_agg)

    matches = spark.createDataFrame(
        [("q1", f"d{i}", i, 1.0) for i in range(20)],
        "query_id string, doc_id string, docid long, score double")
    fields = spark.createDataFrame(
        [(f"d{i}", i * 10, i * 3) for i in range(20)],
        "doc_id string, a long, b long")
    outs = [
        extended_stats(matches, fields, "a"),
        matrix_stats(matches, fields, "a", "b"),
        percentile_ranks(matches, fields, "a", [10.0, 50.0]),
        range_agg(matches, fields, "a", [(None, 50.0), (50.0, None)]),
        filters_agg(matches, fields, {"lo": "a < 100", "hi": "a >= 100"},
                    other_bucket="other"),
    ]
    for out in outs:
        plan = _plan(out)
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # map-side combine: a partial aggregate below the exchange
        assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_geo_ops_are_pure_catalyst(spark):
    from patapsco_spark.operators.geo import geo_distance, geotile_grid

    matches = spark.createDataFrame(
        [("q1", f"d{i}", i, 1.0) for i in range(10)],
        "query_id string, doc_id string, docid long, score double")
    geo = spark.createDataFrame(
        [(f"d{i}", float(i), float(i * 2 - 90)) for i in range(10)],
        "doc_id string, lat double, lon double")
    for out in (geo_distance(matches, geo, 10.0, 20.0, k=5),
                geotile_grid(matches, geo, zoom=3, size=5)):
        plan = _plan(out)
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "CartesianProduct" not in plan
    # the nearest-k cut is two-phase: a bucketed per-query pre-cut below
    # the (bounded) per-query rank — never one window over the raw set
    plan = _plan(geo_distance(matches, geo, 10.0, 20.0, k=5))
    assert "pmod(xxhash64(doc_id" in plan
    assert plan.count("Window") >= 2


def test_unbounded_topk_paths_have_bucketed_precut(spark, idx):
    """Round-5 verdict #2/#3: terms_set_topk and sort_by_field rank with a
    docid/doc_id-hash-bucketed pre-cut (k rows per bucket) BELOW the final
    bounded merge window, so no window ever sees an unbounded match set in
    a single partition. The pre-cut must be visible in the plan."""
    from patapsco_spark.operators.aggs import sort_by_field
    from patapsco_spark.operators.termsset import terms_set_topk

    vals = spark.createDataFrame(
        [(f"d{i}", 1) for i in range(40)], "doc_id string, req int")
    plan = _plan(terms_set_topk(spark, idx, ["alpha", "beta"], vals,
                                "req", k=5, text_cfg=RAW))
    assert "pmod(xxhash64(docid" in plan
    assert plan.count("Window") >= 2

    matches = spark.createDataFrame(
        [("q1", f"d{i}", i, 1.0) for i in range(20)],
        "query_id string, doc_id string, docid long, score double")
    fields = spark.createDataFrame(
        [(f"d{i}", i * 10) for i in range(20)], "doc_id string, a long")
    plan = _plan(sort_by_field(matches, fields, "a", k=5))
    assert "pmod(xxhash64(doc_id" in plan
    assert plan.count("Window") >= 2
