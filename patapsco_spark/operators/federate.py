"""Federated search across independent index artifacts with GLOBAL
statistics — Lucene ``MultiReader`` / Elasticsearch multi-index search
semantics (the reference runs one Lucene index per run, `retrieve.py:60`;
a web-scale deployment shards by crawl / tenant / time slice and must
query several index artifacts as ONE logical corpus).

Semantics (Lucene MultiReader, `DFS_QUERY_THEN_FETCH` in ES terms): term
statistics are combined BEFORE scoring — df(t) = Σᵢ dfᵢ(t), cf(t) =
Σᵢ cfᵢ(t), N = Σᵢ Nᵢ, avgdl = float32(Σ total_tf / N) — so a document's
score is identical to what a single merged index would produce. Scoring
each index LOCALLY (the naive union) ranks duplicates of rare-in-one-
index terms wrongly; combined-stats scoring is the correctness bar.

Plan shape: one term_stats read per index (pushed In(term) filter,
segment-aggregated), summed driver-side (bounded by |query terms|); then
``search(..., stats_override=...)`` per index — each runs its normal
cogrouped shard kernel unchanged, and cuts to k LOCALLY
(exact: the global top-k is contained in the union of per-index top-ks
because every index's cut keeps its k best under the same global
scoring); finally one window over the ≤ |indexes|·k merged rows. No
shuffle touches postings across indexes — only the k-bounded merge moves.

Exactness of the merge: per-index ranking ties break on docid asc, which
within an index IS external-id order (indexer docstring: docids follow
the id total order), so a doc excluded by a boundary tie in its own index
is also excluded by the global (score desc, doc_id asc) order.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import RetrieveConfig, TextConfig
from .queryparse import QueryPlan, iter_term_clauses
from .retrieve import load_index_meta, process_queries, search


def combined_stats(spark: SparkSession, index_paths: Sequence[str],
                   terms: Iterable[str]) -> dict:
    """Global (num_docs, total_tf, avgdl, df_map) across the indexes.
    avgdl follows the indexer's rule (indexer.float32_avgdl) so a merged
    index built from the same docs would publish the same value."""
    from .indexer import float32_avgdl, read_term_stats

    terms = sorted(set(terms))
    num_docs = 0
    total_tf = 0
    df_map: dict[str, list[int]] = {}
    for p in index_paths:
        meta = load_index_meta(p)
        num_docs += int(meta["num_docs"])
        total_tf += int(meta["total_tf"])
        if not terms:
            continue
        stats = (read_term_stats(spark, p,
                                 num_shards=int(meta["num_shards"]),
                                 shard_base=int(meta.get(
                                     "stats_base", meta.get("shard_base", 0))))
                 .where(F.col("term").isin(terms)))
        for r in stats.collect():
            cur = df_map.setdefault(r["term"], [0, 0])
            cur[0] += int(r["df"])
            cur[1] += int(r["cf"])
    return {"num_docs": num_docs, "total_tf": total_tf,
            "avgdl": float32_avgdl(total_tf, num_docs),
            "df_map": {t: (df, cf) for t, (df, cf) in df_map.items()}}


def search_federated(spark: SparkSession, index_paths: Sequence[str],
                     plans: list[QueryPlan],
                     cfg: RetrieveConfig | None = None) -> DataFrame:
    """Top-k over several index artifacts under combined statistics.
    Returns (query_id, doc_id, docid, rank, score) — the search() shape;
    ``docid`` is the PER-INDEX docid (index spaces are not concatenated:
    external ids are the federation-level identity, and the global
    tie-break is doc_id asc). Duplicated external ids across indexes are
    the caller's contract to avoid (same as feeding one doc twice to one
    build)."""
    if not index_paths:
        raise ValueError("index_paths must name at least one index")
    cfg = cfg or RetrieveConfig(k=1000)
    all_terms = {t for p in plans for c in iter_term_clauses(p.clauses)
                 for t, _ in c.terms}
    stats = combined_stats(spark, index_paths, all_terms)

    parts = [search(spark, p, plans, cfg, stats_override=stats)
             for p in index_paths]
    merged = parts[0]
    for part in parts[1:]:
        merged = merged.unionByName(part)

    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cfg.k)
            .select("query_id", "doc_id", "docid",
                    (F.col("rn") - 1).cast("int").alias("rank"), "score")
            .orderBy("query_id", "rank"))


def search_federated_texts(spark: SparkSession,
                           index_paths: Sequence[str],
                           queries: Iterable[tuple[str, str]],
                           cfg: RetrieveConfig | None = None,
                           text_cfg: TextConfig | None = None,
                           lang: str = "eng",
                           mode: str = "plain") -> DataFrame:
    """Raw query texts → federated top-k (the search_texts analogue).
    Every index of a federation shares one analysis chain, exactly as the
    reference enforces one chain between docs and queries."""
    plans = process_queries(list(queries), text_cfg, lang=lang, mode=mode)
    return search_federated(spark, index_paths, plans, cfg)
