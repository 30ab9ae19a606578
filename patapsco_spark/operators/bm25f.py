"""BM25F fielded retrieval, composed from per-field indexes.

The reference's Lucene index is single-field (`index.py:52` stores one
analyzed text stream per document), so plain BM25 is its ceiling. A web
search engine is inherently FIELDED — title, body, anchor text — and the
standard fielded ranking function is BM25F (Robertson & Zaragoza, "The
Probabilistic Relevance Framework: BM25 and Beyond", FnTIR 2009; Zaragoza
et al., CIKM 2004 "Microsoft Cambridge at TREC-13"): per-field term
frequencies are length-normalized and weight-combined into one pseudo-tf
BEFORE the BM25 saturation,

    tfn(t, d)  =  Σ_f  w_f · tf(t, f, d) / (1 − b_f + b_f · len_f(d)/avglen_f)
    score(q,d) =  Σ_{t∈q}  qw_t · idf(t) · tfn / (k1 + tfn)

with idf over DOCUMENTS (a doc contains t if any field does):
idf = ln(1 + (N − df + 0.5)/(df + 0.5)) — the same Lucene BM25 idf the
single-field scorer uses (retrieve.py kernel). With one field and w=1 this
reduces EXACTLY to BM25: tfn/(k1+tfn) = tf/(k1·(1−b+b·L) + tf) — pinned in
tests/test_bm25f.py.

Spark-first plan shape (100 TB framing):

- One index per field, built by the unchanged core indexer — per-field
  indexes are independently shardable/compactable/appendable artifacts, and
  the build reuses every existing guarantee (deterministic docids from the
  shared external-id total order, so docid spaces ALIGN across the field
  indexes of one corpus; manifest resume; tombstones).
- ``term_postings_frame`` decodes ONLY the query's terms' postings — the
  parquet scan has PushedFilters: In(term, …) + the live-shard partition
  filter — in one cogrouped Arrow kernel per shard (postings ×
  norms_packed, the same cogroup shape as search); rows crossing Arrow =
  the matched postings, the same volume class as ``matches_only``.
- Everything after the decode is Catalyst: per-field normalization, the
  field combine, df counting, per-term components, and the top-k window.
  Float determinism: per-(term, doc) field tfns and per-(query, doc) term
  components are folded via array_sort(collect_list(struct(key, v))) —
  a FIXED fold order (field name asc / term asc) independent of
  partitioning, so scores are bit-stable and SQL-replayable.
- The external-id resolution joins the k-bounded hits BROADCAST against
  the first field's norms table (partition-pruned); the unbounded side is
  never broadcast.
"""

from __future__ import annotations

from typing import Iterable, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queryparse import iter_term_clauses
from .retrieve import _decode_rows, load_index_meta, process_queries
from ..plans.pqread import read_parquet

_TF_SCHEMA = "term string, docid long, tf int, dlq int"


def _make_tf_kernel(docs_per_shard: int, deleted=None):
    """Cogrouped (postings × norms_packed) kernel: full decode of every
    posting of the (already In-filtered) terms → (term, docid, tf, dlq).
    dlq comes from the shard's packed norm-byte blob."""

    def kernel(key, posts_pdf: pd.DataFrame,
               packed_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"term": pd.Series([], dtype=object),
                              "docid": pd.Series([], dtype=np.int64),
                              "tf": pd.Series([], dtype=np.int32),
                              "dlq": pd.Series([], dtype=np.int32)})
        if posts_pdf.empty:
            return empty
        if packed_pdf.empty:
            # postings without a norms blob is an index invariant violation
            # (mirrors the compaction kernel's loud refusal) — never emit a
            # silently-unnormalized score
            raise ValueError(
                f"shard {key[0]}: postings present but norms_packed missing")
        from ..functions.smallfloat import byte4_to_int
        got = _decode_rows(posts_pdf, docs_per_shard, deleted)
        if got is None:
            return empty
        terms, _shards, docid, tfs = got
        base = int(key[0]) * docs_per_shard
        codes = np.frombuffer(bytes(packed_pdf["codes"].iloc[0]),
                              dtype=np.uint8)
        dlq_arr = byte4_to_int(codes).astype(np.int32)
        return pd.DataFrame({"term": terms, "docid": docid, "tf": tfs,
                             "dlq": dlq_arr[docid - base]})

    return kernel


def term_postings_frame(spark: SparkSession, index_path: str,
                        terms: Iterable[str], meta: dict | None = None,
                        deleted=None) -> DataFrame:
    """(term, docid, tf, dlq) for ``terms`` — the distributed posting rows
    of one field index, tombstones masked, committed-generation snapshot
    (same live-shard gating as search).

    ``meta`` pins the manifest snapshot (default: the current one) and
    ``deleted`` then carries that snapshot's tombstone arrays
    (deletes.tombstone_arrays), so a caller that already read them — a
    search, possibly under a point-in-time — reads the same docs."""
    from .deletes import tombstone_arrays
    from .indexer import live_shard_pred

    if meta is None:
        meta = load_index_meta(index_path)
        deleted = tombstone_arrays(spark, index_path, meta)
    docs_per_shard = int(meta["docs_per_shard"])
    live_pred = live_shard_pred(meta)
    terms = sorted(set(terms))
    if not terms or int(meta["num_docs"]) == 0:
        return spark.createDataFrame([], _TF_SCHEMA)
    posts = (read_parquet(spark, f"{index_path}/postings")
             .where(F.col("term").isin(terms) & live_pred))
    packed = (read_parquet(spark, f"{index_path}/norms_packed")
              .where(live_pred))
    kernel = _make_tf_kernel(docs_per_shard, deleted)
    return (posts.groupBy("shard").cogroup(packed.groupBy("shard"))
            .applyInPandas(kernel, schema=_TF_SCHEMA))


def _fold_sum(col_struct_array):
    """Deterministic float fold: sum struct.v over a sorted struct array."""
    return F.aggregate(col_struct_array, F.lit(0.0),
                       lambda acc, x: acc + x["v"])


def search_bm25f(spark: SparkSession, field_indexes: Mapping[str, str],
                 queries: Iterable[tuple[str, str]], *,
                 text_cfg=None, lang: str = "eng",
                 weights: Mapping[str, float] | None = None,
                 field_b: Mapping[str, float] | None = None,
                 k1: float = 0.9, k: int = 1000) -> DataFrame:
    """BM25F top-k over per-field indexes built from the SAME corpus (the
    shared external-id total order makes their docid spaces identical —
    asserted via num_docs/docs_per_shard).

    ``field_indexes``: {field_name: index_path}. ``weights``/``field_b``
    default to 1.0 / 0.4 per field (RetrieveConfig's BM25 defaults).
    Queries are analyzed ONCE with ``text_cfg`` (every field of one corpus
    shares an analysis chain, as the reference shares its chain between
    docs and queries); duplicate/boosted query terms fold as a qw
    multiplier on the term component (one addition, not repeated adds).
    Returns (query_id, doc_id, docid, rank, score), rank 0-based per query,
    ties broken by docid asc — identical shape and tie-break to search()."""
    fields = sorted(field_indexes)
    if not fields:
        raise ValueError("field_indexes must name at least one field")
    weights = dict(weights or {})
    field_b = dict(field_b or {})
    metas = {f: load_index_meta(field_indexes[f]) for f in fields}
    n_set = {int(m["num_docs"]) for m in metas.values()}
    dps_set = {int(m["docs_per_shard"]) for m in metas.values()}
    if len(n_set) != 1 or len(dps_set) != 1:
        raise ValueError(
            "field indexes disagree on corpus shape (num_docs %s, "
            "docs_per_shard %s) — build every field from the same corpus"
            % (sorted(n_set), sorted(dps_set)))
    num_docs = n_set.pop()

    plans = process_queries(list(queries), text_cfg, lang=lang)
    qrows = [(p.qid, t, float(w))
             for p in plans for c in iter_term_clauses(p.clauses)
             for t, w in c.terms]
    empty = spark.createDataFrame(
        [], "query_id string, doc_id string, docid long, rank int, "
            "score double")
    if not qrows or num_docs == 0:
        return empty
    all_terms = sorted({t for _, t, _ in qrows})

    # per-field decoded postings → length-normalized weighted tf
    per_field = []
    for f in fields:
        m = metas[f]
        avgdl = float(m["avgdl"])
        w_f, b_f = float(weights.get(f, 1.0)), float(field_b.get(f, 0.4))
        pf = term_postings_frame(spark, field_indexes[f], all_terms)
        if avgdl <= 0.0:
            continue  # field empty in the whole corpus: no contribution
        per_field.append(pf.select(
            "term", "docid", F.lit(f).alias("field"),
            (F.lit(w_f) * F.col("tf")
             / (F.lit(1.0 - b_f)
                + F.lit(b_f) * F.col("dlq") / F.lit(avgdl))).alias("v")))
    if not per_field:
        return empty
    unioned = per_field[0]
    for pf in per_field[1:]:
        unioned = unioned.unionByName(pf)

    # combine fields per (term, doc): fixed fold order = field name asc
    tfn = (unioned.groupBy("term", "docid")
           .agg(_fold_sum(F.array_sort(
               F.collect_list(F.struct(F.col("field").alias("k"),
                                       F.col("v").alias("v")))))
                .alias("tfn")))

    # document df per term (term in ANY field) → idf; both sides of the
    # join are tiny (≤ |query terms| rows) and broadcast
    dfs = tfn.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfs.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(float(num_docs)) - F.col("df")
                            + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        .alias("idf"))
    qdf = (spark.createDataFrame(qrows, "query_id string, term string, "
                                        "qw double")
           .groupBy("query_id", "term").agg(F.sum("qw").alias("qw")))

    comp = (tfn.join(F.broadcast(idf), "term")
            .join(F.broadcast(qdf), "term")
            .select("query_id", "docid", "term",
                    (F.col("qw") * F.col("idf") * F.col("tfn")
                     / (F.lit(float(k1)) + F.col("tfn"))).alias("v")))

    # per-(query, doc) score: fixed fold order = term asc
    scored = (comp.groupBy("query_id", "docid")
              .agg(_fold_sum(F.array_sort(
                  F.collect_list(F.struct(F.col("term").alias("k"),
                                          F.col("v").alias("v")))))
                   .alias("score")))

    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("docid"))
    topk = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "docid", (F.col("rn") - 1).alias("rank"),
                    "score"))

    # k-bounded hits broadcast against the first field's (pruned) norms
    from .indexer import live_shard_pred
    f0 = fields[0]
    dps = int(metas[f0]["docs_per_shard"])
    hits = topk.withColumn("shard",
                           (F.col("docid") / F.lit(dps)).cast("int"))
    norms = (read_parquet(spark, f"{field_indexes[f0]}/norms")
             .where(live_shard_pred(metas[f0]))
             .select("shard", "docid", F.col("id").alias("doc_id")))
    return (norms.join(F.broadcast(hits), ["shard", "docid"])
            .select("query_id", "doc_id", "docid",
                    F.col("rank").cast("int").alias("rank"), "score")
            .orderBy("query_id", "rank"))


def search_cross_fields(spark: SparkSession,
                        field_indexes: Mapping[str, str],
                        queries: Iterable[tuple[str, str]], *,
                        text_cfg=None, lang: str = "eng",
                        tie_breaker: float = 0.0,
                        boosts: Mapping[str, float] | None = None,
                        k1: float = 0.9, b: float = 0.4, k: int = 1000
                        ) -> DataFrame:
    """Cross-fields fielded retrieval — Elasticsearch ``multi_match
    type=cross_fields`` / Lucene ``BlendedTermQuery`` (public docs
    "multi-match query", "blended term query"), the third classic
    multi-field mode next to :func:`search_bm25f` (field-combine BEFORE
    saturation) and :func:`search_dismax` (per-field whole-query BM25,
    dismax per DOCUMENT). cross_fields is term-centric: every query term
    is scored independently in each field with a BLENDED document
    frequency,

        df_blend(t) = max_f df_f(t)                      (BlendedTermQuery)
        v(t, f, d)  = boost_f · idf(df_blend) · tf/(tf + k1·(1−b+b·dl_f/avgdl_f))
        s(t, d)     = max_f v + tie_breaker · (Σ_f v − max_f v)
        score(q, d) = Σ_{t∈q} qw_t · s(t, d)

    so a term that is RARE overall but common in one field (e.g. anchor
    text) is not over-rewarded there — the idf skew across fields is the
    failure mode cross_fields exists to fix (best_fields scores "alpha" in
    a title index with title-local df). The per-term dismax with
    ``tie_breaker=0`` takes the best field's evidence per term; the sum
    over terms still rewards covering ALL terms across DIFFERENT fields —
    the "first name in field A, last name in field B" query shape.

    Exactness + determinism: per-field tfs come from the same full decode
    as BM25F (``term_postings_frame``: In-pushed terms, tombstone-masked,
    committed snapshot); folds use fixed orders (Σ_f by field name asc,
    Σ_t by term asc); max is order-free — scores are bit-stable and the
    whole pipeline is SQL-replayable (oracle ``cross_fields_bm25``).

    Scale shape (100 TB): the decoded rows are exactly the query terms'
    postings per field; df counting and the two combines are combinable
    groupBys (map-side partial agg) keyed by (term) / (term, doc) /
    (query, doc); idf and query frames are broadcast; the final id
    resolution joins the k-bounded hits broadcast against partition-pruned
    norms. No full scans, no driver-side loops."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    fields = sorted(field_indexes)
    if not fields:
        raise ValueError("field_indexes must name at least one field")
    boosts = dict(boosts or {})
    metas = {f: load_index_meta(field_indexes[f]) for f in fields}
    n_set = {int(m["num_docs"]) for m in metas.values()}
    dps_set = {int(m["docs_per_shard"]) for m in metas.values()}
    if len(n_set) != 1 or len(dps_set) != 1:
        raise ValueError(
            "field indexes disagree on corpus shape (num_docs %s, "
            "docs_per_shard %s) — build every field from the same corpus"
            % (sorted(n_set), sorted(dps_set)))
    num_docs = n_set.pop()

    plans = process_queries(list(queries), text_cfg, lang=lang)
    qrows = [(p.qid, t, float(w))
             for p in plans for c in iter_term_clauses(p.clauses)
             for t, w in c.terms]
    empty = spark.createDataFrame(
        [], "query_id string, doc_id string, docid long, rank int, "
            "score double")
    if not qrows or num_docs == 0:
        return empty
    all_terms = sorted({t for _, t, _ in qrows})

    # per-field decoded postings → boosted length-normalized saturation
    # (idf joins in AFTER blending, so v0 here is boost·tf/denom)
    per_field = []
    for f in fields:
        m = metas[f]
        avgdl = float(m["avgdl"])
        if avgdl <= 0.0:
            continue  # field empty in the whole corpus: no contribution
        w_f = float(boosts.get(f, 1.0))
        pf = term_postings_frame(spark, field_indexes[f], all_terms)
        per_field.append(pf.select(
            "term", "docid", F.lit(f).alias("field"),
            ((F.lit(w_f) * F.col("tf"))
             / (F.col("tf") + F.lit(float(k1))
                * (F.lit(1.0 - b)
                   + F.lit(float(b)) * F.col("dlq") / F.lit(avgdl))))
            .alias("v0")))
    if not per_field:
        return empty
    u = per_field[0]
    for pf in per_field[1:]:
        u = u.unionByName(pf)

    # blended document frequency: df per (field, term), max across fields
    # (Lucene BlendedTermQuery's df adjustment; both aggs are combinable
    # and the final frame is ≤ |query terms| rows → broadcast)
    bdf = (u.groupBy("field", "term").agg(F.count("*").alias("df"))
           .groupBy("term").agg(F.max("df").alias("df")))
    idf = bdf.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(float(num_docs)) - F.col("df")
                            + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        .alias("idf"))

    # per-(term, doc) dismax across fields: fixed fold order = field asc
    tsc = (u.join(F.broadcast(idf), "term")
           .select("term", "docid", "field",
                   (F.col("v0") * F.col("idf")).alias("v")))
    tcomb = (tsc.groupBy("term", "docid")
             .agg(F.max("v").alias("mx"),
                  _fold_sum(F.array_sort(
                      F.collect_list(F.struct(F.col("field").alias("k"),
                                              F.col("v").alias("v")))))
                  .alias("sm")))
    tv = tcomb.select(
        "term", "docid",
        (F.col("mx") + F.lit(float(tie_breaker))
         * (F.col("sm") - F.col("mx"))).alias("tv"))

    # per-(query, doc) score: fixed fold order = term asc
    qdf = (spark.createDataFrame(qrows, "query_id string, term string, "
                                        "qw double")
           .groupBy("query_id", "term").agg(F.sum("qw").alias("qw")))
    comp = (tv.join(F.broadcast(qdf), "term")
            .select("query_id", "docid", "term",
                    (F.col("qw") * F.col("tv")).alias("v")))
    scored = (comp.groupBy("query_id", "docid")
              .agg(_fold_sum(F.array_sort(
                  F.collect_list(F.struct(F.col("term").alias("k"),
                                          F.col("v").alias("v")))))
                   .alias("score")))

    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("docid"))
    topk = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "docid", (F.col("rn") - 1).alias("rank"),
                    "score"))

    from .indexer import live_shard_pred
    f0 = fields[0]
    dps = int(metas[f0]["docs_per_shard"])
    hits = topk.withColumn("shard",
                           (F.col("docid") / F.lit(dps)).cast("int"))
    norms = (read_parquet(spark, f"{field_indexes[f0]}/norms")
             .where(live_shard_pred(metas[f0]))
             .select("shard", "docid", F.col("id").alias("doc_id")))
    return (norms.join(F.broadcast(hits), ["shard", "docid"])
            .select("query_id", "doc_id", "docid",
                    F.col("rank").cast("int").alias("rank"), "score")
            .orderBy("query_id", "rank"))


def search_dismax(spark: SparkSession, field_indexes: Mapping[str, str],
                  queries: Iterable[tuple[str, str]], *,
                  text_cfg=None, lang: str = "eng",
                  tie_breaker: float = 0.0,
                  boosts: Mapping[str, float] | None = None,
                  k1: float = 0.9, b: float = 0.4, k: int = 1000
                  ) -> DataFrame:
    """Disjunction-max fielded retrieval — Lucene ``DisjunctionMaxQuery``
    / Elasticsearch ``multi_match type=best_fields`` (ES's DEFAULT
    multi-field mode; public docs "multi-match query"), the complement of
    :func:`search_bm25f`: instead of merging per-field tfs BEFORE
    saturation, each field is scored as an independent full BM25 query
    (its OWN df/avgdl/length norms) and the per-document combine is

        score = max_f(v_f) + tie_breaker · (Σ_f v_f − max_f(v_f)),
        v_f   = boost_f · BM25_f(q, d)

    so a doc matching ALL query terms in one coherent field beats a doc
    scattering them across fields (best_fields' reason to exist), with
    ``tie_breaker`` ∈ [0, 1] re-admitting the other fields' evidence
    (tie_breaker=1 degrades to a plain per-field sum).

    Exactness: each per-field run uses ``matches_only`` — the FULL match
    set with exact scores, no depth cut — so the max-combine can never
    miss a doc that a single field ranked below its own top-k. The
    per-field scorer is the same Lucene-quantized kernel as ``search``
    (rank-identity oracle bm25_topk), so each v_f is bit-replayable.

    Scale shape (100 TB): the per-field match sets are exactly the rows a
    per-field disjunction already scores (no per-field depth cut can
    apply: a max-combine needs every field's hit to bound the max); their union
    feeds ONE combinable groupBy (partial aggregation map-side) keyed by
    (query, doc), then a k-bounded window. Float determinism: Σ_f folds
    over array_sort(struct(field, v)) — fixed field-name order — and max
    is order-free, so the combine is bit-stable and SQL-replayable.
    """
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    from .retrieve import search
    from ..config import RetrieveConfig

    fields = sorted(field_indexes)
    if not fields:
        raise ValueError("field_indexes must name at least one field")
    boosts = dict(boosts or {})
    metas = {f: load_index_meta(field_indexes[f]) for f in fields}
    n_set = {int(m["num_docs"]) for m in metas.values()}
    dps_set = {int(m["docs_per_shard"]) for m in metas.values()}
    if len(n_set) != 1 or len(dps_set) != 1:
        raise ValueError(
            "field indexes disagree on corpus shape (num_docs %s, "
            "docs_per_shard %s) — build every field from the same corpus"
            % (sorted(n_set), sorted(dps_set)))

    plans = process_queries(list(queries), text_cfg, lang=lang)
    empty = spark.createDataFrame(
        [], "query_id string, doc_id string, docid long, rank int, "
            "score double")
    if not plans or n_set.pop() == 0:
        return empty

    cfg = RetrieveConfig(name="bm25", k1=k1, b=b, k=k)
    parts = []
    for f in fields:
        r = search(spark, field_indexes[f], plans, cfg, matches_only=True)
        parts.append(r.select(
            "query_id", "doc_id", "docid", F.lit(f).alias("fld"),
            (F.col("score") * F.lit(float(boosts.get(f, 1.0)))).alias("v")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)

    comb = (u.groupBy("query_id", "doc_id", "docid")
            .agg(F.max("v").alias("mx"),
                 _fold_sum(F.array_sort(
                     F.collect_list(F.struct(F.col("fld").alias("k"),
                                             F.col("v").alias("v")))))
                 .alias("sm")))
    blended = comb.select(
        "query_id", "doc_id", "docid",
        (F.col("mx") + F.lit(float(tie_breaker))
         * (F.col("sm") - F.col("mx"))).alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("docid"))
    return (blended.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "doc_id", "docid",
                    (F.col("rn") - 1).cast("int").alias("rank"), "score")
            .orderBy("query_id", "rank"))
