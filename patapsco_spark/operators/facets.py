"""Distributed facet counts — the Lucene facets-module / SortedSetDocValues
analogue the reference never needed (its result sets are top-k only;
reference surface ends at retrieve.py's run output). A web-scale engine
does: "how many matching pages per site / language / crawl" over the FULL
matching set of a query, not its top-k.

Two pieces, mirroring Lucene's build-time doc values + query-time counting:

- ``build_facet_sidecar``: dictionary-encode one document attribute into a
  per-shard int32 code blob, docid-indexed from the shard base — the exact
  ``norms_packed`` layout (indexer.py) that already gives the query path
  O(shard-blob) reads instead of corpus scans. Build cost is one shuffle of
  the id↔attribute join — the same one-time cost class as building Lucene
  doc values. The code dictionary is collected and must stay bounded
  (``max_cardinality``, loud raise): facets are for low-cardinality
  attributes; a 10^8-cardinality "facet" is a join, not a facet.

- ``facet_counts``: one cogrouped kernel pass (postings × facet blobs, the
  same cogroup shape as search) computes each query's candidate mask per
  shard and bincounts the facet codes under it. Per (query, shard) only
  O(#distinct codes) rows cross the Arrow boundary — never per-doc output —
  and the JVM side folds shards with one map-side-combinable sum.

Matching semantics are the SEARCH semantics (same clause payload:
MUST/SHOULD/MUST_NOT, nested groups, weighted/PSQ terms, min_should_match,
tombstone masking; wildcard/fuzzy/range/regexp expanded by the same
rewrite). Scores are never computed — faceting needs the match set only —
so phrases count bag-of-words exactly like a positions-less search scores
them. The mask evaluator here is the matching SUBSET of the scorer kernel's
``eval_clauses`` (retrieve.py) and must stay in lockstep with its boolean
semantics; scoring branches are deliberately absent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import RetrieveConfig, TextConfig
from ..plans import manifest as mf
from .indexer import pack_shard_blob
from .queryparse import MUST, MUST_NOT, QueryPlan, iter_term_clauses
from .retrieve import _TermHandle, load_index_meta, process_queries
from ..plans.pqread import read_parquet

_MISSING = -1  # code for docs without an attribute row — never counted


def build_facet_sidecar(spark: SparkSession, index_path: str,
                        keys: DataFrame, name: str,
                        id_col: str = "id", key_col: str = "key",
                        max_cardinality: int = 1_000_000) -> DataFrame:
    """Attach a facet dimension to an index: ``keys`` maps external doc id →
    attribute value (site, lang, crawl, source …). Writes
    ``facets/<name>/dict`` (code ↔ key, code order = key asc, deterministic)
    and ``facets/<name>/packed`` (one int32 blob row per shard). Returns the
    dict frame. Docs absent from ``keys`` (or with a NULL value) are
    uncounted, like Lucene docs without the doc value."""
    meta = load_index_meta(index_path)
    docs_per_shard = int(meta["docs_per_shard"])
    kdf = keys.select(F.col(id_col).cast("string").alias("id"),
                      F.col(key_col).cast("string").alias("key"))
    # the dictionary collect is the cardinality gate: limit(cap+1) bounds
    # the driver cost of the failure path, like the wildcard expansion cap
    vals = [r["key"] for r in kdf.select("key").where(F.col("key").isNotNull())
            .distinct().orderBy("key").limit(max_cardinality + 1).collect()]
    if len(vals) > max_cardinality:
        raise ValueError(
            f"facet '{name}' has more than {max_cardinality} distinct "
            "values; a facet dictionary that size belongs in a join, not a "
            "per-shard code blob (raise max_cardinality to override)")
    dict_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "code int, key string")

    # one shuffle of the id↔key join (build-time, doc-values cost class);
    # the dictionary side broadcasts
    norms = (read_parquet(spark, f"{index_path}/norms")
             .select("shard", "docid", "id"))
    coded = (norms.join(kdf, "id", "left")
             .join(F.broadcast(dict_df), "key", "left")
             .select("shard", "docid",
                     F.coalesce("code", F.lit(_MISSING)).alias("code")))
    # docs the keys frame misses stay _MISSING
    packed = coded.groupBy("shard").applyInPandas(
        pack_shard_blob(docs_per_shard, "code", np.int32, _MISSING),
        schema="shard int, base long, n long, codes binary")
    root = f"{index_path}/facets/{name}"
    (packed.write.mode("overwrite").partitionBy("shard")
           .parquet(f"{root}/packed"))
    dict_df.write.mode("overwrite").parquet(f"{root}/dict")
    mf.write_manifest(root, f"facet:{name}",
                      {"cardinality": len(vals), "id_col": id_col,
                       "key_col": key_col})
    return dict_df


def _eval_match(clauses, size, positions, mm=0):
    """Candidate mask for one boolean level — the matching subset of
    retrieve._make_shard_scorer's eval_clauses (same MUST/SHOULD/MUST_NOT
    + nested groups + top-level minimumNumberShouldMatch semantics, no
    scores). ``positions(term)`` returns the term's LOCAL docid array for
    the shard. Shared by the facet-count and doc-values-sort kernels."""
    should_cnt = np.zeros(size, dtype=np.int32) if mm > 0 else None
    matched_any = np.zeros(size, dtype=bool)
    must_ok = np.ones(size, dtype=bool)
    forbidden = np.zeros(size, dtype=bool)
    for occur, _boost, terms, kids in clauses:
        if kids:
            mask = _eval_match(kids, size, positions)
        else:
            mask = np.zeros(size, dtype=bool)
            for term, _p in terms:
                mask[positions(term)] = True
        if occur == MUST_NOT:
            forbidden |= mask
            continue
        if occur == MUST:
            must_ok &= mask
        elif should_cnt is not None:
            should_cnt[mask] += 1
        matched_any |= mask
    cand = matched_any & must_ok & ~forbidden
    if should_cnt is not None:
        cand &= should_cnt >= mm
    return cand


def _term_positions_fn(posts_pdf: pd.DataFrame, base: int):
    """Lazy whole-list decoder for a shard's (already In-filtered) postings
    frame: term → LOCAL docid array, cached. Shared kernel plumbing."""
    handles = {row.term: _TermHandle.from_row(row, base)
               for row in posts_pdf.itertuples(index=False)}
    decoded: dict[str, np.ndarray] = {}

    def positions(term):
        got = decoded.get(term)
        if got is None:
            h = handles.get(term)
            if h is None:
                got = decoded[term] = np.empty(0, dtype=np.int64)
            else:
                d, _t = h.decode(np.arange(len(h.block_last)))
                got = decoded[term] = d - base
        return got

    return positions


def _dv_bounds(dv_filter):
    """Validate a (name, lo, hi) dv_filter → (name, (lo, hi)) floats."""
    dv_name, dv_lo, dv_hi = dv_filter
    if dv_lo is None and dv_hi is None:
        raise ValueError("dv_filter needs at least one bound")
    return dv_name, (None if dv_lo is None else float(dv_lo),
                     None if dv_hi is None else float(dv_hi))


def _join_dv(spark: SparkSession, index_path: str, packed: DataFrame,
             dv_name: str, live_pred) -> DataFrame:
    """LEFT-join a value sidecar's blobs as a ``dv`` column onto a packed
    per-shard frame — left so a shard missing its blob reaches the
    kernel's loud refusal instead of silently dropping out."""
    dvp = (read_parquet(spark, f"{index_path}/doc_values/{dv_name}/packed")
           .where(live_pred)
           .select("shard", F.col("values").alias("dv")))
    return packed.join(dvp, "shard", "left")


def _dv_mask(packed_pdf: pd.DataFrame, dv_range, shard: int):
    """Kernel-side doc-values range mask: True where the value passes
    [lo, hi]; NaN (missing) never passes. Raises on a missing blob."""
    if dv_range is None:
        return None
    if "dv" not in packed_pdf.columns or packed_pdf["dv"].iloc[0] is None:
        raise ValueError(
            f"shard {shard} is live but has no doc-values blob; rebuild "
            "the value sidecar after appends/compaction")
    dvals = np.frombuffer(bytes(packed_pdf["dv"].iloc[0]),
                          dtype=np.float64)
    lo, hi = dv_range
    with np.errstate(invalid="ignore"):
        ok = np.ones(len(dvals), dtype=bool)
        if lo is not None:
            ok &= dvals >= lo
        if hi is not None:
            ok &= dvals <= hi
        ok &= ~np.isnan(dvals)
    return ok


def _apply_dv_mask(cand: np.ndarray, dv_ok) -> None:
    """cand &= dv_ok in place, docs beyond the blob treated as missing."""
    if dv_ok is None:
        return
    n = min(len(cand), len(dv_ok))
    cand[:n] &= dv_ok[:n]
    cand[n:] = False


def _make_facet_kernel(plans_payload, *, docs_per_shard, deleted,
                       min_should_match, dv_range=None):
    """Per-shard matcher: candidate mask per query (search semantics, no
    scores), bincount of facet codes under it. Output rows are (query,
    code, count) — O(#codes), never O(#docs). ``dv_range`` (lo, hi)
    additionally masks candidates by a doc-values blob joined onto the
    packed side as ``dv`` — ES's filtered-aggregation (bool.filter +
    terms agg) execution shape; a missing value never passes."""

    def kernel(key, posts_pdf: pd.DataFrame,
               packed_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": pd.Series(dtype=object),
                              "code": pd.Series(dtype=np.int32),
                              "cnt": pd.Series(dtype=np.int64)})
        if packed_pdf.empty:
            if not posts_pdf.empty:
                # a live shard with postings but no facet blob would be
                # silently uncounted (e.g. a streaming append AFTER the
                # sidecar build) — refuse loudly, like compaction's
                # invariant checks
                raise ValueError(
                    f"shard {int(key[0])} has postings but no facet blob; "
                    "rebuild the facet sidecar after appends/compaction")
            return empty
        shard = int(key[0])
        base = shard * docs_per_shard
        codes = np.frombuffer(bytes(packed_pdf["codes"].iloc[0]),
                              dtype=np.int32)
        size = len(codes)
        dead = None if deleted is None else deleted.get(shard)
        positions = _term_positions_fn(posts_pdf, base)

        dv_ok = _dv_mask(packed_pdf, dv_range, shard)

        out_q, out_c, out_n = [], [], []
        for qid, clauses in plans_payload:
            cand = _eval_match(clauses, size, positions,
                               mm=min_should_match)
            if dead is not None and len(dead):
                cand[dead[dead < size]] = False
            _apply_dv_mask(cand, dv_ok)
            hit = codes[cand]
            hit = hit[hit >= 0]
            if not len(hit):
                continue
            counts = np.bincount(hit)
            nz = np.flatnonzero(counts)
            out_q.append(np.full(len(nz), qid, dtype=object))
            out_c.append(nz.astype(np.int32))
            out_n.append(counts[nz].astype(np.int64))
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "code": np.concatenate(out_c),
                             "cnt": np.concatenate(out_n)})

    return kernel


def facet_counts(spark: SparkSession, index_path: str,
                 plans: list[QueryPlan], name: str,
                 cfg: RetrieveConfig | None = None,
                 dv_filter: tuple[str, float | None, float | None]
                 | None = None) -> DataFrame:
    """Counts of matching docs per facet value, per query — over the FULL
    matching set (Lucene FacetsCollector, not a top-k sample). Returns
    (query_id, key, count), count desc / key asc, keys with zero matches
    omitted. ``dv_filter`` = (value-sidecar name, lo, hi) restricts the
    counted set by a numeric doc-values range first — ES's filtered
    aggregation (bool.filter + terms agg), executed as a second blob mask
    inside the same kernel pass (no join, no extra scan of the corpus)."""
    from .deletes import tombstone_arrays
    from .retrieve import _expand_multiterm_plans

    cfg = cfg or RetrieveConfig()
    meta = load_index_meta(index_path)
    num_shards = int(meta["num_shards"])
    docs_per_shard = int(meta["docs_per_shard"])
    stats_base = int(meta.get("stats_base", meta.get("shard_base", 0)))
    from .indexer import live_shard_pred
    live_pred = live_shard_pred(meta)

    if any(getattr(c, "first", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        # the facet kernel matches bag-of-words; counting a span-first
        # clause as "term anywhere" would be the silent-wrong-answer class
        raise ValueError(
            "facet_counts does not support span_first clauses: join the "
            "span-first match_set against the facet keys instead")
    if any(c.prefix or c.fuzzy is not None
           or getattr(c, "trange", None) is not None
           or getattr(c, "wild", None) is not None
           or getattr(c, "regex", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        plans = _expand_multiterm_plans(spark, index_path, plans, num_shards,
                                        shard_base=stats_base)

    all_terms = sorted({t for p in plans
                        for c in iter_term_clauses(p.clauses)
                        for t, _ in c.terms if not t.startswith("\x01")})
    if not all_terms:
        return spark.createDataFrame([], "query_id string, key string, count long")

    posts = (read_parquet(spark, f"{index_path}/postings")
             .where(F.col("term").isin(all_terms) & live_pred))
    packed = (read_parquet(spark, f"{index_path}/facets/{name}/packed")
              .where(live_pred))
    dict_df = read_parquet(spark, f"{index_path}/facets/{name}/dict")
    dv_range = None
    if dv_filter is not None:
        dv_name, dv_range = _dv_bounds(dv_filter)
        packed = _join_dv(spark, index_path, packed, dv_name, live_pred)

    def _clause_payload(c):
        return (c.occur, float(c.boost), list(c.terms),
                [_clause_payload(k) for k in (c.group or [])])

    plans_payload = [(p.qid, [_clause_payload(c) for c in p.clauses])
                     for p in plans]
    kernel = _make_facet_kernel(
        plans_payload, docs_per_shard=docs_per_shard,
        deleted=tombstone_arrays(spark, index_path, meta),
        min_should_match=cfg.min_should_match, dv_range=dv_range)
    local = (posts.groupBy("shard").cogroup(packed.groupBy("shard"))
             .applyInPandas(kernel,
                            schema="query_id string, code int, cnt long"))
    return (local.groupBy("query_id", "code").agg(F.sum("cnt").alias("count"))
            .join(F.broadcast(dict_df), "code")
            .select("query_id", "key", "count")
            .orderBy("query_id", F.desc("count"), F.asc("key")))


def facet_counts_texts(spark: SparkSession, index_path: str,
                       queries: list[tuple[str, str]], name: str,
                       cfg: RetrieveConfig | None = None,
                       text_cfg: TextConfig | None = None,
                       lang: str = "eng", mode: str = "plain",
                       dv_filter: tuple | None = None) -> DataFrame:
    plans = process_queries(queries, text_cfg or TextConfig(), lang=lang,
                            mode=mode)
    return facet_counts(spark, index_path, plans, name, cfg,
                        dv_filter=dv_filter)


def build_value_sidecar(spark: SparkSession, index_path: str,
                        values: DataFrame, name: str,
                        id_col: str = "id", value_col: str = "value") -> None:
    """Attach a NUMERIC doc-values dimension to an index — Lucene's
    NumericDocValues analogue: ``values`` maps external doc id → a number
    (timestamp, length, pagerank, price). Writes
    ``doc_values/<name>/packed``: one float64 blob row per shard,
    docid-indexed from the shard base (the norms_packed layout), NaN for
    docs absent from ``values`` or with a NULL value. Build cost is one
    shuffle of the id↔value join — the doc-values build cost class; query
    time reads O(shard-blob) bytes, never a corpus join."""
    meta = load_index_meta(index_path)
    docs_per_shard = int(meta["docs_per_shard"])
    vdf = values.select(F.col(id_col).cast("string").alias("id"),
                        F.col(value_col).cast("double").alias("value"))
    norms = (read_parquet(spark, f"{index_path}/norms")
             .select("shard", "docid", "id"))
    packed = (norms.join(vdf, "id", "left")
              .select("shard", "docid", "value")
              .groupBy("shard")
              .applyInPandas(pack_shard_blob(docs_per_shard, "value",
                                             np.float64, np.nan, "values"),
                             schema="shard int, base long, n long, "
                                    "values binary"))
    root = f"{index_path}/doc_values/{name}"
    (packed.write.mode("overwrite").partitionBy("shard")
           .parquet(f"{root}/packed"))
    mf.write_manifest(root, f"doc_values:{name}",
                      {"id_col": id_col, "value_col": value_col})


def _make_sort_kernel(plans_payload, *, docs_per_shard, deleted,
                      min_should_match, k, ascending, dv_range=None):
    """Per-shard matcher + doc-values top-k: candidate mask per query
    (search semantics, no scores), then the k best candidates by (value,
    docid asc) from the shard's float64 blob. Output rows are
    O(k · #queries) per shard — never the match set."""

    def kernel(key, posts_pdf: pd.DataFrame,
               packed_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": pd.Series(dtype=object),
                              "docid": pd.Series(dtype=np.int64),
                              "value": pd.Series(dtype=np.float64)})
        if packed_pdf.empty:
            if not posts_pdf.empty:
                raise ValueError(
                    f"shard {int(key[0])} has postings but no doc-values "
                    "blob; rebuild the value sidecar after "
                    "appends/compaction")
            return empty
        shard = int(key[0])
        base = shard * docs_per_shard
        vals = np.frombuffer(bytes(packed_pdf["values"].iloc[0]),
                             dtype=np.float64)
        size = len(vals)
        dead = None if deleted is None else deleted.get(shard)
        positions = _term_positions_fn(posts_pdf, base)
        dv_ok = _dv_mask(packed_pdf, dv_range, shard)

        out_q, out_d, out_v = [], [], []
        for qid, clauses in plans_payload:
            cand = _eval_match(clauses, size, positions,
                               mm=min_should_match)
            if dead is not None and len(dead):
                cand[dead[dead < size]] = False
            _apply_dv_mask(cand, dv_ok)
            pos = np.flatnonzero(cand)
            v = vals[pos]
            keep = ~np.isnan(v)   # missing values are excluded, like docs
            pos, v = pos[keep], v[keep]  # without the Lucene doc value
            if not len(pos):
                continue
            order = np.lexsort((pos, v if ascending else -v))[:k]
            pos, v = pos[order], v[order]
            out_q.append(np.full(len(pos), qid, dtype=object))
            out_d.append(pos.astype(np.int64) + base)
            out_v.append(v)
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "docid": np.concatenate(out_d),
                             "value": np.concatenate(out_v)})

    return kernel


def _make_hist_kernel(plans_payload, *, docs_per_shard, deleted,
                      min_should_match, interval, dv_range=None):
    """Per-shard matcher + doc-values histogram: candidate mask per query,
    then per-bucket counts of floor(value / interval) · interval under it.
    Output rows are O(#buckets) per (query, shard) — never per-doc."""

    def kernel(key, posts_pdf: pd.DataFrame,
               packed_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": pd.Series(dtype=object),
                              "bucket": pd.Series(dtype=np.float64),
                              "cnt": pd.Series(dtype=np.int64)})
        if packed_pdf.empty:
            if not posts_pdf.empty:
                raise ValueError(
                    f"shard {int(key[0])} has postings but no doc-values "
                    "blob; rebuild the value sidecar after "
                    "appends/compaction")
            return empty
        shard = int(key[0])
        base = shard * docs_per_shard
        vals = np.frombuffer(bytes(packed_pdf["values"].iloc[0]),
                             dtype=np.float64)
        size = len(vals)
        dead = None if deleted is None else deleted.get(shard)
        positions = _term_positions_fn(posts_pdf, base)
        dv_ok = _dv_mask(packed_pdf, dv_range, shard)

        out_q, out_b, out_n = [], [], []
        for qid, clauses in plans_payload:
            cand = _eval_match(clauses, size, positions,
                               mm=min_should_match)
            if dead is not None and len(dead):
                cand[dead[dead < size]] = False
            _apply_dv_mask(cand, dv_ok)
            v = vals[cand]
            v = v[~np.isnan(v)]   # missing values are unbucketed, like
            if not len(v):        # ES docs without the field
                continue
            b = np.floor(v / interval) * interval
            uniq, counts = np.unique(b, return_counts=True)
            out_q.append(np.full(len(uniq), qid, dtype=object))
            out_b.append(uniq)
            out_n.append(counts.astype(np.int64))
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "bucket": np.concatenate(out_b),
                             "cnt": np.concatenate(out_n)})

    return kernel


def value_histogram(spark: SparkSession, index_path: str,
                    plans: list[QueryPlan], name: str, interval: float,
                    cfg: RetrieveConfig | None = None,
                    dv_filter: tuple | None = None) -> DataFrame:
    """ES ``histogram`` aggregation executed on doc values — the scale
    path of ``aggs.field_histogram``: fixed-interval buckets keyed at
    floor(v / interval) · interval over the FULL match set of each query,
    counted inside the per-shard kernel from the packed float64 blob, so
    only O(#buckets) rows per (query, shard) cross Arrow and one
    map-side-combinable sum folds shards. Same matching semantics as
    search (shared ``_eval_match``); docs without a value are unbucketed
    (ES missing-field behavior); empty buckets omitted (min_doc_count=1).
    Returns (query_id, bucket, count) ordered by (query, bucket)."""
    from .deletes import tombstone_arrays
    from .retrieve import _expand_multiterm_plans

    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval}")
    cfg = cfg or RetrieveConfig()
    meta = load_index_meta(index_path)
    num_shards = int(meta["num_shards"])
    docs_per_shard = int(meta["docs_per_shard"])
    stats_base = int(meta.get("stats_base", meta.get("shard_base", 0)))
    from .indexer import live_shard_pred
    live_pred = live_shard_pred(meta)

    if any(getattr(c, "first", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        raise ValueError(
            "value_histogram does not support span_first clauses: use "
            "the span-first match_set with aggs.field_histogram instead")
    if any(c.prefix or c.fuzzy is not None
           or getattr(c, "trange", None) is not None
           or getattr(c, "wild", None) is not None
           or getattr(c, "regex", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        plans = _expand_multiterm_plans(spark, index_path, plans, num_shards,
                                        shard_base=stats_base)

    all_terms = sorted({t for p in plans
                        for c in iter_term_clauses(p.clauses)
                        for t, _ in c.terms if not t.startswith("\x01")})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id string, bucket double, count long")

    posts = (read_parquet(spark, f"{index_path}/postings")
             .where(F.col("term").isin(all_terms) & live_pred))
    packed = (read_parquet(spark, f"{index_path}/doc_values/{name}/packed")
              .where(live_pred))
    dv_range = None
    if dv_filter is not None:
        dv_name, dv_range = _dv_bounds(dv_filter)
        packed = _join_dv(spark, index_path, packed, dv_name, live_pred)

    def _clause_payload(c):
        return (c.occur, float(c.boost), list(c.terms),
                [_clause_payload(g) for g in (c.group or [])])

    plans_payload = [(p.qid, [_clause_payload(c) for c in p.clauses])
                     for p in plans]
    kernel = _make_hist_kernel(
        plans_payload, docs_per_shard=docs_per_shard,
        deleted=tombstone_arrays(spark, index_path, meta),
        min_should_match=cfg.min_should_match, interval=float(interval),
        dv_range=dv_range)
    local = (posts.groupBy("shard").cogroup(packed.groupBy("shard"))
             .applyInPandas(kernel,
                            schema="query_id string, bucket double, "
                                   "cnt long"))
    return (local.groupBy("query_id", "bucket")
            .agg(F.sum("cnt").alias("count"))
            .orderBy("query_id", "bucket"))


def sort_values_topk(spark: SparkSession, index_path: str,
                     plans: list[QueryPlan], name: str, k: int = 10,
                     ascending: bool = False,
                     cfg: RetrieveConfig | None = None,
                     dv_filter: tuple | None = None) -> DataFrame:
    """Top-k of a query's match set ordered by a doc-values field — the
    scale path of ``aggs.sort_by_field`` (Lucene Sort over NumericDocValues
    / ES ``sort`` on doc values). Same matching semantics as search (the
    shared ``_eval_match``), but the FULL match set never materializes:
    each shard's kernel emits only its k best by (value, docid asc) —
    exact, because the global top-k is contained in the union of per-shard
    top-ks — so ≤ k·|queries| rows per shard cross Arrow and ONE k-bounded
    window merges them. Docs without a value are excluded (the facet
    sidecar convention: like Lucene docs missing the doc value). Returns
    (query_id, doc_id, rank, value), rank 0-based, ties by docid asc —
    which is external-id (string) order, the engine's stable tie-break."""
    from .deletes import tombstone_arrays
    from .retrieve import _expand_multiterm_plans

    cfg = cfg or RetrieveConfig()
    meta = load_index_meta(index_path)
    num_shards = int(meta["num_shards"])
    docs_per_shard = int(meta["docs_per_shard"])
    stats_base = int(meta.get("stats_base", meta.get("shard_base", 0)))
    from .indexer import live_shard_pred
    live_pred = live_shard_pred(meta)

    if any(getattr(c, "first", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        raise ValueError(
            "sort_values_topk does not support span_first clauses: join "
            "the span-first match_set against a fields table instead")
    if any(c.prefix or c.fuzzy is not None
           or getattr(c, "trange", None) is not None
           or getattr(c, "wild", None) is not None
           or getattr(c, "regex", None) is not None
           for p in plans for c in iter_term_clauses(p.clauses)):
        plans = _expand_multiterm_plans(spark, index_path, plans, num_shards,
                                        shard_base=stats_base)

    all_terms = sorted({t for p in plans
                        for c in iter_term_clauses(p.clauses)
                        for t, _ in c.terms if not t.startswith("\x01")})
    out_schema = ("query_id string, doc_id string, rank int, "
                  "value double")
    if not all_terms:
        return spark.createDataFrame([], out_schema)

    posts = (read_parquet(spark, f"{index_path}/postings")
             .where(F.col("term").isin(all_terms) & live_pred))
    packed = (read_parquet(spark, f"{index_path}/doc_values/{name}/packed")
              .where(live_pred))
    dv_range = None
    if dv_filter is not None:
        dv_name, dv_range = _dv_bounds(dv_filter)
        packed = _join_dv(spark, index_path, packed, dv_name, live_pred)

    def _clause_payload(c):
        return (c.occur, float(c.boost), list(c.terms),
                [_clause_payload(g) for g in (c.group or [])])

    plans_payload = [(p.qid, [_clause_payload(c) for c in p.clauses])
                     for p in plans]
    kernel = _make_sort_kernel(
        plans_payload, docs_per_shard=docs_per_shard,
        deleted=tombstone_arrays(spark, index_path, meta),
        min_should_match=cfg.min_should_match, k=k, ascending=ascending,
        dv_range=dv_range)
    local = (posts.groupBy("shard").cogroup(packed.groupBy("shard"))
             .applyInPandas(kernel,
                            schema="query_id string, docid long, "
                                   "value double"))
    from pyspark.sql import Window
    key = F.asc("value") if ascending else F.desc("value")
    w = Window.partitionBy("query_id").orderBy(key, F.asc("docid"))
    topk = (local.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k))
    # k-bounded hits broadcast against the partition-pruned norms table
    hits = topk.withColumn("shard",
                           (F.col("docid") / F.lit(docs_per_shard))
                           .cast("int"))
    norms = (read_parquet(spark, f"{index_path}/norms")
             .where(live_pred)
             .select("shard", "docid", F.col("id").alias("doc_id")))
    return (norms.join(F.broadcast(hits), ["shard", "docid"])
            .select("query_id", "doc_id",
                    (F.col("rn") - 1).cast("int").alias("rank"), "value")
            .orderBy("query_id", "rank"))
