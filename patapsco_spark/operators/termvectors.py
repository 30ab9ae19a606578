"""Per-document term vectors read back from the inverted index —
Lucene's ``TermVectors`` / ``IndexReader.getTermVector`` analogue (the
reference exposes documents only through its Lucene index,
/root/reference/patapsco/retrieve.py; term-level introspection of an
indexed doc is the standard debugging / MoreLikeThis / feature-extraction
surface next to it).

Spark-first shape: the index is term-major (postings sorted by term
within doc-sharded partitions), so a by-document read is the transposed
access pattern. Rather than storing a second doc-major copy (Lucene's
term-vectors files do exactly that, doubling index bytes), this reads the
term-major postings of ONLY the target docs' shards (partition pruning)
and decodes ONLY the varbyte blocks whose docid span can contain a target
(binary search of the targets against each term's block_last fence —
O(#terms·log #blocks) skip work, ~1/#blocks of the decode bytes for a
single doc). That trades a bounded distributed scan per lookup for zero
extra index bytes at 10^12 docs — the right side of the trade when
lookups are diagnostic, not the hot path.

Driver-bounded by design: the id→(shard, docid) resolution and the
distinct-terms set (for the df/cf join) are collected — both are
O(|ids| · terms-per-doc), the result's own size, never corpus-sized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indexer import live_shard_pred, read_term_stats
from .retrieve import _TermHandle, load_index_meta
from ..plans.pqread import read_parquet

_VEC_SCHEMA = "term string, docid long, tf int"
_OUT_SCHEMA = ("doc_id string, term string, tf int, dl int, "
               "df long, cf long")


def doc_term_vectors(spark: SparkSession, index_path: str,
                     ids: list[str]) -> DataFrame:
    """(doc_id, term, tf, dl, df, cf) for every live indexed term of each
    requested external id: tf/dl from the doc itself, df/cf the corpus
    statistics a scorer would see (aggregated across streaming segments).
    Unknown and tombstoned ids return no rows (same visibility as
    search)."""
    from .deletes import tombstone_arrays

    meta = load_index_meta(index_path)
    docs_per_shard = int(meta["docs_per_shard"])
    num_shards = int(meta["num_shards"])
    shard_base = int(meta.get("shard_base", 0))
    stats_base = int(meta.get("stats_base", shard_base))
    live_pred = live_shard_pred(meta)
    ids = sorted({str(i) for i in ids})
    empty = spark.createDataFrame([], _OUT_SCHEMA)
    if not ids or int(meta["num_docs"]) == 0:
        return empty

    norms = (read_parquet(spark, f"{index_path}/norms")
             .where(F.col("id").isin(ids) & live_pred)
             .select("shard", "docid", "id", "dl").collect())
    if not norms:
        return empty
    deleted = tombstone_arrays(spark, index_path, meta)
    targets: dict[int, list[int]] = {}
    id_of: list[tuple[int, str, int]] = []
    for r in norms:
        sh, g = int(r["shard"]), int(r["docid"])
        dead = deleted.get(sh) if deleted else None
        if dead is not None and len(dead) and (g - sh * docs_per_shard) in dead:
            continue
        targets.setdefault(sh, []).append(g)
        id_of.append((g, r["id"], int(r["dl"])))
    if not targets:
        return empty
    tgt_by_shard = {sh: np.array(sorted(g), dtype=np.int64)
                    for sh, g in targets.items()}

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = pd.DataFrame({"term": pd.Series([], dtype=object),
                            "docid": pd.Series([], dtype=np.int64),
                            "tf": pd.Series([], dtype=np.int32)})
        tg = tgt_by_shard.get(int(key[0]))
        if tg is None or pdf.empty:
            return out
        base = int(key[0]) * docs_per_shard
        terms, docids, tfs = [], [], []
        for row in pdf.itertuples(index=False):
            h = _TermHandle.from_row(row, base)
            bl = h.block_last
            # block_last is a global-docid fence per block: the first block
            # whose last >= target is the only one that can hold it
            need = np.unique(np.searchsorted(bl, tg, side="left"))
            need = need[need < len(bl)]
            if not len(need):
                continue
            d, t = h.decode(need)
            keep = np.isin(d, tg)
            if keep.any():
                terms.append(np.full(int(keep.sum()), row.term,
                                     dtype=object))
                docids.append(d[keep])
                tfs.append(t[keep].astype(np.int32))
        if not terms:
            return out
        return pd.DataFrame({"term": np.concatenate(terms),
                             "docid": np.concatenate(docids),
                             "tf": np.concatenate(tfs)})

    posts = (read_parquet(spark, f"{index_path}/postings")
             .where(F.col("shard").isin(list(tgt_by_shard)) & live_pred))
    vecs = (posts.groupBy("shard").applyInPandas(kernel, schema=_VEC_SCHEMA)
            .toPandas())
    if vecs.empty:
        return empty
    vdf = spark.createDataFrame(vecs, _VEC_SCHEMA)
    idmap = spark.createDataFrame(id_of, "docid long, doc_id string, dl int")
    stats = (read_term_stats(spark, index_path, num_shards=num_shards,
                             shard_base=stats_base)
             .where(F.col("term").isin(sorted(set(vecs["term"])))))
    return (vdf.join(F.broadcast(idmap), "docid")
            .join(F.broadcast(stats), "term")
            .select("doc_id", "term", "tf", "dl",
                    F.col("df").cast("long").alias("df"),
                    F.col("cf").cast("long").alias("cf"))
            .orderBy("doc_id", "term"))
