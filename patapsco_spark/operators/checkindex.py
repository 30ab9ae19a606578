"""Distributed index integrity checker — the Lucene CheckIndex analogue.

The reference trusts Lucene's CheckIndex to validate a built index before
serving it; this engine's index is plain Parquet plus a manifest, so the
invariants are checkable as a battery of columnar aggregations — which is
exactly what you want at 100 TB: every check below is a scan-shaped agg or
semi-join over one or two of the index tables (no collects proportional to
the corpus, no driver-side loops), and the expensive blob-decode
verification is opt-in behind ``deep=True`` like CheckIndex's own
``-slow`` mode.

Checked invariants (violations carry a bounded sample of offenders):

- ``manifest``      — present, stage "index", postings_format ≥ 4, the
                      stats/window keys the readers rely on.
- ``norms_dense``   — per live shard: docids start at shard·dps, are
                      dense (max−min+1 = count) and duplicate-free. Docid
                      density is what makes compaction's affine remap and
                      the packed-norms positional decode sound.
- ``global_stats``  — manifest num_docs/total_tf/avgdl equal the norms
                      table's live aggregate (avgdl under Lucene's float32
                      truncation).
- ``norms_packed``  — exactly one blob row per live shard, base at
                      shard·dps, n and byte length equal to the shard's
                      norms count.
- ``term_stats``    — per-term df/cf aggregated over the additive seg=
                      segments equal the live postings rows' df/cf sums
                      (the scorer's idf inputs are only as sound as this).
- ``live_ids``      — external ids unique among LIVE docs (tombstones
                      excluded — an upsert legitimately leaves the old
                      copy's row until compaction).
- ``tombstones``    — every tombstone resolves to an existing live-shard
                      norms row (a dangling tombstone would silently mask
                      nothing).
- ``positions``     — sidecar rows (when enabled) reference only
                      (shard, docid) pairs present in norms.
- ``postings_deep`` — (deep=True) every postings blob decodes to exactly
                      df strictly-increasing docids inside the shard's
                      docid range with tf sums equal to cf.

Returns {check: {"ok": bool, ...detail}} plus an overall "ok"; with
``raise_on_error=True`` raises CorruptIndexError naming the failed checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import manifest as mf
from ..plans.pqread import read_parquet

SAMPLE = 5  # offenders listed per failed check


class CorruptIndexError(RuntimeError):
    pass


def _sample(df: DataFrame, cols: list[str]) -> list:
    return [tuple(r) for r in df.select(*cols).limit(SAMPLE).collect()]


def check_index(spark: SparkSession, index_path: str, deep: bool = False,
                raise_on_error: bool = False) -> dict:
    from .deletes import read_tombstones
    from .indexer import float32_avgdl, live_shard_pred, read_term_stats

    report: dict = {}

    root = mf.read_manifest(index_path)
    if root is None or root.get("stage") != "index":
        report["manifest"] = {"ok": False, "error": "missing or not an index"}
        report["ok"] = False
        if raise_on_error:
            raise CorruptIndexError(f"no index manifest at {index_path}")
        return report
    meta = root["config"]
    missing = [k for k in ("num_docs", "total_tf", "avgdl", "docs_per_shard",
                           "num_shards") if k not in meta]
    fmt_ok = int(meta.get("postings_format", 0)) >= 4
    report["manifest"] = {"ok": not missing and fmt_ok,
                          "missing_keys": missing,
                          "postings_format": meta.get("postings_format")}
    if not report["manifest"]["ok"]:
        # the remaining checks all consume the missing keys — stop here
        # with a well-formed report instead of an uncaught KeyError
        report["ok"] = False
        if raise_on_error:
            raise CorruptIndexError(
                f"index at {index_path} failed checks: ['manifest'] "
                f"(missing keys {missing}, postings_format="
                f"{meta.get('postings_format')})")
        return report
    dps = int(meta["docs_per_shard"])
    live = live_shard_pred(meta)

    norms = read_parquet(spark, f"{index_path}/norms").where(live)

    # ---- norms_dense + global_stats in ONE pass over norms --------------
    # (cached: one row per shard feeds three downstream actions — without
    # the persist each would re-aggregate the full norms table)
    per = (norms.groupBy("shard")
           .agg(F.count("*").alias("n"), F.min("docid").alias("mn"),
                F.max("docid").alias("mx"),
                F.countDistinct("docid").alias("nd"),
                F.sum("dl").alias("tf"))
           .persist())
    bad_dense = per.where((F.col("mn") != F.col("shard") * dps)
                          | (F.col("mx") - F.col("mn") + 1 != F.col("n"))
                          | (F.col("nd") != F.col("n")))
    bad_rows = _sample(bad_dense, ["shard", "n", "mn", "mx", "nd"])
    report["norms_dense"] = {"ok": not bad_rows, "bad_shards": bad_rows}

    tot = per.agg(F.sum("n").alias("docs"), F.sum("tf").alias("tf")).first()
    got_docs, got_tf = int(tot["docs"] or 0), int(tot["tf"] or 0)
    want_avgdl = float32_avgdl(got_tf, got_docs)
    report["global_stats"] = {
        "ok": (got_docs == int(meta["num_docs"])
               and got_tf == int(meta["total_tf"])
               and abs(want_avgdl - float(meta["avgdl"])) < 1e-12),
        "norms": {"num_docs": got_docs, "total_tf": got_tf,
                  "avgdl": want_avgdl},
        "manifest": {"num_docs": int(meta["num_docs"]),
                     "total_tf": int(meta["total_tf"]),
                     "avgdl": float(meta["avgdl"])}}

    # ---- norms_packed ----------------------------------------------------
    packed = (read_parquet(spark, f"{index_path}/norms_packed").where(live)
              .groupBy("shard")
              .agg(F.count("*").alias("rows"), F.first("base").alias("base"),
                   F.first("n").alias("pn"),
                   F.first(F.length("codes")).alias("blen")))
    pj = per.join(packed, "shard", "full")
    # null-safe: a shard missing from EITHER side must be flagged — plain
    # != comparisons against the absent side's NULLs evaluate to NULL and
    # would silently drop the row from the filter
    bad_packed = pj.where(
        F.col("n").isNull() | F.col("rows").isNull() | (F.col("rows") != 1)
        | (F.col("base") != F.col("shard") * dps)
        | ~F.col("pn").eqNullSafe(F.col("n"))
        | ~F.col("blen").eqNullSafe(F.col("n")))
    bad_rows = _sample(bad_packed, ["shard", "rows", "base", "pn", "blen"])
    report["norms_packed"] = {"ok": not bad_rows, "bad_shards": bad_rows}
    per.unpersist()

    # ---- term_stats vs postings ------------------------------------------
    posts = read_parquet(spark, f"{index_path}/postings").where(live)
    from_posts = posts.groupBy("term").agg(F.sum("df").alias("pdf"),
                                           F.sum("cf").alias("pcf"))
    stats = read_term_stats(spark, index_path)
    bad_stats = (from_posts.join(stats, "term", "full")
                 .where(F.col("pdf").isNull() | F.col("df").isNull()
                        | (F.col("pdf") != F.col("df"))
                        | (F.col("pcf") != F.col("cf"))))
    bad_rows = _sample(bad_stats, ["term", "pdf", "df", "pcf", "cf"])
    report["term_stats"] = {"ok": not bad_rows, "bad_terms": bad_rows}

    # ---- live external-id uniqueness + tombstone resolution --------------
    dels = read_tombstones(spark, index_path, meta)
    live_rows = norms.select("shard", "docid", "id")
    if dels is not None:
        live_rows = live_rows.join(dels.select("shard", "docid"),
                                   ["shard", "docid"], "left_anti")
        dangling = dels.join(norms.select("shard", "docid"),
                             ["shard", "docid"], "left_anti")
        bad_rows = _sample(dangling, ["shard", "docid", "id"])
        report["tombstones"] = {"ok": not bad_rows, "dangling": bad_rows}
    else:
        report["tombstones"] = {"ok": True, "dangling": []}
    dup_ids = (live_rows.groupBy("id").count()
               .where(F.col("count") > 1))
    bad_rows = _sample(dup_ids, ["id", "count"])
    report["live_ids"] = {"ok": not bad_rows, "duplicates": bad_rows}

    # ---- positions sidecar ------------------------------------------------
    if meta.get("positions"):
        pos = read_parquet(spark, f"{index_path}/positions").where(live)
        orphans = (pos.select("shard", "docid").distinct()
                   .join(norms.select("shard", "docid"),
                         ["shard", "docid"], "left_anti"))
        bad_rows = _sample(orphans, ["shard", "docid"])
        report["positions"] = {"ok": not bad_rows, "orphans": bad_rows}

    # ---- deep: decode every blob ------------------------------------------
    if deep:
        def decode_check(pdf: "pd.DataFrame"):
            from ..functions.codec import decode_blocks
            bad = []
            for row in pdf.itertuples(index=False):
                base = int(row.shard) * dps
                offs = np.asarray(row.block_off, dtype=np.int64)
                last = np.asarray(row.block_last, dtype=np.int64)
                d, tf = decode_blocks(
                    bytes(row.postings), np.arange(len(offs)), offs,
                    np.asarray(row.block_gap_len, dtype=np.int64),
                    last, base)
                why = None
                if len(d) != int(row.df):
                    why = "decoded count != df"
                elif len(d) and np.any(np.diff(d) <= 0):
                    why = "docids not strictly increasing"
                elif len(d) and (d[0] < base or d[-1] >= base + dps):
                    why = "docid outside shard range"
                elif int(tf.sum()) != int(row.cf):
                    why = "sum(tf) != cf"
                elif len(last) and int(d[-1]) != int(last[-1]):
                    why = "block_last sidecar disagrees with blob"
                if why:
                    bad.append((int(row.shard), str(row.term), why))
            return pd.DataFrame(bad, columns=["shard", "term", "why"]) \
                if bad else pd.DataFrame(
                    {"shard": pd.Series(dtype="int64"),
                     "term": pd.Series(dtype="object"),
                     "why": pd.Series(dtype="object")})

        bad_blobs = (posts.select("shard", "term", "df", "cf", "postings",
                                  "block_off", "block_gap_len", "block_last")
                     .mapInPandas(lambda it: (decode_check(p) for p in it),
                                  schema="shard long, term string, why string"))
        bad_rows = _sample(bad_blobs, ["shard", "term", "why"])
        report["postings_deep"] = {"ok": not bad_rows, "bad_blobs": bad_rows}

    report["ok"] = all(v.get("ok", True) for v in report.values()
                       if isinstance(v, dict))
    if raise_on_error and not report["ok"]:
        failed = [k for k, v in report.items()
                  if isinstance(v, dict) and not v.get("ok", True)]
        raise CorruptIndexError(
            f"index at {index_path} failed checks: {failed}")
    return report


def index_stats(spark, index_path: str):
    """One-row index statistics — the `_stats` / `IndexReader` surface a
    search operator reads before planning (and an operator exposes for
    dashboards): live document count, vocabulary size, total token count,
    average document length, max document frequency, and the live shard
    count. Everything derives from the committed snapshot (manifest +
    segment-gated term_stats), so a concurrent uncommitted append is
    invisible — the same read discipline as retrieval.

    Cost shape: one columnar scan of term_stats (term, df, cf — vocab-
    sized, never postings blobs) with a map-side-combinable aggregate;
    the scalars (num_docs, avgdl, shards) come from the manifest alone.
    Returns a DataFrame with exactly one row."""
    from pyspark.sql import functions as F

    from .indexer import read_term_stats
    from .retrieve import load_index_meta

    meta = load_index_meta(index_path)
    shard_base = int(meta.get("shard_base", 0))
    stats_base = int(meta.get("stats_base", shard_base))
    dead = sum(int(b) - int(a) for a, b in (meta.get("dead_ranges") or []))
    live_shards = int(meta["num_shards"]) - shard_base - dead
    stats = read_term_stats(spark, index_path,
                            num_shards=int(meta["num_shards"]),
                            shard_base=stats_base)
    agg = stats.agg(F.count("*").alias("vocab_size"),
                    F.coalesce(F.sum("cf"), F.lit(0)).alias("total_tf"),
                    F.coalesce(F.max("df"), F.lit(0)).alias("max_df"))
    return agg.select(
        F.lit(int(meta["num_docs"])).alias("num_docs"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("total_tf").cast("long").alias("total_tf"),
        F.col("max_df").cast("long").alias("max_df"),
        F.lit(float(meta["avgdl"])).alias("avgdl"),
        F.lit(live_shards).cast("long").alias("live_shards"))
