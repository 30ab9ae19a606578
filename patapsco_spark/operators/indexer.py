"""Distributed inverted-index build (SPIMI-style) — the rebuild of the
reference's ``LuceneIndexer`` (/root/reference/patapsco/index.py:20-103),
whose physical work happens inside opaque Lucene.

Layout written under ``index_path``:

    analyzed/     (id, lang, terms, dl[, term_pos][, original_text])
                  range-partitioned by id
    norms/        shard=K/ (docid, id, dl)       one row per doc
    norms_packed/ shard=K/ (base, n, codes)      the shard's norm-byte blob
    postings/     shard=K/ (term, df, cf, max_tf, postings, block_last,
                            block_off, block_gap_len)
    positions/    shard=K/ (term, docid, positions)   positions builds only
    term_stats/   seg=S/ (term, df, cf)          additive df/cf segments
    manifest.json                                stats + lineage + config

One shard writer: the ``write_*`` functions below are the only code that
lays a generation of shards out on disk. A build writes whole tables; an
append or a compaction (streaming.incremental) writes its own shard range
through the same functions with dynamic partition overwrite.

Design notes (100 TB thinking):

- **Document-partitioned shards** (docid ranges), like every production
  search system: the build shuffle keys on ``(shard, term)`` so a Zipfian
  head term's postings are bounded by shard size (built-in skew salting —
  the shard IS the salt), and query-time scoring is embarrassingly parallel
  per shard with a tiny global top-k merge.
- **Deterministic global docids**: Lucene breaks score ties by internal
  docid, and the reference's merge concatenates part docid spaces in
  directory order (index.py:93-103). We assign docids by total order of the
  external id: range-repartition by id, sort within partitions, write, then
  compute per-file offsets from per-file counts (a columnar count, no data
  movement) and docid = file_offset + row_number within file. This is the
  one global sort the engine pays at build time.
- **Map-side tf counting**: term frequencies are computed per doc in
  Catalyst (:func:`emit_tf_catalyst`, one (term, docid, tf) row per
  *distinct* term per doc), so the shuffle moves per-doc term counts, not
  the raw token stream.
- **Compression**: postings are delta-gapped varbyte blobs in independently
  decodable blocks of ``block_size`` postings, each fenced by its last
  docid (``block_last``) and located by ``block_off``/``block_gap_len``.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..functions.analyze import analyze_documents, catalyst_fast_eligible
from ..functions.codec import block_meta, encode_postings_blocked
from ..plans import manifest as mf
from ..plans.pqread import read_parquet

POSTINGS_SCHEMA = (
    "shard int, term string, df long, cf long, max_tf long, "
    "postings binary, block_last array<long>, block_off array<long>, "
    "block_gap_len array<long>"
)


def build_index(spark: SparkSession, pages: DataFrame, index_path: str,
                cfg: IndexConfig | None = None, id_col: str = "id",
                text_col: str = "text", lang_col: str | None = "lang",
                resume: bool = True, batch_transform=None,
                transform_cols: tuple[str, ...] = ()) -> dict:
    """Build the full index from a raw pages/documents DataFrame.

    Returns the manifest dict. With ``resume=True``, completed stages
    (manifest present, same config) are skipped and read back — the engine's
    analogue of patapsco's ``.complete``-gated plan pruning (job.py:672-685).
    """
    cfg = cfg or IndexConfig()
    # positions is part of the analyzed cache key: a positions build stores
    # per-token pre-removal offsets (term_pos) that a plain build's cached
    # analyzed/ dir would lack. analyzed_format 2 = round-5 layout (no
    # proc_text column; original_text gated by store_raw) — busts round-4
    # analyzed/ caches whose schema differs.
    cfg_doc = {"text": vars(cfg.text), "block_size": cfg.block_size,
               "num_shards": cfg.num_shards, "positions": bool(cfg.positions),
               "store_raw": bool(cfg.store_raw), "analyzed_format": 2}

    analyzed_path = f"{index_path}/analyzed"
    built_any = False  # did THIS call write any stage? (root-manifest gate)
    if not (resume and mf.is_complete(analyzed_path, "analyzed", cfg_doc)):
        built_any = True
        n_parts = cfg.num_shards or max(spark.sparkContext.defaultParallelism, 4)
        # the analysis kernel parallelizes per input partition — a scan that
        # packed many small files into few partitions (maxPartitionBytes)
        # would serialize the CPU-heavy stage, so widen it explicitly.
        # Width estimate reproduces Spark's file-packing arithmetic from
        # driver-side metadata (partitioning.scan_width) — no df.rdd
        # plan-translation cost, no tiny-file miscounts.
        from ..partitioning import widen_for_kernel
        pages = widen_for_kernel(pages, max(n_parts,
                                            spark.sparkContext.defaultParallelism))
        lineage = write_analyzed(spark, pages, analyzed_path, cfg.text,
                                 n_parts, positions=bool(cfg.positions),
                                 store_raw=cfg.store_raw, id_col=id_col,
                                 text_col=text_col, lang_col=lang_col,
                                 batch_transform=batch_transform,
                                 transform_cols=transform_cols)
        mf.write_manifest(analyzed_path, "analyzed", cfg_doc,
                          metrics={"files": len(lineage),
                                   "rows": sum(r["rows"] for r in lineage)},
                          lineage=lineage)

    offsets, num_docs = docid_offsets(mf.read_manifest(analyzed_path)["lineage"])
    num_shards = cfg.num_shards or max(1, math.ceil(num_docs / cfg.target_docs_per_shard))
    docs_per_shard = max(1, math.ceil(num_docs / num_shards))

    postings_path = f"{index_path}/postings"
    norms_path = f"{index_path}/norms"
    stats_path = f"{index_path}/term_stats"
    # postings_format bumps force a rebuild of stale on-disk layouts through
    # the manifest resume gate (e.g. pre-blocked postings lack block_off).
    # 4 = norms_packed partitioned by shard + term_stats as additive seg=
    # segments (both needed for idempotent streaming-append overwrites).
    # 5 = blocks keep only their docid fences (the block-max score sidecars
    # are gone; readers accept >= 4 because they never read those).
    build_cfg = dict(cfg_doc, num_docs=num_docs, num_shards=num_shards,
                     docs_per_shard=docs_per_shard, postings_format=5,
                     positions=bool(cfg.positions))

    if not (resume and mf.is_complete(postings_path, "postings", build_cfg)):
        built_any = True
        docided = _assign_docids(read_parquet(spark, analyzed_path), offsets,
                                 docs_per_shard)
        write_norms(docided, norms_path, num_shards)
        norm_lineage = _per_file_stats(spark, norms_path, "docid")
        mf.write_manifest(norms_path, "norms", build_cfg,
                          metrics={"rows": sum(r["rows"] for r in norm_lineage)},
                          lineage=norm_lineage)
        write_norms_packed(spark, index_path, docs_per_shard)
        mf.write_manifest(f"{index_path}/norms_packed", "norms_packed", build_cfg)

        # reducer count: when the cluster is wider than the shard count
        # (small builds, local mode), sub-split each shard by a term-hash
        # bucket — every (shard, term)'s rows still land complete in one
        # partition (all the kernel needs), but the sort + encode runs at
        # cluster width instead of num_shards-way. At scale num_shards
        # >= parallelism and this degenerates to the plain shard split.
        # Tiny builds (< ~20k docs) keep the plain split: the extra task
        # and output-file count costs more than the parallelism buys.
        n_red = max(num_shards, spark.sparkContext.defaultParallelism)
        if n_red > num_shards and num_docs < 20000:
            n_red = num_shards
        buckets = max(1, (32 * n_red) // num_shards) if n_red > num_shards else 0
        write_postings(docided, postings_path, n_red, cfg.block_size,
                       docs_per_shard, buckets=buckets)
        post_lineage = _per_file_stats(spark, postings_path, "term")
        mf.write_manifest(postings_path, "postings", build_cfg,
                          metrics={"terms_x_shards": sum(r["rows"] for r in post_lineage)},
                          lineage=post_lineage)

        if cfg.positions:
            write_positions(docided, f"{index_path}/positions", num_shards)
            mf.write_manifest(f"{index_path}/positions", "positions", build_cfg)

    if not (resume and mf.is_complete(stats_path, "term_stats", build_cfg)):
        built_any = True
        write_term_stats(spark, index_path, -1, num_shards)
        mf.write_manifest(stats_path, "term_stats", build_cfg)

    # a fully-skipped resume returns the EXISTING root manifest untouched:
    # recomputing it here would (a) reset the generation/maintenance keys a
    # later append/compaction/delete added (shard_base, dead_ranges, the
    # tombstone window, last_epoch) to a pre-maintenance state while the
    # data dirs still hold the maintained layout — a silently inconsistent
    # index — and (b) pay a norms scan per warm call for nothing
    if resume and not built_any:
        existing = mf.read_manifest(index_path)
        if existing is not None and existing.get("stage") == "index":
            return existing["config"] | {"index_path": index_path}

    # global stats from norms (cheap columnar agg)
    norms_df = read_parquet(spark, norms_path)
    g = norms_df.agg(F.count("*").alias("n"), F.sum("dl").alias("total_tf")).first()
    total_tf = int(g["total_tf"] or 0)
    doc = dict(build_cfg)
    doc.update({"num_docs": int(g["n"]), "total_tf": total_tf,
                "avgdl": float32_avgdl(total_tf, int(g["n"]))})
    mf.write_manifest(index_path, "index", doc,
                      metrics={"num_docs": doc["num_docs"], "total_tf": total_tf})
    return mf.read_manifest(index_path)["config"] | {"index_path": index_path}


def float32_avgdl(total_tf: int, num_docs: int) -> float:
    """Lucene computes avgFieldLength as a float32 (BM25Similarity)."""
    return float(np.float32(total_tf / num_docs)) if num_docs else 0.0


def write_shards(df: DataFrame, path: str, dynamic: bool = False,
                 by: str = "shard") -> None:
    """Overwrite the ``by``-partitioned table at ``path`` with ``df``:
    wholly (static), or only the partitions ``df`` holds (dynamic)."""
    w = df.write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(by).parquet(path)


def write_analyzed(spark: SparkSession, docs: DataFrame, path: str,
                   text_cfg, n_parts: int, *, positions: bool,
                   store_raw: bool = True, id_col: str = "id",
                   text_col: str = "text", lang_col: str | None = "lang",
                   batch_transform=None,
                   transform_cols: tuple[str, ...] = ()) -> list[dict]:
    """Analyze ``docs`` and write them range-partitioned by id and sorted
    within each file — the docid order (:func:`docid_offsets`). Returns
    the per-file lineage: rows, min/max id and the files' ``dl`` sum."""
    analyzed = analyze_documents(docs, text_cfg, id_col=id_col,
                                 text_col=text_col, lang_col=lang_col,
                                 batch_transform=batch_transform,
                                 extra_cols=transform_cols,
                                 with_positions=positions, store_raw=store_raw)
    stage = None
    if not (catalyst_fast_eligible(text_cfg) and batch_transform is None):
        # materialize BEFORE range partitioning: repartitionByRange runs a
        # sampling job over its child, which would re-execute the whole
        # Python analysis chain a second time. Staged through parquet, the
        # sample pass is a column-pruned scan of `id` only. (Catalyst-fast
        # chains skip this: the sampler's `id` projection prunes the
        # analysis expressions away — the slow Arrow branch only touches
        # the non-ASCII minority — so one job writes the layout.)
        stage = f"{path.rsplit('/', 1)[0]}/_analyzed_stage"
        analyzed.write.mode("overwrite").parquet(stage)
        analyzed = read_parquet(spark, stage)
    (analyzed.repartitionByRange(n_parts, "id")
             .sortWithinPartitions("id")
             .write.mode("overwrite").parquet(path))
    if stage is not None:
        _delete_path(spark, stage)
    return _per_file_stats(spark, path, "id", F.sum("dl").alias("dl"))


def docid_offsets(lineage: list[dict], first_docid: int = 0
                  ) -> tuple[dict[str, int], int]:
    """Per-file docid offsets of an analyzed batch (files in id order,
    from ``first_docid``) and its row count."""
    offsets, rows = {}, 0
    for rec in sorted(lineage, key=lambda r: (r["min_key"] is None,
                                              r["min_key"], r["file"])):
        offsets[rec["file"]] = first_docid + rows
        rows += rec["rows"]
    return offsets, rows


def write_norms(docided: DataFrame, path: str, n_parts: int,
                dynamic: bool = False) -> None:
    """norms: one (docid, id, dl) row per doc, per shard in docid order.
    The scorer derives the Lucene norm byte by quantizing dl (storing dl
    loses nothing — quantization is deterministic — and keeps the table
    engine-agnostic)."""
    write_shards(docided.select("shard", "docid", "id", "dl")
                 .repartition(n_parts, "shard").sortWithinPartitions("docid"),
                 path, dynamic)


def write_norms_packed(spark: SparkSession, index_path: str,
                       docs_per_shard: int, where=None,
                       dynamic: bool = False) -> None:
    """norms_packed: ONE row per shard holding every doc's Lucene norm byte
    as a dense blob (docid-indexed from the shard base), packed from the
    ``where`` rows of norms/. The query path reads these tiny blobs instead
    of scanning the full norms table — at 10^9 docs that's ~250 KB per
    matched shard vs a multi-GB columnar scan per query. External ids stay
    in norms/ and are joined for the final top-k only."""
    from ..functions.smallfloat import int_to_byte4

    norms = read_parquet(spark, f"{index_path}/norms")
    if where is not None:
        norms = norms.where(where)
    pack = pack_shard_blob(docs_per_shard, "dl", np.uint8, 0,
                           encode=int_to_byte4)
    write_shards(norms.groupBy("shard").applyInPandas(
                     pack, schema="shard int, base long, n long, codes binary"),
                 f"{index_path}/norms_packed", dynamic)


def encode_postings(tf_rows: DataFrame, n_parts: int, block_size: int,
                    docs_per_shard: int, buckets: int = 0) -> DataFrame:
    """(shard, term, docid, tf) rows → postings rows (POSTINGS_SCHEMA).

    SPIMI merge: one shuffle keyed on shard (plus a term-hash bucket of
    ``buckets`` when > 0); a reducer receives whole (shard, term) runs
    sorted by (term, docid) and ONE kernel builds all its terms' postings
    via sorted-run boundaries — no per-term pandas groups. Skew is bounded
    by construction: a head term's postings within a reducer never exceed
    docs_per_shard (the shard IS the salt)."""
    keys = [F.col("shard")]
    if buckets:
        keys.append(F.pmod(F.xxhash64("term"), F.lit(buckets)))
    return (tf_rows.select("shard", "term", "docid", F.col("tf").cast("int"))
            .repartition(n_parts, *keys)
            .sortWithinPartitions("shard", "term", "docid")
            .mapInPandas(_make_postings_kernel(block_size, docs_per_shard),
                         schema=POSTINGS_SCHEMA))


def write_postings(docided: DataFrame, path: str, n_parts: int,
                   block_size: int, docs_per_shard: int, buckets: int = 0,
                   dynamic: bool = False) -> None:
    """postings of analyzed, docided rows: per-doc term frequencies in pure
    Catalyst (:func:`emit_tf_catalyst`), then :func:`encode_postings`."""
    tf_rows = emit_tf_catalyst(docided.select("shard", "docid", "terms"))
    write_shards(encode_postings(tf_rows, n_parts, block_size,
                                 docs_per_shard, buckets), path, dynamic)


def positions_layout(rows: DataFrame, n_parts: int) -> DataFrame:
    """Same (shard, term) layout discipline as postings/ — shard partition
    pruning + term predicate pushdown at phrase-query time; the shard
    bounds a head term's row count."""
    return (rows.select("shard", "term", "docid", "positions")
            .repartition(n_parts, "shard")
            .sortWithinPartitions("shard", "term", "docid"))


def write_positions(docided: DataFrame, path: str, n_parts: int,
                    dynamic: bool = False) -> None:
    """positions sidecar for exact phrase scoring: one row per (term,
    docid) with the term's token offsets — PRE-REMOVAL stream indices
    (term_pos) when the analysis chain can drop stopwords, so phrase
    matching honors Lucene's position increments ("data stream" does not
    match "data the stream")."""
    pcols = [c for c in ("shard", "docid", "terms", "term_pos")
             if c in docided.columns]
    rows = docided.select(*pcols).mapInPandas(
        _emit_positions,
        schema="shard int, term string, docid long, positions array<int>")
    write_shards(positions_layout(rows, n_parts), path, dynamic)


def write_term_stats(spark: SparkSession, index_path: str, seg: int,
                     n_shards: int, where=None, dynamic: bool = False) -> None:
    """One term_stats segment ``seg=<seg>``: (term, df, cf) summed over the
    ``where`` rows of postings/. term_stats is ADDITIVE-partitioned: seg=-1
    holds the base build, each append adds a seg=<first new shard> delta
    from its new shards only, a compaction collapses all into one segment;
    readers aggregate across segments (:func:`read_term_stats`)."""
    posts = read_parquet(spark, f"{index_path}/postings")
    if where is not None:
        posts = posts.where(where)
    stats = (posts.groupBy("term")
             .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
             .withColumn("seg", F.lit(seg)))
    write_shards(stats.repartition(max(1, n_shards // 4))
                 .sortWithinPartitions("term"),
                 f"{index_path}/term_stats", dynamic, by="seg")


def _delete_path(spark: SparkSession, path: str) -> None:
    """Remove a staging dir via Hadoop FS (works for any supported scheme)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(jsc.hadoopConfiguration()).delete(p, True)


def emit_tf_catalyst(docided: DataFrame) -> DataFrame:
    """(shard, docid, terms[]) → (shard, term, docid, tf), JVM-side.

    The map-side combine of the SPIMI build with zero Python: per row,
    ``array_sort`` the term array, compute run-start offsets with a HOF
    filter, then explode one (term, tf) struct per run. tf = distance to
    the next run start. Row-identical to :func:`_emit_tf` (pinned in
    tests/test_fast_path.py), which stays as the cross-check kernel."""
    return (
        docided
        .where(F.size("terms") > 0)
        .withColumn("s_terms", F.expr("array_sort(terms)"))
        .withColumn("starts", F.expr(
            "filter(sequence(0, size(s_terms)-1), "
            "i -> i = 0 OR s_terms[i] != get(s_terms, i-1))"))
        .select("shard", "docid", F.explode(F.expr(
            "transform(starts, (st, j) -> struct(s_terms[st] as term, "
            "coalesce(get(starts, j+1), size(s_terms)) - st as tf))")).alias("p"))
        .select("shard", F.col("p.term").alias("term"), "docid",
                F.col("p.tf").cast("int").alias("tf")))


def _emit_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(shard, docid, terms[]) batches → (shard, term, docid, tf).

    Fully vectorized: flatten token arrays with np.repeat/concatenate, then a
    single C-level groupby-size — the map-side combine of the SPIMI build.
    Round 5: superseded in the build by :func:`emit_tf_catalyst`; kept as
    the independent reference kernel the tests compare against.
    """
    for pdf in batches:
        if pdf.empty:
            continue
        term_lists = pdf["terms"].map(lambda t: t if t is not None else [])
        lens = term_lists.map(len).to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            continue
        flat = pd.DataFrame({
            "shard": np.repeat(pdf["shard"].to_numpy(), lens),
            "docid": np.repeat(pdf["docid"].to_numpy(), lens),
            "term": np.concatenate([np.asarray(t, dtype=object) for t in term_lists]),
        })
        agg = (flat.groupby(["shard", "docid", "term"], sort=False)
                   .size().rename("tf").reset_index())
        agg["tf"] = agg["tf"].astype(np.int32)
        yield agg[["shard", "term", "docid", "tf"]]


def _emit_positions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(shard, docid, terms[][, term_pos[]]) batches →
    (shard, term, docid, positions[]).

    Vectorized flatten (np.repeat/concatenate) then one C-level groupby
    collecting each (doc, term)'s token offsets. When the analyzed rows
    carry ``term_pos`` (chains with stopword removal), the stored offsets
    are the PRE-REMOVAL stream indices — Lucene position-increment
    semantics; otherwise offsets are 0..n-1 (nothing was removed)."""
    for pdf in batches:
        if pdf.empty:
            continue
        term_lists = pdf["terms"].map(lambda t: t if t is not None else [])
        lens = term_lists.map(len).to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            continue
        if "term_pos" in pdf.columns:
            pos_flat = np.concatenate([
                np.asarray(p if p is not None else [], dtype=np.int32)
                for p in pdf["term_pos"]])
        else:
            pos_flat = np.concatenate([np.arange(n, dtype=np.int32) for n in lens])
        flat = pd.DataFrame({
            "shard": np.repeat(pdf["shard"].to_numpy(), lens),
            "docid": np.repeat(pdf["docid"].to_numpy(), lens),
            "term": np.concatenate([np.asarray(t, dtype=object) for t in term_lists]),
            "pos": pos_flat,
        })
        grp = (flat.groupby(["shard", "docid", "term"], sort=False)["pos"]
                   .agg(list).rename("positions").reset_index())
        yield grp[["shard", "term", "docid", "positions"]]


def pack_shard_blob(docs_per_shard: int, col: str, dtype, fill,
                    blob: str = "codes", encode=None):
    """(shard, docid, ``col``) group → the shard's ONE blob row (shard,
    base, n, ``blob``): the ``encode``d values as a dense ``dtype`` array
    indexed by docid - base. Docs without a non-NULL value keep ``fill``
    and are not counted in n."""

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        base = shard * docs_per_shard
        have = pdf[col].notna().to_numpy()
        docids = pdf["docid"].to_numpy()
        out = np.full(int(docids.max()) - base + 1, fill, dtype=dtype)
        vals = pdf[col].to_numpy()[have]
        out[docids[have] - base] = vals if encode is None else encode(vals)
        return pd.DataFrame({"shard": [shard], "base": [base],
                             "n": [int(have.sum())], blob: [out.tobytes()]})

    return pack


def _make_postings_kernel(block_size: int, docs_per_shard: int):
    """Partition-level SPIMI kernel: the partition arrives sorted by
    (shard, term, docid); one pass over run boundaries (np.unique) emits one
    row per (shard, term) with the compressed postings blob. Memory bound =
    one shuffle partition — the SPIMI memory budget, sized by the reducer
    count upstream."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batches of one partition may split a term's run — concatenate; a
        # shuffle partition is the unit we sized to fit in memory anyway
        parts = [p for p in batches if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        shards = pdf["shard"].to_numpy()
        terms = pdf["term"].to_numpy()
        docids = pdf["docid"].to_numpy()
        tfs = pdf["tf"].to_numpy()
        # run boundaries over (shard, term)
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        np.not_equal(terms[1:], terms[:-1], out=change[1:])
        change[1:] |= shards[1:] != shards[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        out = {k: [] for k in ("shard", "term", "df", "cf", "max_tf",
                               "postings", "block_last", "block_off",
                               "block_gap_len")}
        for s, e in zip(starts, ends):
            shard = int(shards[s])
            base = shard * docs_per_shard
            d, t = docids[s:e], tfs[s:e]
            blob, offs, gap_lens = encode_postings_blocked(
                d, t, base=base, block_size=block_size)
            out["shard"].append(shard)
            out["term"].append(terms[s])
            out["df"].append(e - s)
            out["cf"].append(int(t.sum()))
            out["max_tf"].append(int(t.max()))
            out["postings"].append(blob)
            out["block_last"].append(block_meta(d, block_size))
            out["block_off"].append(offs)
            out["block_gap_len"].append(gap_lens)
        yield pd.DataFrame(out)

    return kernel


def _assign_docids(analyzed_df: DataFrame, offsets: dict[str, int],
                   docs_per_shard: int) -> DataFrame:
    """Deterministic docid = per-file offset + ordinal within file (by id)."""
    spark = analyzed_df.sparkSession
    off_df = spark.createDataFrame(
        [(f, o) for f, o in offsets.items()], "file string, offset long")
    with_file = analyzed_df.withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/"), -1))
    w = Window.partitionBy("file").orderBy("id")
    return (with_file.join(F.broadcast(off_df), "file")
            .withColumn("docid", F.row_number().over(w) - 1 + F.col("offset"))
            .withColumn("shard", (F.col("docid") / docs_per_shard).cast("int"))
            .drop("file", "offset"))


def live_shard_pred(meta: dict):
    """Column predicate admitting exactly the committed live shards of a
    manifest snapshot: ``[shard_base, num_shards)`` minus any
    ``dead_ranges`` holes recorded by tiered compaction (round 5 — a
    tiered compact keeps full base shards in place and rewrites only the
    underfilled tail above the range, so the live set is no longer one
    closed interval). Each range term is parquet-partition-prunable."""
    pred = (F.col("shard") >= int(meta.get("shard_base", 0))) & \
           (F.col("shard") < int(meta["num_shards"]))
    for a, b in meta.get("dead_ranges", []) or []:
        pred &= ~((F.col("shard") >= int(a)) & (F.col("shard") < int(b)))
    return pred


def read_term_stats(spark: SparkSession, index_path: str,
                    num_shards: int | None = None,
                    shard_base: int | None = None) -> DataFrame:
    """(term, df, cf) aggregated across additive segments: seg=-1 is the
    base build, seg=K a streaming append's delta starting at shard K. A
    query-term filter applied on top still pushes to the parquet scan before
    this groupBy, so a lookup reads only the query's terms from each segment.

    ``num_shards`` (the manifest's committed shard count) gates out deltas
    from an UNCOMMITTED append (a crash between the seg write and the
    manifest commit): a committed append always has num_shards > its seg, so
    ``seg < num_shards`` admits exactly the committed segments — the same
    snapshot isolation the postings/norms reads get from their shard filter.
    ``shard_base`` here is the STATS baseline (> 0 after a compaction):
    the compacted stats live in one seg=baseline segment, and every older
    segment is superseded (deleted lazily after the compaction's manifest
    commit). Callers should pass the manifest's ``stats_base`` when
    present — after a TIERED compaction the shard floor stays put (full
    base shards are kept in place) while the stats baseline moves to the
    new collapsed segment, so the two are no longer the same number."""
    df = read_parquet(spark, f"{index_path}/term_stats")
    if num_shards is None or shard_base is None:
        man = mf.read_manifest(index_path)
        if man is not None:
            if num_shards is None:
                num_shards = int(man["config"].get("num_shards", 0)) or None
            if shard_base is None:
                shard_base = int(man["config"].get(
                    "stats_base", man["config"].get("shard_base", 0)))
    if num_shards is not None:
        df = df.where(F.col("seg") < num_shards)
    if shard_base:
        df = df.where(F.col("seg") >= shard_base)
    # single-committed-segment fast path: every writer (base build, append
    # delta, compaction collapse) emits its segment FROM a groupBy("term"),
    # so term is unique within a segment and the cross-segment aggregation
    # is an identity when exactly one committed segment remains. Skipping
    # it removes an Exchange from every term-stats lookup — a filtered
    # lookup then collects in ONE job instead of two (the common case:
    # an index with no appends). Listing is one driver-side dir glob.
    from ..plans import fsio
    segs = [s for s, _ in fsio.list_partition_dirs(
        f"{index_path}/term_stats", "seg")]
    live = [s for s in segs
            if (num_shards is None or s < num_shards)
            and (not shard_base or s >= shard_base)]
    if segs and len(live) == 1:
        return df.select("term", "df", "cf")
    return (df.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")))


def _per_file_stats(spark: SparkSession, path: str, key: str,
                    *extra) -> list[dict]:
    df = read_parquet(spark, path)
    rows = (df.groupBy(F.input_file_name().alias("file"))
              .agg(F.count("*").alias("rows"),
                   F.min(key).alias("min_key"),
                   F.max(key).alias("max_key"), *extra)
              .collect())
    return mf.file_lineage([r.asDict() for r in rows])


def reindex(spark: SparkSession, src_index: str, dst_path: str,
            cfg=None, *, registry: str | None = None,
            alias: str | None = None) -> dict:
    """ES ``_reindex``: rebuild an index from its OWN stored documents
    under a new config (analyzer change, shard-count change, positions
    on/off) — no access to the original corpus needed. Live docs only:
    tombstoned ids are excluded (ES reindex copies the live view, and
    carrying a deleted doc into an index with no matching tombstone
    would resurrect it). With ``registry``+``alias`` the cutover is the
    aliases CAS swap when the alias already points at ``src_index``
    (the zero-downtime path), else a first assignment.

    Requires the source build to have stored raw text (store_raw, the
    default) — re-analyzing ANALYZED text would double-apply the chain,
    so a raw-less source refuses loudly instead of silently degrading.

    Scale shape: one scan of the source's analyzed/ store (id, lang,
    original_text — already shard-partitioned parquet), an anti-join
    against the tombstone ids, then the ordinary build_index pipeline;
    nothing is collected."""
    from .deletes import read_tombstones
    from .retrieve import load_index_meta

    store = read_parquet(spark, f"{src_index}/analyzed")
    if "original_text" not in store.columns:
        raise ValueError(
            f"source index {src_index!r} stores no raw text "
            "(store_raw=False): reindex would re-analyze analyzed "
            "tokens — rebuild from the original corpus instead")
    docs = store.select("id", F.col("original_text").alias("text"), "lang")
    meta = load_index_meta(src_index)
    # streaming appends stage their analyzed batches in the APPEND's temp
    # dir, not the index's analyzed/ store — a doc-count mismatch means
    # reindex would silently drop every appended document
    n_store, n_meta = docs.count(), int(meta["num_docs"])
    if n_store != n_meta:
        raise ValueError(
            f"analyzed store holds {n_store} docs but the index manifest "
            f"says {n_meta}: the index has appended documents that are "
            "not in the doc store — reindex from the original corpus "
            "instead of the index")
    dead = read_tombstones(spark, src_index, meta)
    if dead is not None:
        docs = docs.join(F.broadcast(dead.select("id").distinct()),
                         "id", "left_anti")
    man = build_index(spark, docs, dst_path, cfg)
    if alias is not None:
        if registry is None:
            raise ValueError("alias cutover needs a registry dir")
        from ..plans import aliases as al
        current = al.list_aliases(registry).get(alias)
        if current == src_index:
            al.swap_alias(registry, alias, dst_path, expect=src_index)
        else:
            al.set_alias(registry, alias, dst_path)
    return man
