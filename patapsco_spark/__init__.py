"""patapsco_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-implements the *capabilities* of hltcoe/patapsco (a CLIR pipeline built on
Python iterators + Lucene/pyserini) as an idiomatic Spark engine:

- text processing (normalize/tokenize/stem/stopwords) as vectorized
  pandas/Arrow UDF kernels (no per-row Python),
- a distributed SPIMI-style inverted-index build producing delta-gapped
  varbyte-compressed, independently decodable posting-list blocks stored
  as shard-partitioned Parquet,
- Lucene-compatible BM25 / QLD / PSQ / boolean top-k retrieval that is
  rank- and score-identical to Lucene's defaults (incl. the lossy SmallFloat
  norm quantization),
- a manifest/lineage layer for exact resume after partial failure,
- training-data pipeline operators (dedup, ANN, text quality, fingerprints).

Reference semantics are cited per module as /root/reference/<file>:<lines>.
"""

__version__ = "0.1.0"
