"""Run configuration for the engine.

A small dataclass mirror of the reference's pydantic config surface
(/root/reference/patapsco/schema.py) covering the sections the Spark engine
executes, plus the tokenizer/stemmer compatibility validation of
``TokenizerStemmerFactory`` (/root/reference/patapsco/text.py:430-524).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class ConfigError(ValueError):
    pass


@dataclass(frozen=True)
class TextConfig:
    """Text-processing config (reference: TextProcessorConfig)."""

    tokenize: str = "whitespace"          # whitespace | ngram | cjk_bigram | moses_lite
                                          # | moses | jieba | stanza | spacy (gated)
    stem: str | None = None               # None | porter | parsivar_lite
                                          # | lemma_lite
                                          # | parsivar | stanza | spacy (gated)
    stopwords: str | None = "lucene"      # source name, or None to disable
    lowercase: bool = True                # normalize.lowercase (schema.py:34)
    stopword_dir: str | None = None       # dir with {source}/{lang}.txt lists
    max_text_len: int = 1_000_000         # DocumentProcessor.MAX_TEXT_LEN (docs.py:223)

    def validate(self, lang: str = "eng") -> None:
        # reference compat rules (text.py:446-466): ngram tokenization is
        # incompatible with stemming; neural stemmers require their tokenizer.
        if self.tokenize == "ngram" and self.stem:
            raise ConfigError("ngram tokenization is not compatible with stemming")
        if self.stem == "spacy" and self.tokenize != "spacy":
            raise ConfigError("spacy lemmatization requires the spacy tokenizer")
        if self.stem == "stanza" and self.tokenize != "stanza":
            raise ConfigError("stanza lemmatization requires the stanza tokenizer")
        if self.stem in ("porter", "lemma_lite") and lang != "eng":
            raise ConfigError(f"{self.stem} stemmer only supports English")
        if self.stem in ("parsivar", "parsivar_lite") and lang != "fas":
            raise ConfigError(f"{self.stem} stemmer only supports Farsi")
        if self.tokenize == "moses_lite" and lang == "zho":
            raise ConfigError("moses_lite tokenizer does not support zho; "
                              "use cjk_bigram or ngram")


@dataclass(frozen=True)
class IndexConfig:
    """Inverted-index build config."""

    text: TextConfig = field(default_factory=TextConfig)
    num_shards: int | None = None         # default: derived from input partitions
    block_size: int = 128                 # postings per codec block
    target_docs_per_shard: int = 250_000  # used when num_shards is None
    # write a positions/ sidecar (shard, term, docid, positions) enabling
    # exact phrase scoring — EXCEEDS the reference, whose Lucene index stores
    # DOCS_AND_FREQS only (index.py:52) and silently degrades phrases
    positions: bool = False
    # keep the pre-tokenization normalized text (original_text) in analyzed/
    # — needed by the doc store / rerankers (reference: database.py, a
    # separate task from the indexer). False = pure index build: the
    # analysis stage ships only term arrays back from Python workers.
    store_raw: bool = True


@dataclass(frozen=True)
class RetrieveConfig:
    """Retrieval config (reference: RetrieveConfig, schema.py:155-180)."""

    # bm25 | qld (LMDirichlet) | qljm (LMJelinekMercer) | classic (TF-IDF)
    # | dfr_inl2 (DFR InL2) | dfi (divergence from independence)
    # | pl2 (DFR PL2) | f2exp (Axiomatic F2EXP) | ib_ll (information-
    # based LL·DF·H2) | bool (BooleanSimilarity: clause boost only, no
    # tf/idf/norm). Beyond the reference's two (retrieve.py:98-105)
    # but first-class similarity families in the Lucene it wraps;
    # formulas follow the published LMJelinekMercerSimilarity /
    # ClassicSimilarity / AxiomaticF2EXP / IBSimilarity javadocs, Amati
    # & van Rijsbergen's InL2/PL2 (TOIS 2002), Clinchant & Gaussier's
    # information-based models (SIGIR 2010), and the DFI paper
    # (Kocabaş, Dinçer & Karaoğlan, Inf. Retrieval 2014) over the same
    # quantized norms as bm25/qld.
    name: str = "bm25"
    k: int = 1000                         # schema.py:159 "number"
    k1: float = 0.9                       # schema.py:169
    b: float = 0.4                        # schema.py:170
    mu: int = 1000                        # schema.py:171-172 (QLD)
    # Jelinek-Mercer interpolation weight of the collection model (qljm
    # only); Lucene LMJelinekMercerSimilarity's constructor default used in
    # short-query settings is 0.1
    lam: float = 0.1
    # DFR normalization-2 length parameter (dfr_inl2 / pl2 / ib_ll): tfn
    # = tf·log2(1 + c·avgdl/dl); c=1.0 is Amati's and Lucene's
    # NormalizationH2 default
    dfr_c: float = 1.0
    # Axiomatic F2EXP parameters (f2exp only): per-term
    # ((N+1)/df)^ax_k · tf/(tf + ax_s + ax_s·dl/avgdl); s=0.5, k=0.35
    # are the Fang & Zhai (SIGIR 2005) and Lucene AxiomaticF2EXP
    # defaults
    ax_s: float = 0.5
    ax_k: float = 0.35
    rm3: bool = False
    fb_terms: int = 10                    # schema.py:176-180
    fb_docs: int = 10
    original_query_weight: float = 0.5
    # search-after paging (Lucene IndexSearcher.searchAfter): the
    # (score, docid) of the LAST hit of the previous page, exactly as
    # returned by search() — results strictly after it in (score desc,
    # docid asc) order. A tuple applies to every query in the batch; a
    # {qid: (score, docid)} dict pages queries independently.
    after: tuple | dict | None = None
    # Lucene BooleanQuery.setMinimumNumberShouldMatch, applied to the TOP
    # boolean level of every query in the batch: a doc qualifies only if
    # at least this many SHOULD clauses individually match it. 0/1 are the
    # plain OR semantics (any match).
    min_should_match: int = 0
