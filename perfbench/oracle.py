"""Correctness checks run outside the timed window: BM25 and phrase top-k
against the repository's DuckDB oracles, and an index manifest's document
and token counts against the generator's own.

The oracle SQL comes from ``__spark_entry__`` unchanged. Its tokeniser
splits on single spaces only, so the corpus is registered with the text
the engine indexes under ``TextConfig(stem=None, stopwords=None,
lowercase=True)``: lower-cased, runs of whitespace collapsed to one space.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from __spark_entry__ import _bm25_sql, _phrase_bm25_sql

SCORE_TOL = 1.5e-5   # one unit in the 5th decimal, plus rounding slack
ALL_ROWS = 1 << 40


class Oracle:
    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self._frames: list[pd.DataFrame] = []
        self._gens: set[int] = set()

    def ensure(self, corpus, gen: int) -> None:
        """Register one generation of pages (base corpus = 0), once."""
        if gen in self._gens:
            return
        self._gens.add(gen)
        self._frames.append(pd.DataFrame({
            "doc_id": corpus.urls, "text": corpus.norm, "gen": gen}))
        self.con.register("corpus", pd.concat(self._frames, ignore_index=True))

    def _at(self, gen: int) -> None:
        self.con.execute("CREATE OR REPLACE TEMP VIEW documents AS "
                         f"SELECT doc_id, text FROM corpus WHERE gen <= {gen}")

    # The oracle SQL sorts its output by the ROUNDED score before its LIMIT,
    # while its rank comes from the raw score: when many scores round alike
    # (a term in every page), the first k rows are not ranks 0..k-1. So
    # take every row and keep the ranks below k.
    def bm25(self, terms, k: int, k1: float, b: float, gen: int = 0):
        self._at(gen)
        return _top(self.con.execute(
            _bm25_sql(list(terms), k1, b, ALL_ROWS)).fetchall(), k)

    def phrase(self, words, extra: str, k: int, k1: float, b: float,
               gen: int = 0):
        self._at(gen)
        return _top(self.con.execute(
            _phrase_bm25_sql(list(words), extra, k1, b, ALL_ROWS)).fetchall(), k)


def _top(rows, k: int):
    return sorted((r for r in rows if r[1] < k), key=lambda r: r[1])


def same_topk(engine_rows, oracle_rows) -> str | None:
    """None when the engine's (doc_id, rank, score) rows match the oracle's
    (doc_id, rnk, score) rows in rank order with scores equal to five
    decimals; otherwise a short description of the first difference."""
    eng = sorted(engine_rows, key=lambda r: r[1])
    if len(eng) != len(oracle_rows):
        return f"{len(eng)} rows, oracle {len(oracle_rows)}"
    for (doc, rank, score), (odoc, orank, oscore) in zip(eng, oracle_rows):
        if doc != odoc or rank != orank or abs(round(score, 5) - oscore) > SCORE_TOL:
            return (f"rank {orank}: engine ({doc}, {rank}, {score:.6f}) "
                    f"oracle ({odoc}, {orank}, {oscore})")
    return None


def manifest_counts(meta: dict, num_docs: int, total_tf: int) -> str | None:
    """None when an index manifest reports the generator's counts."""
    got = (int(meta.get("num_docs", -1)), int(meta.get("total_tf", -1)))
    if got != (num_docs, total_tf):
        return (f"manifest num_docs/total_tf {got}, generator "
                f"{(num_docs, total_tf)}")
    return None
