"""Lucene SmallFloat norm quantization (public Lucene 8.x semantics).

Lucene stores a document's field length as a lossy single byte via
``SmallFloat.intToByte4`` and decodes it at query time with
``SmallFloat.byte4ToInt``.  BM25/QLD scores therefore see the *quantized*
length, and reproducing patapsco's pyserini/Lucene scores (reference goldens:
/root/reference/tests/test_psq.py:48-66, /root/reference/tests/test_retrieve.py:60-75)
requires reproducing this exact quantization.

Semantics (Lucene 8): values below ``NUM_FREE_VALUES`` (= 255 - intToByte4
encoding of Integer.MAX_VALUE = 24) are stored exactly; larger values keep
only their top 4 significant bits (a "mini float" with a 3-bit mantissa and
an implicit leading bit).

This is a from-scratch numpy implementation of the published algorithm, not a
translation of patapsco code (patapsco never implements it — it lives inside
Lucene, opaque to the reference repo).
"""

from __future__ import annotations

import numpy as np

# longToInt4(Integer.MAX_VALUE) == 231, so bytes 0..23 encode values exactly.
NUM_FREE_VALUES = 24


def _long_to_int4(v: np.ndarray) -> np.ndarray:
    """Vectorized Lucene SmallFloat.longToInt4 for non-negative int64."""
    v = np.asarray(v, dtype=np.int64)
    out = np.empty_like(v)
    # subnormal: fewer than 4 significant bits → stored exactly
    small = v < 8
    out[small] = v[small]
    big = ~small
    if big.any():
        vb = v[big]
        # number of significant bits
        nbits = np.int64(64) - _clz64(vb)
        shift = nbits - 4
        encoded = (vb >> shift) & 0x07
        encoded |= (shift + 1) << 3
        out[big] = encoded
    return out


def _int4_to_long(i: np.ndarray) -> np.ndarray:
    i = np.asarray(i, dtype=np.int64)
    bits = i & 0x07
    shift = (i >> 3) - 1
    decoded = np.where(shift == -1, bits, (bits | 0x08) << np.maximum(shift, 0))
    return decoded


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of positive int64 (vectorized)."""
    # bit_length via float log2 is unsafe at boundaries; use a shift loop on
    # 64-bit lanes (6 iterations, fully vectorized).
    v = v.astype(np.uint64)
    n = np.full(v.shape, 64, dtype=np.int64)
    shift = np.uint64(32)
    for s in (32, 16, 8, 4, 2, 1):
        s_ = np.uint64(s)
        mask = (v >> s_) != 0
        n = np.where(mask, n - s, n)
        v = np.where(mask, v >> s_, v)
    # v now 0 or 1; subtract the final bit
    n = n - (v != 0).astype(np.int64)
    return n


def int_to_byte4(v) -> np.ndarray:
    """Lucene SmallFloat.intToByte4, vectorized. Returns uint8 array."""
    v = np.atleast_1d(np.asarray(v, dtype=np.int64))
    if (v < 0).any():
        raise ValueError("negative length")
    out = np.where(
        v < NUM_FREE_VALUES,
        v,
        NUM_FREE_VALUES + _long_to_int4(np.maximum(v - NUM_FREE_VALUES, 0)),
    )
    return out.astype(np.uint8)


def byte4_to_int(b) -> np.ndarray:
    """Lucene SmallFloat.byte4ToInt, vectorized. Accepts uint8/int arrays."""
    b = np.atleast_1d(np.asarray(b)).astype(np.int64) & 0xFF
    return np.where(
        b < NUM_FREE_VALUES,
        b,
        NUM_FREE_VALUES + _int4_to_long(b - NUM_FREE_VALUES),
    ).astype(np.int64)


def quantize_length(dl) -> np.ndarray:
    """Round-trip a document length through Lucene's norm byte."""
    return byte4_to_int(int_to_byte4(dl))


def quantize_length_sql(col: str) -> str:
    """ANSI-SQL expression computing ``quantize_length(col)``.

    Used to build DuckDB oracle queries that must agree bit-for-bit with the
    Spark-side scorer. Equivalent closed form: for v = dl - 24 >= 8, keep the
    top 4 significant bits of v (mask the rest), i.e.
    ``(v >> s) << s`` with ``s = bit_length(v) - 4``.
    """
    v = f"({col} - 24)"
    # bit_length(v) for v in [8, 2^31): floor(log2(v)) + 1. v is an integer, and
    # log2 of an exact power of two is exact in IEEE double, so floor is safe.
    s = f"(CAST(FLOOR(LOG2({v})) AS BIGINT) - 3)"
    return (
        f"(CASE WHEN {col} < 24 THEN {col} "
        f"WHEN {v} < 8 THEN {col} "
        f"ELSE 24 + (({v} >> {s}) << {s}) END)"
    )
