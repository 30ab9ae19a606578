"""Posting codec roundtrips incl. property-based fuzzing."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from patapsco_spark.functions.codec import (
    block_meta,
    decode_postings,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


def slow_varbyte_encode(values):
    out = bytearray()
    for v in values:
        groups = []
        while True:
            groups.append(v & 0x7F)
            v >>= 7
            if v == 0:
                break
        for g in reversed(groups[1:]):
            out.append(g | 0x80)
        out.append(groups[0])
    return bytes(out)


def test_varbyte_known_values():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**62], dtype=np.int64)
    enc = varbyte_encode(vals)
    assert enc == slow_varbyte_encode(vals.tolist())
    assert (varbyte_decode(enc, len(vals)) == vals).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    enc = varbyte_encode(arr)
    assert enc == slow_varbyte_encode(vals)
    dec = varbyte_decode(enc, len(vals))
    assert (dec == arr).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 10**9), st.integers(1, 10**6)),
             min_size=0, max_size=500),
    st.integers(0, 1000),
)
def test_postings_roundtrip(pairs, base):
    pairs = sorted({d: t for d, t in pairs}.items())
    docids = np.array([base + d for d, _ in pairs], dtype=np.int64)
    tfs = np.array([t for _, t in pairs], dtype=np.int64)
    blob = encode_postings(docids, tfs, base=base)
    d2, t2 = decode_postings(blob, len(docids), base=base)
    assert (d2 == docids).all()
    assert (t2 == tfs).all()


def test_block_meta():
    docids = np.arange(0, 300, dtype=np.int64)
    assert block_meta(docids, block_size=128) == [127, 255, 299]
    assert block_meta(docids[:256], block_size=128) == [127, 255]
    assert block_meta(docids[:0], block_size=128) == []


def test_blocked_encode_partial_decode():
    """Blocks decode independently: full and partial reads match the input
    (the contract term vectors rely on to decode one block)."""
    import numpy as np
    from patapsco_spark.functions.codec import (
        block_meta, decode_blocks, encode_postings_blocked)

    rng = np.random.RandomState(7)
    docids = np.unique(rng.randint(1000, 200000, 5000))
    tfs = rng.randint(1, 90, len(docids)).astype(np.int64)
    base, bs = 1000, 128
    blob, offs, glens = encode_postings_blocked(docids, tfs, base=base, block_size=bs)
    last = block_meta(docids, block_size=bs)
    offs, glens, last = map(np.asarray, (offs, glens, last))

    d, t = decode_blocks(blob, np.arange(len(offs)), offs, glens, last, base=base)
    assert np.array_equal(d, docids) and np.array_equal(t, tfs)

    which = np.array([0, 3, 7, len(offs) - 1])
    d2, t2 = decode_blocks(blob, which, offs, glens, last, base=base)
    exp_d = np.concatenate([docids[i * bs:(i + 1) * bs] for i in which])
    exp_t = np.concatenate([tfs[i * bs:(i + 1) * bs] for i in which])
    assert np.array_equal(d2, exp_d) and np.array_equal(t2, exp_t)

    d3, t3 = decode_blocks(blob, np.array([], dtype=np.int64), offs, glens, last, base=base)
    assert len(d3) == 0 and len(t3) == 0
