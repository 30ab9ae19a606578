"""Delta-gapped varbyte posting-list codec with per-block docid fences.

A posting list for one (shard, term) is a sorted sequence of
``(docid, tf)`` pairs. We store it as one compact binary blob:

- docids are delta-gapped (``gap[0] = docid[0] - shard_base``,
  ``gap[i] = docid[i] - docid[i-1]``) and varbyte-encoded,
- term frequencies are varbyte-encoded in a second section,
- per fixed-size block (default 128 postings) we keep the block's last
  docid (a fence), its byte offset and its gap-section length, so any
  block decodes on its own (term vectors decode only the block that holds
  a doc).

The varbyte scheme is the classic 7-bits-per-byte continuation encoding
(high bit set on non-final bytes of a value — as used by Lucene's VInt and
described in Manning et al., IR textbook §5.3). Encoding and decoding are
numpy-vectorized; no per-row Python.

This replaces the opaque Lucene index directory the reference writes
(/root/reference/patapsco/index.py:47-77); the reference never implements
postings itself.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int64 array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp != 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # end offset (exclusive) of each value's byte run
    ends = np.cumsum(nbytes)
    # fill byte k-from-the-end for every value that has that many bytes;
    # low-order 7-bit groups go last (big-endian groups, Lucene VInt order is
    # little-endian groups — we use MSB-first groups with continuation bit on
    # all but the final byte; self-consistent encode/decode)
    maxb = int(nbytes.max())
    for k in range(maxb):
        sel = nbytes > k
        idx = ends[sel] - 1 - k
        out[idx] |= ((v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        if k > 0:
            out[idx] |= 0x80
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Vectorized varbyte decode → int64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.int64)
    is_final = (b & 0x80) == 0
    # value id for each byte = number of finals strictly before + itself group
    vid = np.cumsum(is_final) - is_final  # group index per byte
    nvals = int(is_final.sum())
    payload = (b & 0x7F).astype(np.uint64)
    # position of byte within its group, from the end: compute group ends
    ends = np.flatnonzero(is_final)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # exponent = (end - byte_index) * 7
    byte_idx = np.arange(b.size, dtype=np.int64)
    exp = (ends[vid] - byte_idx).astype(np.uint64) * np.uint64(7)
    contrib = payload << exp
    out = np.zeros(nvals, dtype=np.uint64)
    np.add.at(out, vid, contrib)
    out = out.astype(np.int64)
    if count is not None and nvals != count:
        raise ValueError(f"decoded {nvals} values, expected {count}")
    return out


def encode_postings(docids: np.ndarray, tfs: np.ndarray, base: int = 0) -> bytes:
    """Encode sorted (docid, tf) postings into one blob.

    Layout: varint(ngaps_bytes_len) is unnecessary — we store gaps then tfs,
    with the split point stored by the caller (``gap_bytes`` length), but to
    keep the table schema simple we concatenate
    ``varbyte(len(gap_section)) || gap_section || tf_section``.
    """
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    gaps = np.empty_like(docids)
    if docids.size:
        gaps[0] = docids[0] - base
        gaps[1:] = np.diff(docids)
    gap_bytes = varbyte_encode(gaps)
    tf_bytes = varbyte_encode(tfs)
    header = varbyte_encode(np.array([len(gap_bytes)], dtype=np.int64))
    return header + gap_bytes + tf_bytes


def decode_postings(blob: bytes, count: int, base: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Decode a blob from :func:`encode_postings` → (docids, tfs)."""
    b = np.frombuffer(blob, dtype=np.uint8)
    # header: one varbyte value
    hdr_end = int(np.flatnonzero((b & 0x80) == 0)[0]) + 1
    gap_len = int(varbyte_decode(blob[:hdr_end])[0])
    gaps = varbyte_decode(blob[hdr_end : hdr_end + gap_len], count)
    tfs = varbyte_decode(blob[hdr_end + gap_len :], count)
    docids = np.cumsum(gaps) + base
    return docids.astype(np.int64), tfs.astype(np.int64)


def block_meta(docids: np.ndarray, block_size: int = BLOCK_SIZE) -> list[int]:
    """Per-block last docid (the ``block_last`` fences) of sorted ``docids``."""
    docids = np.asarray(docids, dtype=np.int64)
    n = len(docids)
    return docids[np.minimum(np.arange(block_size - 1, n + block_size - 1,
                                       block_size), n - 1)].tolist()


def encode_postings_blocked(docids: np.ndarray, tfs: np.ndarray, base: int = 0,
                            block_size: int = BLOCK_SIZE
                            ) -> tuple[bytes, list[int], list[int]]:
    """Block-independent encoding: each block's delta chain restarts from the
    previous block's last docid, and per-block byte offsets are returned, so
    ANY block decodes without touching the others.

    Layout: ``concat_i( gap_section_i || tf_section_i )``.
    Returns (blob, block_off, block_gap_len): section start offsets and the
    gap-section length per block (tf section = rest until next offset).
    """
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n = len(docids)
    parts: list[bytes] = []
    offs: list[int] = []
    gap_lens: list[int] = []
    pos = 0
    prev_last = base
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        gaps = np.empty(e - s, dtype=np.int64)
        gaps[0] = docids[s] - prev_last
        gaps[1:] = np.diff(docids[s:e])
        prev_last = int(docids[e - 1])
        gb = varbyte_encode(gaps)
        tb = varbyte_encode(tfs[s:e])
        offs.append(pos)
        gap_lens.append(len(gb))
        parts.append(gb)
        parts.append(tb)
        pos += len(gb) + len(tb)
    return b"".join(parts), offs, gap_lens


def decode_blocks(blob: bytes, which: np.ndarray, block_off: np.ndarray,
                  block_gap_len: np.ndarray, block_last: np.ndarray,
                  base: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the selected block indices (sorted) → (docids, tfs).

    The delta base of block i is ``block_last[i-1]`` (or ``base`` for block
    0), so selected blocks decode independently of skipped ones.
    """
    total = len(blob)
    d_parts, t_parts = [], []
    nblocks = len(block_off)
    for i in np.asarray(which, dtype=np.int64):
        start = int(block_off[i])
        end = int(block_off[i + 1]) if i + 1 < nblocks else total
        glen = int(block_gap_len[i])
        gaps = varbyte_decode(blob[start:start + glen])
        tfs = varbyte_decode(blob[start + glen:end])
        prev = int(block_last[i - 1]) if i > 0 else base
        d_parts.append(np.cumsum(gaps) + prev)
        t_parts.append(tfs)
    if not d_parts:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return (np.concatenate(d_parts).astype(np.int64),
            np.concatenate(t_parts).astype(np.int64))
