"""Posting-list compression: delta-gap + LEB128 varint, fixed blocks.

Vectorized numpy codecs (no per-element Python in the hot path — encoding
loops over *byte positions* (<=10), not entries). The engine's analog of the
reference's lossy "precision reduction" storage pass
(``geo_utilities.py:230-266``), except ours is lossless on docIDs/tfs and
lossy only on the float32 block-max metadata (SURVEY.md §4 O5/O7).

Block layout (one row per block in the postings table):
  - doc_ids: varint(delta-gaps of sorted doc_ids)   BinaryType
  - tfs:     varint(tf values)                      BinaryType
  - dls:     varint(doclen values)                  BinaryType
  - poss:    varint(positions), positional indexes  BinaryType
             only: per posting its tf positions, the head absolute,
             the rest as gaps to the previous one (:func:`decode_positions`)
  - n:       entries in block                       IntegerType
  - first/last doc_id and block-max tf-norm kept as plain columns for
    min/max pruning + WAND bounds.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode_with_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array; returns (byte buffer, bytes-per-value).

    Vectorized over byte positions (<=10 iterations), never over values —
    callers can slice the buffer into sub-ranges via cumsum(lengths), which
    lets one encode call serve many posting blocks.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(1)
    nbytes = np.maximum(1, (nbits + 6) // 7)
    offsets = np.cumsum(nbytes) - nbytes
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = offsets[mask] + k
        byte = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized over byte positions."""
    out, _ = varint_encode_with_lengths(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    max_len = int((ends - starts).max()) + 1
    for k in range(max_len):
        pos = starts + k
        valid = pos <= ends
        out[valid] |= (b[pos[valid]] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return out


def encode_doc_gaps(doc_ids: np.ndarray) -> bytes:
    """Delta-gap + varint encode a strictly-increasing int64 doc_id run."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty(d.shape, dtype=np.uint64)
    gaps[0] = np.uint64(d[0])
    gaps[1:] = np.diff(d).astype(np.uint64)
    return varint_encode(gaps)


def decode_doc_gaps(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return varint_decode(buf).astype(np.int64)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """One block's ``poss`` stream -> the absolute positions of its
    postings, concatenated in posting order (posting i holds ``tfs[i]`` of
    them). One cumsum runs over the whole block; each posting is then
    rebased to its head, which was stored absolute."""
    gaps = decode_tfs(buf)
    vals = np.cumsum(gaps)
    heads = (np.cumsum(tfs) - tfs).astype(np.int64)
    return vals - np.repeat(vals[heads] - gaps[heads], tfs)
