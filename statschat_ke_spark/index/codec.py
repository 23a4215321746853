"""Delta-gap + variable-byte posting-list codec — pure numpy, Arrow-friendly.

This is the engine's hand-written "codegen" (SURVEY.md §4 point 1): it runs
inside Arrow-batched pandas UDFs, so encode/decode is vectorized numpy with no
per-row Python. Replaces the opaque FAISS index blob
(/root/reference/statschat/preprocess.py:242-244) with an inspectable,
mergeable binary posting format.

Layout per posting block (≤ BLOCK docs, doc-id-sorted):
- ``doc_ids``: uint64 gaps (first value absolute) vbyte-encoded
- ``tfs``:     uint64 values vbyte-encoded (tf ≥ 1, stored as tf-1)

vbyte: little-endian base-128; 7 payload bits per byte, MSB set on the LAST
byte of each value (classic varint with continuation-inverted flag — we use
MSB=1 ⇒ value continues in the next byte is FALSE; i.e. MSB marks terminator).

Property-tested round-trip in tests/test_codec.py (hypothesis).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128  # docs per posting block (block-max WAND granularity)


def vbyte_encode(values: np.ndarray, lengths: np.ndarray | None = None) -> bytes:
    """Encode uint64 array → vbyte bytes (vectorized). ``lengths`` lets the
    caller pass precomputed ``_vbyte_lengths(v)`` so hot paths that need the
    lengths anyway (chunk slicing) don't pay the shift-loop pass twice."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = _vbyte_lengths(v) if lengths is None else lengths
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # offsets of the first byte of each value
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # fill byte-by-byte across the (≤10) byte positions
    remaining = v.copy()
    active = np.ones(v.shape, dtype=bool)
    pos = starts.copy()
    while active.any():
        byte = (remaining & np.uint64(0x7F)).astype(np.uint8)
        remaining = remaining >> np.uint64(7)
        last = (remaining == 0) & active
        byte[last] |= np.uint8(0x80)  # terminator flag
        out[pos[active]] = byte[active]
        pos[active] += 1
        active = active & ~last
    return out.tobytes()


def _vbyte_lengths(v: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (≥1, ≤10)."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    return nbytes


def vbyte_encode_chunks(values: np.ndarray, chunk_starts: np.ndarray) -> list[bytes]:
    """Encode one value array, return per-chunk byte strings.

    ``chunk_starts`` are value indices (first must be 0). One vectorized
    encode over the whole array; chunk extraction is buffer slicing — this is
    what lets the posting packer emit hundreds of thousands of blocks per
    batch without per-block codec calls.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    lens = _vbyte_lengths(v)  # computed ONCE, shared by encode + slicing
    buf = vbyte_encode(v, lengths=lens)
    ends = np.cumsum(lens)
    # byte offset where each chunk begins
    starts_b = np.zeros(len(chunk_starts), dtype=np.int64)
    starts_b[1:] = ends[np.asarray(chunk_starts[1:], dtype=np.int64) - 1]
    ends_b = np.append(starts_b[1:], len(buf))
    return [buf[int(s):int(e)] for s, e in zip(starts_b, ends_b)]


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode vbyte bytes → uint64 array (vectorized). A value's payload
    bytes occupy disjoint bit ranges, so one ``add.reduceat`` over the value
    starts assembles every value."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (raw & 0x80) != 0
    # value index for each byte: cumulative count of terminators before it
    value_idx = np.zeros(raw.size, dtype=np.int64)
    value_idx[1:] = np.cumsum(is_end[:-1])
    # shift amount = position within its value (0,7,14,...)
    value_start = np.zeros(int(is_end.sum()), dtype=np.int64)
    value_start[1:] = np.flatnonzero(is_end)[:-1] + 1
    pos_in_value = np.arange(raw.size, dtype=np.int64) - value_start[value_idx]
    payload = (raw & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_value.astype(np.uint64))
    return np.add.reduceat(payload, value_start)


def encode_doc_ids(doc_ids_u: np.ndarray) -> bytes:
    """Strictly-increasing uint64 doc ids → delta-gap vbyte bytes."""
    d = np.asarray(doc_ids_u, dtype=np.uint64)
    if d.size == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    gaps[1:] = d[1:] - d[:-1]
    return vbyte_encode(gaps)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    gaps = vbyte_decode(buf)
    return np.cumsum(gaps, dtype=np.uint64)


def decode_doc_id_blocks(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Doc ids of joined ``encode_doc_ids`` blocks of ``counts`` values each,
    in one decode: each block's running sum restarts at its absolute first
    gap. uint64 sums wrap, so subtracting the preceding blocks' total is
    exact."""
    sums = np.cumsum(vbyte_decode(buf), dtype=np.uint64)
    base = np.zeros(len(counts), dtype=np.uint64)
    base[1:] = sums[np.cumsum(counts)[:-1] - 1]
    return sums - np.repeat(base, counts)


def encode_tfs(tfs: np.ndarray) -> bytes:
    t = np.asarray(tfs, dtype=np.uint64)
    return vbyte_encode(t - np.uint64(1))


def decode_tfs(buf: bytes) -> np.ndarray:
    return vbyte_decode(buf) + np.uint64(1)
