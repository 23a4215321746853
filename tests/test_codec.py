"""Property tests for the delta-gap + vbyte codec (SURVEY.md §5.2-3)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from statschat_ke_spark.index.codec import (
    decode_doc_id_blocks,
    decode_doc_ids,
    decode_tfs,
    encode_doc_ids,
    encode_tfs,
    vbyte_decode,
    vbyte_encode,
    vbyte_encode_chunks,
)

u64 = st.integers(min_value=0, max_value=2**64 - 1)


@given(st.lists(u64, max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert vbyte_decode(vbyte_encode(arr)).tolist() == vals


@given(st.sets(u64, max_size=300))
@settings(max_examples=200, deadline=None)
def test_docids_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert decode_doc_ids(encode_doc_ids(arr)).tolist() == sorted(ids)


@given(st.lists(st.integers(min_value=1, max_value=1_000_000), max_size=300))
@settings(max_examples=200, deadline=None)
def test_tfs_roundtrip(tfs):
    arr = np.array(tfs, dtype=np.uint64)
    assert decode_tfs(encode_tfs(arr)).tolist() == tfs


def test_empty():
    assert vbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0
    assert decode_doc_ids(b"").size == 0


def test_compression_is_real():
    """Gapped small deltas must beat 8 bytes/value materially."""
    ids = np.arange(10_000, dtype=np.uint64) * 7 + 3
    enc = encode_doc_ids(ids)
    assert len(enc) < ids.size * 2  # ≤2 bytes/doc for dense lists


def test_vbyte_encode_chunks_equivalence():
    """Chunked encode == per-chunk encode (the packer's fast path)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from statschat_ke_spark.index.codec import vbyte_encode, vbyte_encode_chunks

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=300),
        st.data(),
    )
    def check(values, data):
        v = np.array(values, dtype=np.uint64)
        n_chunks = data.draw(st.integers(min_value=1, max_value=min(8, len(v))))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=1, max_value=len(v) - 1)
                    if len(v) > 1
                    else st.nothing(),
                    max_size=n_chunks - 1,
                    unique=True,
                )
            )
            if len(v) > 1
            else []
        )
        starts = np.array([0] + cuts, dtype=np.int64)
        chunks = vbyte_encode_chunks(v, starts)
        bounds = list(starts) + [len(v)]
        expect = [vbyte_encode(v[bounds[i]:bounds[i + 1]]) for i in range(len(starts))]
        assert chunks == expect

    check()


@given(
    st.lists(
        st.lists(
            st.tuples(
                u64,
                st.integers(min_value=1, max_value=1_000_000),
                st.integers(min_value=0, max_value=2**32 - 1),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda p: p[0],
        ),
        min_size=1,
        max_size=8,
    ),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_joined_block_decode(blocks, data):
    """The query kernel's decode: blocks packed as the index writer packs
    them (one ``vbyte_encode_chunks`` per column; doc-id gaps absolute at
    each block start, tf-1, dl), a subset of them joined and decoded in ONE
    call per column, split by per-block counts == per-block decode."""
    blocks = [sorted(b) for b in blocks]
    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    doc = np.array([d for b in blocks for d, _, _ in b], dtype=np.uint64)
    tf = np.array([t for b in blocks for _, t, _ in b], dtype=np.uint64)
    dl = np.array([l for b in blocks for _, _, l in b], dtype=np.uint64)
    gaps = np.empty_like(doc)
    gaps[1:] = doc[1:] - doc[:-1]
    gaps[starts] = doc[starts]
    enc_ids = vbyte_encode_chunks(gaps, starts)
    enc_tfs = vbyte_encode_chunks(tf - np.uint64(1), starts)
    enc_dls = vbyte_encode_chunks(dl, starts)

    j = np.array(
        sorted(data.draw(st.sets(st.integers(0, len(blocks) - 1), min_size=1))),
        dtype=np.int64,
    )
    split = np.cumsum(counts[j])[:-1]
    got_ids = np.split(decode_doc_id_blocks(b"".join(enc_ids[i] for i in j), counts[j]), split)
    got_tfs = np.split(decode_tfs(b"".join(enc_tfs[i] for i in j)), split)
    got_dls = np.split(vbyte_decode(b"".join(enc_dls[i] for i in j)), split)
    for i, ids, tfs, dls in zip(j, got_ids, got_tfs, got_dls):
        assert ids.tolist() == decode_doc_ids(enc_ids[i]).tolist() == [d for d, _, _ in blocks[i]]
        assert tfs.tolist() == decode_tfs(enc_tfs[i]).tolist()
        assert dls.tolist() == vbyte_decode(enc_dls[i]).tolist()
