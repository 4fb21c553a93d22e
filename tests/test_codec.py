"""Round-trip and property tests for the delta+varint posting codec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_search.codec import (
    decode_block,
    decode_blocks,
    encode_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(a))
    assert out.tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=1,
        max_size=600,
        unique_by=lambda x: x[0],
    ),
    st.sampled_from([4, 128, 256]),
)
def test_block_roundtrip(postings, block_size):
    postings.sort()
    doc_ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    blocks = encode_blocks(doc_ids, tfs, block_size=block_size)

    got_docs, got_tfs = [], []
    for first, last, n, max_tf, deltas, tf_bytes in blocks:
        d, t = decode_block(first, deltas, tf_bytes)
        assert d.size == n == t.size
        assert d[0] == first and d[-1] == last
        assert t.max() == max_tf
        got_docs.extend(d.tolist())
        got_tfs.extend(t.tolist())
    assert got_docs == doc_ids.tolist()
    assert got_tfs == tfs.tolist()


def test_encode_blocks_batch_equals_per_list():
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from spark_search.codec import encode_blocks, encode_blocks_batch

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.tuples(
                    st.integers(min_value=1, max_value=10**12),
                    st.integers(min_value=1, max_value=10**6),
                ),
                min_size=0,
                max_size=300,
            ),
            min_size=0,
            max_size=20,
        )
    )
    def check(groups):
        id_arrays, tf_arrays = [], []
        for g in groups:
            ids = np.array(sorted({i for i, _ in g}), dtype=np.int64)
            tfs = np.arange(1, ids.size + 1, dtype=np.int64)
            id_arrays.append(ids)
            tf_arrays.append(tfs)
        batch = encode_blocks_batch(id_arrays, tf_arrays, block_size=128)
        for ids, tfs, got in zip(id_arrays, tf_arrays, batch):
            want = encode_blocks(ids, tfs, block_size=128) if ids.size else []
            assert got == want

    check()


def _block_structs(doc_ids, tfs, block_size):
    """encode_blocks output shaped like the index's block structs."""
    return [
        {"first_doc": f, "last_doc": last, "n": n, "max_tf": m,
         "deltas": d, "tfs": t}
        for f, last, n, m, d, t in encode_blocks(doc_ids, tfs, block_size)
    ]


def _concat_decode_block(blocks):
    parts = [decode_block(b["first_doc"], b["deltas"], b["tfs"]) for b in blocks]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
    )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),  # gaps reach 2^35+
            st.integers(min_value=1, max_value=2**20),
        ),
        min_size=1,
        max_size=700,
    ),
    st.integers(min_value=1, max_value=200),
)
def test_decode_blocks_equals_concatenated_decode_block(postings, block_size):
    gaps = np.array([g for g, _ in postings], dtype=np.int64)
    doc_ids = np.cumsum(gaps)
    tfs = np.array([t for _, t in postings], dtype=np.int64)
    blocks = _block_structs(doc_ids, tfs, block_size)
    got_ids, got_tfs = decode_blocks(blocks)
    want_ids, want_tfs = _concat_decode_block(blocks)
    assert got_ids.dtype == want_ids.dtype == np.int64
    assert got_tfs.dtype == want_tfs.dtype == np.int64
    assert np.array_equal(got_ids, want_ids)
    assert np.array_equal(got_tfs, want_tfs)
    assert np.array_equal(got_ids, doc_ids) and np.array_equal(got_tfs, tfs)


def test_decode_blocks_edge_cases():
    # the empty list
    ids, tfs = decode_blocks([])
    assert ids.dtype == tfs.dtype == np.int64 and ids.size == tfs.size == 0
    # single-posting blocks, huge deltas (>= 2^35) and tf up to 2^20
    doc_ids = np.array([7, 2**35 + 7, 2**36 + 9, 2**62], dtype=np.int64)
    tf = np.array([1, 2**20, 3, 2**20 - 1], dtype=np.int64)
    for block_size in (1, 2, 3, 200):
        blocks = _block_structs(doc_ids, tf, block_size)
        got = decode_blocks(blocks)
        want = _concat_decode_block(blocks)
        assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])
        assert got[0].tolist() == doc_ids.tolist()
    # one single-posting block alone
    got = decode_blocks(_block_structs(doc_ids[:1], tf[:1], 1))
    assert got[0].tolist() == [7] and got[1].tolist() == [1]
    # block structs as the index stores them: bytearray payloads
    blocks = [
        dict(b, deltas=bytearray(b["deltas"]), tfs=bytearray(b["tfs"]))
        for b in _block_structs(doc_ids, tf, 2)
    ]
    assert decode_blocks(blocks)[0].tolist() == doc_ids.tolist()
