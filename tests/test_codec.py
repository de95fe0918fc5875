"""Property tests for the delta+varint codec (SURVEY §5.2 item 1)."""

import numpy as np
import pytest

from pisa_spark.index import codec


@pytest.mark.parametrize("seed", range(5))
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, 4096))
    vals = rng.integers(0, 2**62, size=n, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_edge_values():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_empty():
    assert codec.varint_encode(np.empty(0, np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@pytest.mark.parametrize("seed", range(5))
def test_delta_docids_roundtrip(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    assert np.array_equal(codec.delta_decode_docids(codec.delta_encode_docids(ids)), ids)


def test_delta_docids_dense_run_is_compact():
    ids = np.arange(1000, 1128, dtype=np.int64)
    enc = codec.delta_encode_docids(ids)
    # first value = 2 varint bytes, 127 zero deltas = 1 byte each
    assert len(enc) == 2 + 127


def test_delta_docids_rejects_non_monotone():
    with pytest.raises(ValueError):
        codec.delta_encode_docids(np.array([5, 5], dtype=np.int64))


def test_payload_minus_one_bias():
    tf = np.array([1, 1, 2, 900], dtype=np.int64)
    enc = codec.encode_payload(tf, minus_one=True)
    assert np.array_equal(codec.decode_payload(enc, minus_one=True), tf)
    # tf=1 runs encode as zero bytes -> 1 byte each
    assert len(codec.encode_payload(np.ones(100, np.int64), minus_one=True)) == 100


# property-based coverage (hypothesis) — SURVEY §5.2 item 1
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=2**62), max_size=500)
    )
    def test_varint_roundtrip_property(vals):
        arr = np.array(vals, dtype=np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)

    @settings(max_examples=200, deadline=None)
    @given(
        st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=400)
    )
    def test_delta_docids_roundtrip_property(ids):
        arr = np.array(sorted(ids), dtype=np.int64)
        assert np.array_equal(
            codec.delta_decode_docids(codec.delta_encode_docids(arr)), arr
        )

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=10**12),
            min_size=2, max_size=300, unique=True,
        )
    )
    def test_block_concat_decode_property(ids):
        """Concatenated per-block byte strings decode identically to the
        segmented-cumsum fast path used by the WAND kernel."""
        import pandas as pd

        from pisa_spark.query.bm25 import _decode_blocks_vectorized

        arr = np.array(sorted(ids), dtype=np.int64)
        blocks = [arr[i : i + 64] for i in range(0, arr.size, 64)]
        g = pd.DataFrame(
            {
                "n": [b.size for b in blocks],
                "docs": [codec.delta_encode_docids(b) for b in blocks],
                "tfs": [
                    codec.encode_payload(np.ones(b.size, np.int64), minus_one=True)
                    for b in blocks
                ],
                "dls": [
                    codec.encode_payload(np.full(b.size, 7, np.int64))
                    for b in blocks
                ],
            }
        )
        docs, tfs, dls = _decode_blocks_vectorized(g)
        assert np.array_equal(docs, arr)
        assert (tfs == 1).all() and (dls == 7).all()

except ImportError:  # hypothesis optional
    pass
