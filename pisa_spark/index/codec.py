"""Vectorized delta + varint (LEB128) posting-block codec.

StreamVByte/SIMD-BP128-style goals (branch-light, batch-oriented) done
the NumPy way: encode/decode loop over *byte positions* (<=5 for 32-bit
deltas, <=10 worst case), each iteration a whole-array vector op — never
per-integer Python (forbidden by the input_hint "no per-row Python").

Semantics mirrored from classic inverted-index layouts (doc-id deltas +
per-posting payloads); the reference's analog is its cache-as-compression
of the adjacency matrix (/root/reference/src/models/Dataloader.py:127-153)
— here it is a first-class columnar codec.

Wire format
-----------
``varint_encode``: standard LEB128, little-endian 7-bit groups, high bit
= continuation. ``delta_encode``: strictly-increasing doc_ids ->
[first, diffs...] with diffs >= 1 encoded as diff-1 (saves a byte at
density 1). All functions are pure NumPy, usable inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # enough for uint64


def varint_encode_sized(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array -> (uint8 byte stream, per-value
    byte counts). The counts let a caller slice one stream encoded for
    many segments (build.py's segmented block encoder) at segment
    boundaries: segment bytes = sum of its values' counts."""
    v = np.asarray(values, dtype=np.uint64)
    # bytes per value: one per started 7-bit group, min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    for k in range(2, _MAX_VARINT_BYTES + 1):
        more = tmp > 0
        if not more.any():
            break
        nbytes[more] = k
        tmp >>= np.uint64(7)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    if v.size == 0:
        return out, nbytes
    # output offset of each value's first byte
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        chunk = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = chunk | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized over the array; the only
    Python loop is over byte positions (<=10 iterations total)."""
    return varint_encode_sized(values)[0].tobytes()


def varint_decode(data: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array. Vectorized: terminator bytes
    (high bit clear) found in one pass; value assembly loops over byte
    positions only."""
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    n = ends.size
    values = np.zeros(n, dtype=np.uint64)
    for k in range(int(lengths.max())):
        mask = lengths > k
        chunk = (raw[starts[mask] + k] & 0x7F).astype(np.uint64)
        values[mask] |= chunk << np.uint64(7 * k)
    return values


def delta_encode_docids(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing int64 doc_ids -> varint bytes.

    Layout: [doc_ids[0], doc_ids[i]-doc_ids[i-1]-1 ...]. The -1 exploits
    strict monotonicity (diff >= 1) so dense runs encode as zeros.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    deltas = np.empty(d.size, dtype=np.uint64)
    deltas[0] = np.uint64(d[0])
    if d.size > 1:
        diffs = np.diff(d)
        if (diffs <= 0).any():
            raise ValueError("doc_ids must be strictly increasing")
        deltas[1:] = (diffs - 1).astype(np.uint64)
    return varint_encode(deltas)


def delta_decode_docids(data: bytes) -> np.ndarray:
    """Inverse of :func:`delta_encode_docids` -> int64 doc_ids."""
    deltas = varint_decode(data).astype(np.int64)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    deltas[1:] += 1
    return np.cumsum(deltas)


def encode_payload(values: np.ndarray, minus_one: bool = False) -> bytes:
    """Varint-encode a parallel payload column (tf or doc_len).

    minus_one: store v-1 (valid when v >= 1 always, e.g. term frequency).
    """
    v = np.asarray(values, dtype=np.int64)
    if minus_one:
        v = v - 1
    if (v < 0).any():
        raise ValueError("payload values must be non-negative after bias")
    return varint_encode(v.astype(np.uint64))


def encode_positions(pos_lists) -> bytes:
    """The ``poss`` payload of one block: each posting's within-doc
    token positions (strictly increasing) with the first absolute and
    later ones diff-1, concatenated in posting order. Segment lengths
    are the block's decoded tfs, so decoding needs no counts."""
    deltas = []
    for p in pos_lists:
        a = np.asarray(p, dtype=np.int64)
        d = a.copy()
        d[1:] = np.diff(a) - 1
        deltas.append(d)
    return varint_encode(
        np.concatenate(deltas).astype(np.uint64) if deltas else
        np.empty(0, np.uint64)
    )


def decode_payload(data: bytes, minus_one: bool = False) -> np.ndarray:
    v = varint_decode(data).astype(np.int64)
    if minus_one:
        v = v + 1
    return v
