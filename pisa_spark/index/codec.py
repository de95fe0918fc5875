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


def bitpack_encode(values: np.ndarray) -> bytes:
    """SIMD-BP128-style binary packing: the whole block packs at ONE bit
    width b = max bitlength (header byte), values laid LSB-first into a
    contiguous little-endian bit stream. Fully vectorized: bit matrix ->
    np.packbits; no per-integer Python.

    Wire format: [width:1B][count:4B LE][packed bits]. Compared to
    varint this wins on dense uniform blocks (posting deltas inside one
    doc-range bucket) and supports O(1) random access at a fixed width;
    varint wins on skewed magnitude mixes. The index's wire format
    stays varint (blocks concatenate losslessly there — see
    _decode_blocks_vectorized); this codec is the drop-in alternative
    for fixed-width payload experiments.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    width = int(v.max()).bit_length()
    header = bytes([width]) + int(n).to_bytes(4, "little")
    if width == 0:
        return header
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64)) & np.uint64(1)).astype(
        np.uint8
    )
    return header + np.packbits(bits.ravel(), bitorder="little").tobytes()


def bitpack_decode(data: bytes) -> np.ndarray:
    """Inverse of :func:`bitpack_encode` -> uint64 array."""
    if len(data) == 0:
        return np.empty(0, dtype=np.uint64)
    width = data[0]
    n = int.from_bytes(data[1:5], "little")
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8, offset=5)
    bits = np.unpackbits(raw, bitorder="little", count=n * width).reshape(n, width)
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)


def ef_encode(values: np.ndarray, upper: int | None = None) -> bytes:
    """Elias-Fano encode a non-decreasing uint64 sequence — the
    quasi-succinct posting representation (Vigna 2013, "Quasi-succinct
    indices"): each value splits into l = floor(log2(u/n)) low bits
    (packed verbatim) and a high part coded in unary as a bit vector,
    giving n*(2 + log2(u/n)) bits — within half a bit per element of the
    information-theoretic optimum — with O(1) random access to the i-th
    value (select(i) on the high bits, no prefix decode).

    Fully vectorized (bit-matrix -> np.packbits; one scatter for the
    high bits); no per-integer Python.

    Wire: [n:4B LE][u:8B LE][l:1B][high-bits packbits][low-bits
    packbits] — high-bit length is (u >> l) + n bits, derivable from the
    header, so no length field is needed.

    Engine placement note: the serving wire format stays delta+varint
    because the WAND/MaxScore kernels decode a term's WHOLE kept block
    set with one concatenated varint pass (block byte-strings
    concatenate losslessly — see query/bm25._decode_blocks_vectorized),
    a property EF's per-sequence headers give up. EF is the
    O(1)-random-access / skip-heavy alternative; tests/test_codec.py
    records the measured size tradeoff on real posting blocks.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = int(v.size)
    if n == 0:
        return b""
    if n > 1 and (np.diff(v.astype(np.int64)) < 0).any():
        raise ValueError("ef_encode requires a non-decreasing sequence")
    u = int(v[-1]) + 1 if upper is None else int(upper)
    if u <= int(v[-1]):
        raise ValueError("upper bound must exceed the last value")
    ratio = u // n
    l = ratio.bit_length() - 1 if ratio >= 1 else 0
    header = (
        int(n).to_bytes(4, "little") + int(u).to_bytes(8, "little") + bytes([l])
    )
    high = (v >> np.uint64(l)).astype(np.int64)
    n_high_bits = (u >> l) + n
    hb = np.zeros(n_high_bits, dtype=np.uint8)
    hb[high + np.arange(n, dtype=np.int64)] = 1
    out = header + np.packbits(hb, bitorder="little").tobytes()
    if l > 0:
        bits = (
            (v[:, None] >> np.arange(l, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.uint8)
        out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    return out


def ef_decode(data: bytes) -> np.ndarray:
    """Inverse of :func:`ef_encode` -> uint64 array."""
    if len(data) == 0:
        return np.empty(0, dtype=np.uint64)
    n = int.from_bytes(data[0:4], "little")
    u = int.from_bytes(data[4:12], "little")
    l = data[12]
    n_high_bits = (u >> l) + n
    n_high_bytes = (n_high_bits + 7) // 8
    raw_h = np.frombuffer(data, dtype=np.uint8, offset=13, count=n_high_bytes)
    hb = np.unpackbits(raw_h, bitorder="little", count=n_high_bits)
    ones = np.flatnonzero(hb)
    high = (ones - np.arange(n, dtype=np.int64)).astype(np.uint64)
    if l == 0:
        return high
    raw_l = np.frombuffer(data, dtype=np.uint8, offset=13 + n_high_bytes)
    bits = np.unpackbits(raw_l, bitorder="little", count=n * l).reshape(n, l)
    weights = np.uint64(1) << np.arange(l, dtype=np.uint64)
    low = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return (high << np.uint64(l)) | low


def ef_select(data: bytes, i: int) -> int:
    """The i-th (0-based) encoded value WITHOUT decoding the sequence —
    Elias-Fano's signature O(1)-ish access (here: one packed-bit scan
    for the (i+1)-th set high bit + one l-bit low read), the primitive
    a skip-heavy traversal uses to jump into a posting list."""
    n = int.from_bytes(data[0:4], "little")
    if not 0 <= i < n:
        raise IndexError(i)
    u = int.from_bytes(data[4:12], "little")
    l = data[12]
    n_high_bits = (u >> l) + n
    n_high_bytes = (n_high_bits + 7) // 8
    raw_h = np.frombuffer(data, dtype=np.uint8, offset=13, count=n_high_bytes)
    hb = np.unpackbits(raw_h, bitorder="little", count=n_high_bits)
    pos = int(np.flatnonzero(hb)[i])
    high = pos - i
    if l == 0:
        return high
    raw_l = np.frombuffer(data, dtype=np.uint8, offset=13 + n_high_bytes)
    bits = np.unpackbits(raw_l, bitorder="little", count=n * l)
    low_bits = bits[i * l : (i + 1) * l]
    low = int((low_bits.astype(np.uint64) << np.arange(l, dtype=np.uint64)).sum())
    return (high << l) | low


PEF_CHUNK = 128


def _ef_l(n: int, u: int) -> int:
    ratio = u // n
    return ratio.bit_length() - 1 if ratio >= 1 else 0


def _ef_size(n: int, u: int) -> int:
    """Byte size of the HEADERLESS partition encoding of n values in
    [0, u): (n, u) are derivable from the PEF directory, so partitions
    carry no 13-byte EF header — only the high and low bit arrays."""
    l = _ef_l(n, u)
    return ((u >> l) + n + 7) // 8 + (n * l + 7) // 8


def _ef_encode_raw(v: np.ndarray, u: int) -> bytes:
    """Headerless EF: the bit arrays of ef_encode for values in
    [0, u), parameters (n, u) supplied out of band."""
    n = int(v.size)
    l = _ef_l(n, u)
    high = (v >> np.uint64(l)).astype(np.int64)
    hb = np.zeros((u >> l) + n, dtype=np.uint8)
    hb[high + np.arange(n, dtype=np.int64)] = 1
    out = np.packbits(hb, bitorder="little").tobytes()
    if l > 0:
        bits = (
            (v[:, None] >> np.arange(l, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.uint8)
        out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    return out


def _ef_decode_raw(data: bytes, offset: int, n: int, u: int) -> np.ndarray:
    """Inverse of _ef_encode_raw with out-of-band (n, u)."""
    l = _ef_l(n, u)
    n_high_bits = (u >> l) + n
    n_high_bytes = (n_high_bits + 7) // 8
    raw_h = np.frombuffer(
        data, dtype=np.uint8, offset=offset, count=n_high_bytes
    )
    hb = np.unpackbits(raw_h, bitorder="little", count=n_high_bits)
    ones = np.flatnonzero(hb)
    high = (ones - np.arange(n, dtype=np.int64)).astype(np.uint64)
    if l == 0:
        return high
    raw_l = np.frombuffer(
        data,
        dtype=np.uint8,
        offset=offset + n_high_bytes,
        count=(n * l + 7) // 8,
    )
    bits = np.unpackbits(raw_l, bitorder="little", count=n * l).reshape(n, l)
    weights = np.uint64(1) << np.arange(l, dtype=np.uint64)
    low = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return (high << np.uint64(l)) | low


def _ef_blob_len(data: bytes, offset: int) -> int:
    """Length of the ef_encode blob starting at ``offset`` (the wire
    header makes it self-describing)."""
    n = int.from_bytes(data[offset : offset + 4], "little")
    u = int.from_bytes(data[offset + 4 : offset + 12], "little")
    l = data[offset + 12]
    return 13 + ((u >> l) + n + 7) // 8 + (n * l + 7) // 8


def _optimal_boundaries(
    v: np.ndarray, g: int = 8, max_part: int = 4096, overhead: int = 5
) -> list[int]:
    """Shortest-path partition boundaries (the optimization of the
    PEF paper, at ``g``-element candidate granularity): nodes are
    positions 0, g, 2g, ..., n; an edge (i, j) costs the cheapest of
    the three representations for v[i:j] relative to base v[i-1],
    plus ``overhead`` bytes of tag + directory estimate. Edge costs
    are independent of the partitioning (the base is the predecessor
    ELEMENT, not partition), so one left-to-right DP pass is exact
    over the candidate set. Costs use float log2 (exact for the
    integer ratios in range); the encoder recomputes true sizes, so a
    1-ulp disagreement can only cost bytes, never correctness."""
    n = int(v.size)
    nodes = list(range(0, n, g))
    if nodes[-1] != n:
        nodes.append(n)
    nodes_arr = np.asarray(nodes, dtype=np.int64)
    k = len(nodes)
    dist = np.full(k, np.inf)
    dist[0] = 0.0
    parent = np.zeros(k, dtype=np.int64)
    sv = v.astype(np.int64)
    for jn in range(1, k):
        j = nodes[jn]
        lo = int(np.searchsorted(nodes_arr, j - max_part, side="left"))
        iis = nodes_arr[lo:jn]
        base = np.where(iis > 0, sv[iis - 1], np.int64(-1))
        n_k = j - iis
        m = sv[j - 1] - base
        ratio = m // n_k
        l = np.floor(np.log2(np.maximum(ratio, 1))).astype(np.int64)
        ef = ((m >> l) + n_k + 7) // 8 + (n_k * l + 7) // 8
        bv = (m + 7) // 8
        cost = np.where(n_k == m, 0, np.minimum(ef, bv)) + overhead
        tot = dist[lo:jn] + cost
        best = int(np.argmin(tot))
        dist[jn] = tot[best]
        parent[jn] = lo + best
    bounds = [n]
    jn = k - 1
    while jn > 0:
        jn = int(parent[jn])
        bounds.append(nodes[jn])
    return bounds[::-1]


def pef_encode(
    values: np.ndarray, chunk: int = PEF_CHUNK, optimize: bool = False
) -> bytes:
    """Partitioned Elias-Fano (Ottaviano & Venturini, SIGIR 2014) for
    a STRICTLY increasing uint64 sequence — the posting layout of the
    PISA family's `block_freq_index<pef...>` configurations.

    Plain EF pays log2(u/n) bits per element against the GLOBAL
    universe; clustered doc ids (the norm after URL-locality or BP
    reordering) are much denser locally. PEF splits the sequence into
    fixed-size partitions and, per partition, picks the cheapest of
    the paper's three representations relative to the partition's own
    sub-universe (hi - base, base = predecessor partition's maximum):

    * tag 0 — Elias-Fano of (vals - base - 1) in [0, hi - base);
    * tag 1 — bitvector of the sub-universe, bit (v - base - 1) set;
    * tag 2 — implicit: the partition IS the dense run
      base+1 .. hi (n_k == hi - base), zero payload bytes.

    A first-level EF sequence of partition maxima provides the skip
    directory: `pef_select` touches ONLY the first level plus one
    partition — the random-access property the optimal-partition
    paper inherits from Vigna's EF. Partition boundaries are UNIFORM
    (every ``chunk`` values) by default — the paper's baseline;
    ``optimize=True`` runs the paper's shortest-path boundary
    optimization over g=8-granular candidates (_optimal_boundaries),
    which is what isolates gap-crossings into tiny partitions and
    turns runs into zero-byte implicit ones (measured in
    tests/test_codec.py: the decisive win on clustered ids).

    Wire: [n:4B][chunk:2B][L1 = ef_encode(partition maxima)]
    [per partition: tag:1B + payload] — every payload's length is
    derivable (partition EF is HEADERLESS: its (n_k, sub-universe)
    parameters come from the directory; the bitvector spans the
    sub-universe; implicit is empty), so there are no length fields.
    optimize=True writes chunk=0 and inserts an endpoints directory
    [L0 = ef_encode(partition end positions)] before L1.

    Engine placement: same note as ef_encode — the serving wire
    format stays delta+varint for the concatenated-block decode;
    PEF is the skip-heavy/storage-optimal alternative, round-trip
    and size-tested against real posting blocks.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = int(v.size)
    if n == 0:
        return b""
    if n > 1 and (np.diff(v.astype(np.int64)) <= 0).any():
        raise ValueError("pef_encode requires a strictly increasing sequence")
    chunk = int(chunk)
    if not 1 <= chunk <= 65535:
        raise ValueError("chunk must be in [1, 65535]")
    if optimize:
        bounds = _optimal_boundaries(v)
        ends = np.asarray(bounds[1:], dtype=np.uint64)
        maxima = v[ends.astype(np.int64) - 1]
        out = [
            int(n).to_bytes(4, "little"),
            (0).to_bytes(2, "little"),
            ef_encode(ends),
            ef_encode(maxima),
        ]
        starts = np.asarray(bounds[:-1], dtype=np.int64)
    else:
        ends_i = np.minimum(
            np.arange(chunk, n + chunk, chunk, dtype=np.int64), n
        )
        maxima = v[ends_i - 1]
        out = [
            int(n).to_bytes(4, "little"),
            int(chunk).to_bytes(2, "little"),
            ef_encode(maxima),
        ]
        starts = np.concatenate(([0], ends_i[:-1]))
        ends = ends_i.astype(np.uint64)
    base = -1  # predecessor maximum; values are >= 0
    for ci in range(maxima.size):
        part = v[int(starts[ci]) : int(ends[ci])]
        hi = int(part[-1])
        m = hi - base  # sub-universe size, >= n_k
        n_k = int(part.size)
        rel = (part.astype(np.int64) - base - 1).astype(np.uint64)
        if n_k == m:
            out.append(bytes([2]))
        else:
            bv_size = (m + 7) // 8
            ef_size = _ef_size(n_k, m)
            if bv_size <= ef_size:
                bits = np.zeros(m, dtype=np.uint8)
                bits[rel.astype(np.int64)] = 1
                out.append(
                    bytes([1]) + np.packbits(bits, bitorder="little").tobytes()
                )
            else:
                out.append(bytes([0]) + _ef_encode_raw(rel, m))
        base = hi
    return b"".join(out)


def _pef_directory(data: bytes):
    """(ends, maxima, first_payload_pos) from the wire header —
    uniform (chunk > 0) or optimized (chunk == 0, explicit L0)."""
    n = int.from_bytes(data[0:4], "little")
    chunk = int.from_bytes(data[4:6], "little")
    pos = 6
    if chunk == 0:
        l0_len = _ef_blob_len(data, pos)
        ends = ef_decode(data[pos : pos + l0_len]).astype(np.int64)
        pos += l0_len
    else:
        ends = np.minimum(
            np.arange(chunk, n + chunk, chunk, dtype=np.int64), n
        )
    l1_len = _ef_blob_len(data, pos)
    maxima = ef_decode(data[pos : pos + l1_len])
    return ends, maxima, pos + l1_len


def _pef_walk(data: bytes):
    """Yield (n_k, base, hi, tag, payload_offset) per partition."""
    ends, maxima, pos = _pef_directory(data)
    base = -1
    start = 0
    for ci in range(maxima.size):
        hi = int(maxima[ci])
        n_k = int(ends[ci]) - start
        tag = data[pos]
        pos += 1
        yield n_k, base, hi, tag, pos
        if tag == 0:
            pos += _ef_size(n_k, hi - base)
        elif tag == 1:
            pos += (hi - base + 7) // 8
        base = hi
        start = int(ends[ci])


def _pef_part(data: bytes, n_k: int, base: int, hi: int, tag: int, pos: int):
    m = hi - base
    if tag == 2:
        rel = np.arange(n_k, dtype=np.uint64)
    elif tag == 1:
        raw = np.frombuffer(
            data, dtype=np.uint8, offset=pos, count=(m + 7) // 8
        )
        rel = np.flatnonzero(
            np.unpackbits(raw, bitorder="little", count=m)
        ).astype(np.uint64)
    else:
        rel = _ef_decode_raw(data, pos, n_k, m)
    return rel + np.uint64(base + 1)


def pef_decode(data: bytes) -> np.ndarray:
    """Inverse of :func:`pef_encode` -> uint64 array."""
    if len(data) == 0:
        return np.empty(0, dtype=np.uint64)
    parts = [
        _pef_part(data, n_k, base, hi, tag, pos)
        for n_k, base, hi, tag, pos in _pef_walk(data)
    ]
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)


def pef_select(data: bytes, i: int) -> int:
    """The i-th (0-based) value decoding only the directory and the
    owning partition — the skip primitive PEF keeps from EF. (The
    walk to the owning partition is offset arithmetic over the
    directory; no other partition's payload is touched.)"""
    n = int.from_bytes(data[0:4], "little")
    if not 0 <= i < n:
        raise IndexError(i)
    ends, _, _ = _pef_directory(data)
    target = int(np.searchsorted(ends, i, side="right"))
    start = int(ends[target - 1]) if target > 0 else 0
    for ci, (n_k, base, hi, tag, pos) in enumerate(_pef_walk(data)):
        if ci == target:
            part = _pef_part(data, n_k, base, hi, tag, pos)
            return int(part[i - start])
    raise IndexError(i)  # unreachable


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
