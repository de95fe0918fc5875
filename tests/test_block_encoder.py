"""The segmented block encoder (index/build.py _encode_groups) against a
per-block reference written from the codec spec: every block's bytes
must equal codec.delta_encode_docids / encode_payload /
encode_positions applied to that block alone, so existing indexes stay
valid and index sizes cannot move."""

import numpy as np
import pandas as pd
import pytest

from pisa_spark.index import codec
from pisa_spark.index.build import _encode_groups

BLOCK = 8


def reference_blocks(pdf: pd.DataFrame, block_size: int, with_positions: bool):
    """One row per block, built group by group and block by block."""
    rows = []
    for (bucket, term), g in pdf.groupby(["bucket", "term"], sort=True):
        g = g.sort_values("doc_id")
        d = g["doc_id"].to_numpy(np.int64)
        tf = g["tf"].to_numpy(np.int64)
        dl = g["doc_len"].to_numpy(np.int64)
        for bi in range(0, d.size, block_size):
            sl = slice(bi, bi + block_size)
            row = (
                int(bucket), term, bi // block_size, int(d[sl][0]),
                int(d[sl][-1]), int(d[sl].size), int(tf[sl].max()),
                int(tf[sl].min()), int(dl[sl].min()), int(dl[sl].max()),
                codec.delta_encode_docids(d[sl]),
                codec.encode_payload(tf[sl], minus_one=True),
                codec.encode_payload(dl[sl]),
            )
            if with_positions:
                row += (codec.encode_positions(list(g["positions"].iloc[sl])),)
            rows.append(row)
    return sorted(rows, key=lambda r: (r[0], r[1], r[2]))


def encoded_blocks(chunks, block_size: int, with_positions: bool):
    out = pd.concat(
        list(_encode_groups(iter(chunks), block_size, with_positions)),
        ignore_index=True,
    )
    rows = [
        tuple(v.item() if isinstance(v, np.generic) else v for v in r)
        for r in out.itertuples(index=False)
    ]
    return sorted(rows, key=lambda r: (r[0], r[1], r[2]))


def random_postings(seed: int) -> pd.DataFrame:
    """Many buckets and terms in one batch. Group sizes include exactly
    BLOCK, BLOCK + 1 and 1; doc-id gaps reach 5-byte varints; tf = 1 is
    common; position gaps reach multi-byte varints."""
    rng = np.random.default_rng(seed)
    rows = []
    for bucket in range(int(rng.integers(2, 6))):
        base = bucket * (1 << 34)
        for t in range(int(rng.integers(3, 25))):
            size = int(rng.choice([1, BLOCK, BLOCK + 1, 2 * BLOCK,
                                   int(rng.integers(1, 40))]))
            gaps = rng.choice(
                [1, 2, 130, 1 << 20, 1 << 29], size=size,
                p=[0.4, 0.2, 0.2, 0.1, 0.1],
            )
            docs = base + np.cumsum(gaps)
            for d in docs:
                tf = int(rng.choice([1, 1, 2, int(rng.integers(1, 9))]))
                pos = np.sort(
                    rng.choice(np.arange(1 << 15), size=tf, replace=False)
                ).astype(np.int32)
                rows.append({
                    "bucket": np.int32(bucket), "term": f"t{t:02d}",
                    "doc_id": np.int64(d), "tf": np.int32(tf),
                    "doc_len": np.int32(rng.integers(0, 70000)),
                    "positions": pos,
                })
    pdf = pd.DataFrame(rows)
    return pdf.sort_values(["bucket", "term", "doc_id"]).reset_index(drop=True)


@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("seed", range(12))
def test_segmented_encoder_matches_per_block_reference(seed, with_positions):
    pdf = random_postings(seed)
    expect = reference_blocks(pdf, BLOCK, with_positions)
    assert encoded_blocks([pdf], BLOCK, with_positions) == expect
    # the same bytes through Arrow-sized batches that split groups
    rng = np.random.default_rng(seed + 100)
    n = len(pdf)
    cuts = np.sort(rng.choice(np.arange(1, n), size=min(n - 1, 9), replace=False))
    parts = [
        pdf.iloc[a:b].reset_index(drop=True)
        for a, b in zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [n])))
    ]
    assert encoded_blocks(parts, BLOCK, with_positions) == expect


@pytest.mark.parametrize("size", [1, BLOCK, BLOCK + 1])
def test_group_size_edges(size):
    """A lone group of exactly 1, BLOCK and BLOCK + 1 postings with
    tf = 1 everywhere and a doc-id gap that needs a 5-byte varint."""
    docs = np.arange(size, dtype=np.int64) * (1 << 30) + 7
    pdf = pd.DataFrame({
        "bucket": np.zeros(size, np.int32), "term": ["a"] * size,
        "doc_id": docs, "tf": np.ones(size, np.int32),
        "doc_len": np.full(size, 3, np.int32),
        "positions": [np.array([0], np.int32)] * size,
    })
    for wp in (False, True):
        got = encoded_blocks([pdf], BLOCK, wp)
        assert got == reference_blocks(pdf, BLOCK, wp)
        assert [r[5] for r in got] == [min(size, BLOCK)] + (
            [1] if size > BLOCK else []
        )
    if size > 1:
        assert len(codec.delta_encode_docids(docs[:2])) == 1 + 5


def test_rejects_unsorted_docs_and_bad_payloads():
    pdf = pd.DataFrame({
        "bucket": np.zeros(3, np.int32), "term": ["a"] * 3,
        "doc_id": np.array([5, 5, 9], np.int64),
        "tf": np.ones(3, np.int32), "doc_len": np.ones(3, np.int32),
    })
    with pytest.raises(ValueError, match="strictly increasing"):
        list(_encode_groups(iter([pdf]), BLOCK))
    pdf["doc_id"] = np.array([1, 2, 3], np.int64)
    pdf["tf"] = np.array([1, 0, 1], np.int32)
    with pytest.raises(ValueError, match="non-negative"):
        list(_encode_groups(iter([pdf]), BLOCK))
