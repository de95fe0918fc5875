"""Randomized exactness fuzz for the WAND kernel internals — no Spark.

wand_kernel is a plain Python closure over pandas frames, so hundreds
of random corpora can be pushed through it directly and compared to a
naive dense scorer. This hammers the soundness-critical region (block
pruning with negative-idf terms, tight thresholds, batch union-decode,
conjunctive filtering) far harder than the fixture corpus can.
"""

import numpy as np
import pandas as pd
import pytest

from pisa_spark.index import codec
from pisa_spark.index.build import BM25_B, BM25_K1
from pisa_spark.query.bm25 import maxscore_kernel, wand_kernel

BLOCK = 4  # tiny blocks force multi-block terms and real pruning


def make_blocks(rng, n_docs, vocab, n_buckets=2):
    """Random corpus -> (block frame rows, dense tf matrix, doc_lens)."""
    tf = (rng.random((n_docs, len(vocab))) < rng.uniform(0.1, 0.9, len(vocab))) * (
        1 + rng.integers(0, 3, (n_docs, len(vocab)))
    )
    doc_len = np.maximum(tf.sum(axis=1), 1)
    span = -(-n_docs // n_buckets)
    rows = []
    for ti, term in enumerate(vocab):
        docs = np.flatnonzero(tf[:, ti])
        if docs.size == 0:
            continue
        for b in range(n_buckets):
            bd = docs[(docs >= b * span) & (docs < (b + 1) * span)]
            for s in range(0, bd.size, BLOCK):
                d = bd[s : s + BLOCK]
                tfs = tf[d, ti]
                dls = doc_len[d]
                rows.append(
                    {
                        "bucket": b,
                        "term": term,
                        "block_idx": s // BLOCK,
                        "first_doc": int(d[0]),
                        "max_doc": int(d[-1]),
                        "n": int(d.size),
                        "tf_max": int(tfs.max()),
                        "tf_min": int(tfs.min()),
                        "dl_min": int(dls.min()),
                        "dl_max": int(dls.max()),
                        "docs": codec.delta_encode_docids(d.astype(np.int64)),
                        "tfs": codec.encode_payload(
                            tfs.astype(np.int64), minus_one=True
                        ),
                        "dls": codec.encode_payload(dls.astype(np.int64)),
                    }
                )
    return pd.DataFrame(rows), tf, doc_len


def naive_topk(tf, doc_len, terms, conjunctive, k, n_docs, avgdl,
               negated=()):
    terms = list(dict.fromkeys(terms))
    scores = np.zeros(tf.shape[0])
    matched = np.zeros(tf.shape[0], dtype=int)
    for ti in terms:
        col = tf[:, ti]
        df = (col > 0).sum()
        if df == 0:
            if conjunctive:
                return []
            continue
        idf = np.log((n_docs - df + 0.5) / (df + 0.5))
        has = col > 0
        denom = col + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len / avgdl)
        scores = scores + np.where(
            has, idf * (col * (BM25_K1 + 1.0)) / denom, 0.0
        )
        matched += has
    ok = matched == len(terms) if conjunctive else matched > 0
    for ti in negated:  # NOT semantics: any match in a negated term kills
        ok &= tf[:, ti] == 0
    # round before ranking: naive vs kernel float summation can differ
    # at ~1e-16, which must not flip tie ordering in the comparison
    cand = sorted(
        ((d, scores[d]) for d in np.flatnonzero(ok)),
        key=lambda x: (-round(x[1], 9), x[0]),
    )
    return cand[:k]


def run_kernel(blocks, queries, n_docs, avgdl, k, term_dfs, thresholds,
               factory=wand_kernel):
    kern = factory(queries, float(n_docs), float(avgdl), k, term_dfs, thresholds)
    frames = list(kern(iter([blocks])))
    out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=["query_id", "doc_id", "score"]
    )
    result = {}
    for qid, g in out.groupby("query_id"):
        cand = sorted(
            zip(g["doc_id"], g["score"]), key=lambda x: (-round(x[1], 9), x[0])
        )
        result[int(qid)] = cand[:k]
    return result


@pytest.mark.parametrize("factory", [wand_kernel, maxscore_kernel],
                         ids=["wand", "maxscore"])
@pytest.mark.parametrize("seed", range(40))
def test_wand_kernel_exact_under_fuzz(seed, factory):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(8, 60))
    vocab = list("abcdefg"[: rng.integers(3, 7)])
    blocks, tf, doc_len = make_blocks(rng, n_docs, vocab)
    n_total = n_docs
    avgdl = float(doc_len.mean())
    term_dfs = {t: int((tf[:, i] > 0).sum()) for i, t in enumerate(vocab)}
    term_dfs = {t: d for t, d in term_dfs.items() if d > 0}
    k = int(rng.integers(1, 8))

    queries = []
    for qid in range(4):
        nt = int(rng.integers(1, 4))
        terms = [vocab[rng.integers(0, len(vocab))] for _ in range(nt)]
        if rng.random() < 0.3:
            terms.append(terms[0])  # duplicate term
        q = {
            "query_id": qid,
            "terms": [t for t in terms if t in term_dfs] or [vocab[0]],
            "conjunctive": bool(rng.random() < 0.4),
        }
        if rng.random() < 0.5:  # negated terms interact with pruning,
            # thresholds, freezing and the dead set — fuzz them too
            q["negated"] = [
                vocab[rng.integers(0, len(vocab))]
                for _ in range(rng.integers(1, 3))
            ]
        queries.append(q)

    expected = {
        q["query_id"]: naive_topk(
            tf, doc_len,
            [vocab.index(t) for t in q["terms"]],
            q["conjunctive"], k, n_total, avgdl,
            negated=[vocab.index(t) for t in q.get("negated", [])],
        )
        for q in queries
    }

    # thresholds exactly as production derives them: the kernel's OWN
    # k-th score from an unpruned pass (bit-identical arithmetic — the
    # two-phase bootstrap contract), plus a slightly slack variant
    phase1 = run_kernel(blocks, queries, n_total, avgdl, k, term_dfs, {},
                        factory=factory)
    kth = {
        qid: (cand[k - 1][1] if len(cand) >= k else -np.inf)
        for qid, cand in phase1.items()
    }
    for thr in (
        {},
        {qid: v for qid, v in kth.items() if v != -np.inf},
        {qid: v - 1e-6 for qid, v in kth.items() if v != -np.inf},
    ):
        # batch mode (all queries -> union decode) and single mode
        for qset in ([queries], [[q] for q in queries]):
            for qs in qset:
                got = run_kernel(
                    blocks, qs, n_total, avgdl, k, term_dfs, thr,
                    factory=factory,
                )
                for q in qs:
                    qid = q["query_id"]
                    g = got.get(qid, [])
                    e = expected[qid]
                    assert [d for d, _ in g] == [d for d, _ in e], (
                        f"seed={seed} thr={bool(thr)} q={q} got={g} want={e}"
                    )
                    for (_, sg), (_, se) in zip(g, e):
                        assert abs(sg - se) < 1e-9


@pytest.mark.parametrize("seed", range(20))
def test_encode_groups_batch_split_invariance(seed):
    """_encode_groups must emit identical blocks no matter how Arrow
    splits the partition-sorted input into batches (the tail-group
    carry-over logic is the tricky part) — for the plain and the
    positional layout."""
    from pisa_spark.index.build import _encode_groups

    rng = np.random.default_rng(seed)
    rows = []
    for bucket in range(rng.integers(1, 4)):
        for term in "xyz"[: rng.integers(1, 4)]:
            docs = np.sort(
                rng.choice(np.arange(100), size=rng.integers(1, 30), replace=False)
            )
            for d in docs:
                tf = int(rng.integers(1, 5))
                rows.append(
                    {
                        "bucket": bucket,
                        "term": term,
                        "doc_id": int(d),
                        "tf": tf,
                        "doc_len": int(rng.integers(1, 40)),
                        "positions": np.sort(
                            rng.choice(np.arange(300), size=tf, replace=False)
                        ).astype(np.int32),
                    }
                )
    pdf = pd.DataFrame(rows).sort_values(["bucket", "term", "doc_id"]).reset_index(
        drop=True
    )

    def blocks(chunks, with_positions):
        frames = list(
            _encode_groups(iter(chunks), block_size=4,
                           with_positions=with_positions)
        )
        out = pd.concat(frames, ignore_index=True)
        return sorted(
            map(tuple, out.itertuples(index=False)),
            key=lambda r: (r[0], r[1], r[2]),
        )

    # random split points, including pathological 1-row batches
    n = len(pdf)
    cuts = np.sort(rng.choice(np.arange(1, n), size=min(n - 1, 7), replace=False))
    parts = [
        pdf.iloc[a:b].reset_index(drop=True)
        for a, b in zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [n])))
    ]
    one_row = [pdf.iloc[i : i + 1].reset_index(drop=True) for i in range(n)]
    for with_positions in (False, True):
        whole = blocks([pdf], with_positions)
        assert blocks(parts, with_positions) == whole
        assert blocks(one_row, with_positions) == whole


def naive_filtered_topk(tf, doc_len, terms, conjunctive, k, n_docs,
                        avgdl, negated=(), filters=()):
    """naive_topk + attribute-filter semantics: a doc survives only if
    it has EVERY filter pseudo-term."""
    cand = naive_topk(
        tf, doc_len, terms, conjunctive, 10**9, n_docs, avgdl,
        negated=negated,
    )
    keep = [
        (d, s) for d, s in cand
        if all(tf[d, fi] > 0 for fi in filters)
    ]
    return keep[:k]


@pytest.mark.parametrize("seed", range(25))
def test_wand_kernel_filter_fuzz(seed):
    """Attribute filters under fuzz: pseudo-terms ride the same block
    relation; filtered results must equal the naive composition for
    every combination of AND/OR, negation, thresholds, batch/single."""
    rng = np.random.default_rng(1000 + seed)
    n_docs = int(rng.integers(8, 60))
    real = list("abcde"[: rng.integers(3, 5)])
    pseudo = ["lang:x", "lang:y", "src:w"]
    vocab = real + pseudo
    blocks, tf, doc_len = make_blocks(rng, n_docs, vocab)
    # pseudo-term tf must be 0/1 presence (build contract); rebuild the
    # dense matrix columns accordingly by clipping
    for p in pseudo:
        pi = vocab.index(p)
        tf[:, pi] = (tf[:, pi] > 0).astype(tf.dtype)
    blocks, tf2, doc_len = make_blocks_from_tf(tf, vocab)
    avgdl = float(doc_len.mean())
    term_dfs = {
        t: int((tf[:, i] > 0).sum()) for i, t in enumerate(vocab)
    }
    term_dfs = {t: d for t, d in term_dfs.items() if d > 0}
    k = int(rng.integers(1, 6))

    queries = []
    for qid in range(4):
        terms = [real[rng.integers(0, len(real))]
                 for _ in range(rng.integers(1, 3))]
        q = {
            "query_id": qid,
            "terms": [t for t in terms if t in term_dfs] or [real[0]],
            "conjunctive": bool(rng.random() < 0.4),
            "filter": [
                pseudo[i]
                for i in sorted(
                    rng.choice(3, size=rng.integers(1, 3), replace=False)
                )
            ],
        }
        if rng.random() < 0.4:
            q["negated"] = [real[rng.integers(0, len(real))]]
        queries.append(q)

    expected = {
        q["query_id"]: naive_filtered_topk(
            tf, doc_len,
            [vocab.index(t) for t in q["terms"]],
            q["conjunctive"], k, n_docs, avgdl,
            negated=[vocab.index(t) for t in q.get("negated", [])],
            filters=[vocab.index(t) for t in q["filter"]],
        )
        for q in queries
    }
    phase1 = run_kernel(blocks, queries, n_docs, avgdl, k, term_dfs, {})
    kth = {
        qid: (cand[k - 1][1] if len(cand) >= k else -np.inf)
        for qid, cand in phase1.items()
    }
    for thr in ({}, {q: v for q, v in kth.items() if v != -np.inf}):
        for qset in ([queries], [[q] for q in queries]):
            for qs in qset:
                got = run_kernel(blocks, qs, n_docs, avgdl, k, term_dfs, thr)
                for q in qs:
                    g = got.get(q["query_id"], [])
                    e = expected[q["query_id"]]
                    assert [d for d, _ in g] == [d for d, _ in e], (
                        f"seed={seed} thr={bool(thr)} q={q} got={g} want={e}"
                    )
                    for (_, sg), (_, se) in zip(g, e):
                        assert abs(sg - se) < 1e-9


def make_blocks_from_tf(tf, vocab, n_buckets=2):
    """Rebuild the block frame from an (already clipped) dense tf."""
    rng = np.random.default_rng(0)  # unused randomness path
    n_docs = tf.shape[0]
    doc_len = np.maximum(tf.sum(axis=1), 1)
    span = -(-n_docs // n_buckets)
    rows = []
    for ti, term in enumerate(vocab):
        docs = np.flatnonzero(tf[:, ti])
        if docs.size == 0:
            continue
        for b in range(n_buckets):
            bd = docs[(docs >= b * span) & (docs < (b + 1) * span)]
            for s in range(0, bd.size, BLOCK):
                d = bd[s : s + BLOCK]
                tfs = tf[d, ti]
                dls = doc_len[d]
                rows.append({
                    "bucket": b, "term": term, "block_idx": s // BLOCK,
                    "first_doc": int(d[0]), "max_doc": int(d[-1]),
                    "n": int(d.size),
                    "tf_max": int(tfs.max()), "tf_min": int(tfs.min()),
                    "dl_min": int(dls.min()), "dl_max": int(dls.max()),
                    "docs": codec.delta_encode_docids(d.astype(np.int64)),
                    "tfs": codec.encode_payload(
                        tfs.astype(np.int64), minus_one=True
                    ),
                    "dls": codec.encode_payload(dls.astype(np.int64)),
                })
    return pd.DataFrame(rows), tf, doc_len


@pytest.mark.parametrize("seed", range(15))
def test_wand_kernel_filter_group_fuzz(seed):
    """Filter GROUPS (OR within a group, AND across groups — the
    numeric-range include shape) under fuzz vs the naive composition."""
    rng = np.random.default_rng(2000 + seed)
    n_docs = int(rng.integers(8, 50))
    real = list("abcd"[: rng.integers(2, 4)])
    pseudo = ["n#0:1", "n#0:2", "n#4:0", "lang:x"]
    vocab = real + pseudo
    blocks, tf, doc_len = make_blocks(rng, n_docs, vocab)
    for p in pseudo:
        pi = vocab.index(p)
        tf[:, pi] = (tf[:, pi] > 0).astype(tf.dtype)
    blocks, _, doc_len = make_blocks_from_tf(tf, vocab)
    avgdl = float(doc_len.mean())
    term_dfs = {
        t: int((tf[:, i] > 0).sum()) for i, t in enumerate(vocab)
    }
    term_dfs = {t: d for t, d in term_dfs.items() if d > 0}
    k = int(rng.integers(1, 6))

    queries, expected = [], {}
    for qid in range(3):
        terms = [real[rng.integers(0, len(real))]
                 for _ in range(rng.integers(1, 3))]
        terms = [t for t in terms if t in term_dfs] or [real[0]]
        # one union group (range-style) + optionally one equality term
        group = [pseudo[i] for i in sorted(
            rng.choice(3, size=rng.integers(1, 3), replace=False))]
        flt: list = [group]
        if rng.random() < 0.5:
            flt.append("lang:x")
        q = {"query_id": qid, "terms": terms,
             "conjunctive": bool(rng.random() < 0.4), "filter": flt}
        queries.append(q)
        cand = naive_topk(
            tf, doc_len, [vocab.index(t) for t in terms],
            q["conjunctive"], 10**9, n_docs, avgdl,
        )
        gi = [vocab.index(t) for t in group]
        keep = [
            (d, s) for d, s in cand
            if any(tf[d, i] > 0 for i in gi)
            and ("lang:x" not in flt or tf[d, vocab.index("lang:x")] > 0)
        ]
        expected[qid] = keep[:k]

    phase1 = run_kernel(blocks, queries, n_docs, avgdl, k, term_dfs, {})
    kth = {
        qid: (cand[k - 1][1] if len(cand) >= k else -np.inf)
        for qid, cand in phase1.items()
    }
    for thr in ({}, {q: v for q, v in kth.items() if v != -np.inf}):
        got = run_kernel(blocks, queries, n_docs, avgdl, k, term_dfs, thr)
        for q in queries:
            g = got.get(q["query_id"], [])
            e = expected[q["query_id"]]
            assert [d for d, _ in g] == [d for d, _ in e], (
                f"seed={seed} thr={bool(thr)} q={q} got={g} want={e}"
            )
