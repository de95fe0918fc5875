"""Independent exhaustive BM25 oracle (NumPy) and the answer check.

Shares nothing with the engine but the two BM25 constants. Scores every
document of the corpus for a query, with the idf form of FIXTURES.md
section 3: ``ln((N - df + 0.5) / (df + 0.5))`` (negative for df > N/2).

A query's terms score once each (duplicates collapse). OR matches docs
holding any term; AND matches docs holding every distinct term, so an
AND query with an absent term matches nothing. Ranking is score DESC,
then doc_id ASC. Deleted docs keep counting in N, avgdl and df (Lucene
stale statistics) and are only removed from the results.
"""

from __future__ import annotations

import numpy as np

from pisa_spark.index.build import BM25_B, BM25_K1

SCORE_TOL = 1e-6


class Bm25Oracle:
    """Exhaustive scorer over a tokenized corpus given as CSR arrays:
    ``tokens`` (term ids, docs concatenated) split at ``offsets``; doc
    ``i`` has id ``i``. ``vocab`` maps a term string to its id."""

    def __init__(self, tokens: np.ndarray, offsets: np.ndarray, vocab: dict):
        self.vocab = vocab
        self.n_docs = offsets.size - 1
        dl = np.diff(offsets).astype(np.float64)
        self.avgdl = float(dl.mean())
        n_terms = max(len(vocab), int(tokens.max(initial=-1)) + 1)
        doc_of = np.repeat(np.arange(self.n_docs, dtype=np.int64), np.diff(offsets))
        keys, tf = np.unique(
            tokens.astype(np.int64) * self.n_docs + doc_of, return_counts=True
        )
        # postings sorted by (term, doc): one slice per term
        self.p_term = keys // self.n_docs
        self.p_doc = keys % self.n_docs
        self.ptr = np.searchsorted(self.p_term, np.arange(n_terms + 1))
        self.df = np.diff(self.ptr)
        # per-posting BM25 term-frequency factor (no idf yet)
        tf = tf.astype(np.float64)
        norm = BM25_K1 * (1.0 - BM25_B + BM25_B * dl[self.p_doc] / self.avgdl)
        self.p_factor = tf * (BM25_K1 + 1.0) / (tf + norm)

    @classmethod
    def from_token_lists(cls, docs: list[list[str]]) -> "Bm25Oracle":
        vocab: dict[str, int] = {}
        ids = [vocab.setdefault(t, len(vocab)) for d in docs for t in d]
        offsets = np.concatenate(([0], np.cumsum([len(d) for d in docs])))
        return cls(np.array(ids, np.int64), offsets, vocab)

    def df_of(self, term: str) -> int:
        i = self.vocab.get(term)
        return 0 if i is None else int(self.df[i])

    def scores(
        self, terms: list[str], conjunctive: bool, deleted: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, scores) of every matching live doc, unordered."""
        ids = [self.vocab.get(t) for t in dict.fromkeys(terms)]
        present = [i for i in ids if i is not None and self.df[i] > 0]
        if not present or (conjunctive and len(present) < len(ids)):
            return np.empty(0, np.int64), np.empty(0)
        acc = np.zeros(self.n_docs)
        hits = np.zeros(self.n_docs, np.int64)
        for i in present:
            lo, hi = self.ptr[i], self.ptr[i + 1]
            df = float(hi - lo)
            idf = np.log((self.n_docs - df + 0.5) / (df + 0.5))
            docs = self.p_doc[lo:hi]
            acc[docs] += idf * self.p_factor[lo:hi]
            hits[docs] += 1
        match = hits == len(present) if conjunctive else hits > 0
        if deleted is not None and deleted.size:
            match[deleted] = False
        docs = np.flatnonzero(match)
        return docs, acc[docs]

    def topk(
        self, terms, conjunctive: bool, k: int, deleted=None
    ) -> list[tuple[int, float]]:
        """[(doc_id, score)] ranked score DESC, doc_id ASC."""
        docs, sc = self.scores(terms, conjunctive, deleted)
        order = np.lexsort((docs, -sc))[:k]
        return list(zip(docs[order].tolist(), sc[order].tolist()))

    def check(
        self, terms, conjunctive: bool, k: int, got: list[tuple[int, int, float]],
        deleted=None,
    ) -> str | None:
        """None if ``got`` — engine rows (rank, doc_id, score) — is a
        correct top-k, else the reason it is not.

        Correct means: ranks 1..n with n = min(k, matching docs); every
        returned doc matches with its oracle score within SCORE_TOL;
        the returned scores equal the oracle's top-k scores within
        SCORE_TOL rank by rank; scores never rise down the ranking by
        more than SCORE_TOL. Order among scores within SCORE_TOL of
        each other is not checked."""
        docs, sc = self.scores(terms, conjunctive, deleted)
        want = np.sort(sc)[::-1][:k]
        got = sorted(got)
        if [r for r, _, _ in got] != list(range(1, want.size + 1)):
            return f"ranks {[r for r, _, _ in got][:12]} for {want.size} expected rows"
        by_doc = dict(zip(docs.tolist(), sc.tolist()))
        g_docs = [d for _, d, _ in got]
        g_sc = np.array([s for _, _, s in got])
        if len(set(g_docs)) != len(g_docs):
            return "duplicate doc ids"
        for d, s in zip(g_docs, g_sc):
            if d not in by_doc:
                return f"doc {d} does not match (or is deleted)"
            if abs(by_doc[d] - s) > SCORE_TOL:
                return f"doc {d} score {s!r} != oracle {by_doc[d]!r}"
        if np.any(np.abs(np.sort(g_sc)[::-1] - want) > SCORE_TOL):
            return "returned scores are not the top-k scores"
        if np.any(np.diff(g_sc) > SCORE_TOL):
            return "scores rise down the ranking"
        return None
