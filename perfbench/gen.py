"""Seeded generator for the benchmark corpus and query log.

Everything here is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical ``documents.parquet`` files and identical query
logs. NumPy and pyarrow only — nothing from the engine under test.

Corpus shape (FIXTURES.md sections 1-2): Zipf(1.1) term frequencies over
a ~50k-word vocabulary, lognormal document lengths, plus edge documents
(single-token docs and docs made only of head terms). Documents carry
``doc_id, text, lang, source``.

Query log: 1-5 terms per query drawn from head, mid, tail (df <= 5)
and absent terms, some queries repeat a term, about half are AND, most
use k=10 and a few k=100. Every other term draw re-draws a term that
earlier queries already used, because the engine caches per-term
document frequencies and a repeated term skips a Spark job. The term
classes of fresh draws follow a fixed cycle, so every stretch of the
log — each 64-query batch in particular — has the same class mix and
seeds differ only in which words they draw.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
MEAN_DOC_LEN = 120
DOC_LEN_SIGMA = 0.8
MAX_DOC_LEN = 2_000
HEAD_RANKS = 50  # the head-term class: the 50 most frequent words
EDGE_SHARE = 0.01  # share of docs that are single-token / all-head docs
REPEAT_EVERY = 2  # every REPEAT_EVERY-th term draw re-draws a used term
# the query shape cycles with period 20, so every stretch of the log
# has the same mix: 1-5 terms, alternating OR/AND, one k=100 query and
# one repeated-term query per 20
SHAPE_PERIOD = 20
K100_SLOT = 7
DUP_TERM_SLOT = 13
TERM_CLASS_P = {"head": 0.3, "mid": 0.35, "tail": 0.2, "absent": 0.15}
CLASS_PERIOD = 20  # fresh draws per cycle of term classes
LANGS = np.array(["en", "de", "fr", "es", "zz"])
LANG_P = [0.95, 0.02, 0.01, 0.01, 0.01]


def word(i: int) -> str:
    """Vocabulary word for id ``i``: bijective base-26 letters with a
    'w' prefix, so every word is one [a-z0-9]+ token."""
    s = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s.append(chr(97 + r))
    return "w" + "".join(reversed(s))


def absent_word(i: int) -> str:
    """A token that never occurs in the corpus (digits never appear in
    vocabulary words)."""
    return f"zz{i}q"


VOCAB = np.array([word(i) for i in range(VOCAB_SIZE)], dtype=object)
VOCAB_INDEX = {w: i for i, w in enumerate(VOCAB)}


@dataclass
class Corpus:
    """Generated corpus: token ids per doc (CSR: ``tokens`` split at
    ``offsets``) plus the metadata columns written to parquet."""

    tokens: np.ndarray  # int32 word ids, all docs concatenated
    offsets: np.ndarray  # int64, len n_docs + 1
    lang: np.ndarray
    source: np.ndarray
    first_id: int = 0  # doc_id of row 0

    @property
    def n_docs(self) -> int:
        return self.offsets.size - 1

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i] : self.offsets[i + 1]]

    def texts(self) -> list[str]:
        words = VOCAB[self.tokens]
        return [
            " ".join(words[self.offsets[i] : self.offsets[i + 1]])
            for i in range(self.n_docs)
        ]


def _zipf_cdf(vocab: int, s: float) -> np.ndarray:
    w = np.arange(1, vocab + 1, dtype=np.float64) ** -s
    return np.cumsum(w / w.sum())


def gen_docs(rng: np.random.Generator, n_docs: int, first_id: int = 0) -> Corpus:
    """``n_docs`` documents: Zipf word draws, lognormal lengths, and an
    ``EDGE_SHARE`` of edge docs (half single-token, half head-only)."""
    mu = np.log(MEAN_DOC_LEN) - DOC_LEN_SIGMA**2 / 2
    lens = np.clip(
        np.rint(rng.lognormal(mu, DOC_LEN_SIGMA, n_docs)), 1, MAX_DOC_LEN
    ).astype(np.int64)
    kind = rng.random(n_docs)
    single = kind < EDGE_SHARE / 2
    head_only = (kind >= EDGE_SHARE / 2) & (kind < EDGE_SHARE)
    lens[single] = 1
    offsets = np.concatenate(([0], np.cumsum(lens)))
    cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)
    toks = np.searchsorted(cdf, rng.random(offsets[-1]), side="right")
    toks = np.minimum(toks, VOCAB_SIZE - 1).astype(np.int32)
    head_pos = np.repeat(head_only, lens)
    toks[head_pos] = rng.integers(0, HEAD_RANKS, int(head_pos.sum()))
    lang = LANGS[rng.choice(LANGS.size, n_docs, p=LANG_P)]
    source = np.array(
        [f"crawl-{c:02d}" for c in rng.integers(0, 16, n_docs)], dtype=object
    )
    return Corpus(toks, offsets, lang, source, first_id)


def concat(a: Corpus, b: Corpus) -> Corpus:
    """``b`` appended after ``a`` (ids continue densely)."""
    return Corpus(
        np.concatenate([a.tokens, b.tokens]),
        np.concatenate([a.offsets, a.offsets[-1] + b.offsets[1:]]),
        np.concatenate([a.lang, b.lang]),
        np.concatenate([a.source, b.source]),
        a.first_id,
    )


def replace_docs(c: Corpus, rows: np.ndarray, new: Corpus) -> Corpus:
    """Copy of ``c`` with the docs at ``rows`` replaced by the docs of
    ``new`` (same count): an in-place edit keeping doc ids."""
    lens = np.diff(c.offsets)
    new_lens = np.diff(new.offsets)
    parts = []
    pos = 0
    for r, i in sorted(zip(rows.tolist(), range(rows.size))):
        parts.append(c.tokens[c.offsets[pos] : c.offsets[r]])
        parts.append(new.doc_tokens(i))
        pos = r + 1
    parts.append(c.tokens[c.offsets[pos] :])
    lens = lens.copy()
    lens[rows] = new_lens
    lang, source = c.lang.copy(), c.source.copy()
    lang[rows], source[rows] = new.lang, new.source
    return Corpus(
        np.concatenate(parts),
        np.concatenate(([0], np.cumsum(lens))),
        lang,
        source,
        c.first_id,
    )


def write_documents(c: Corpus, path: str) -> int:
    """Write ``documents.parquet`` (doc_id, text, lang, source) as one
    file with fixed writer options, so equal corpora give equal bytes.
    Returns the total UTF-8 bytes of ``text``."""
    texts = c.texts()
    table = pa.table(
        {
            "doc_id": pa.array(
                np.arange(c.first_id, c.first_id + c.n_docs, dtype=np.int64)
            ),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(c.lang.tolist(), pa.string()),
            "source": pa.array(c.source.tolist(), pa.string()),
        }
    )
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return sum(len(t) for t in texts)  # ASCII words: chars == bytes


def doc_freqs(c: Corpus) -> np.ndarray:
    """df per word id over the corpus."""
    doc_of = np.repeat(np.arange(c.n_docs), np.diff(c.offsets))
    pairs = np.unique(doc_of.astype(np.int64) * VOCAB_SIZE + c.tokens)
    return np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)


def class_cycle(p: dict, n: int) -> list[str]:
    """``n`` class labels, ``round(share * n)`` of each class of ``p``,
    each class spread evenly over the cycle."""
    slots = []
    for c, share in p.items():
        k = round(share * n)
        slots += [((i + 0.5) / k, c) for i in range(k)]
    return [c for _, c in sorted(slots)]


def gen_queries(
    rng: np.random.Generator, df: np.ndarray, n: int
) -> list[dict]:
    """Query log of ``n`` queries ``{query_id, terms, conjunctive, k}``.

    Query ``i`` has ``1 + i % 5`` distinct terms and is AND when ``i``
    is odd; slots of the 20-query cycle add one k=100 query and one
    query repeating a term. Terms come from four classes over the
    corpus ``df``: head (the ``HEAD_RANKS`` most frequent words), mid
    (df between 6 and the head floor), tail (1 <= df <= 5) and absent,
    in the order of ``class_cycle(TERM_CLASS_P, CLASS_PERIOD)``. Every
    ``REPEAT_EVERY``-th draw instead re-draws one of the terms of
    earlier queries."""
    order = np.argsort(-df, kind="stable")
    head = order[:HEAD_RANKS]
    head_floor = df[head[-1]]
    mid = np.flatnonzero((df > 5) & (df < head_floor))
    tail = np.flatnonzero((df >= 1) & (df <= 5))
    classes = class_cycle(TERM_CLASS_P, CLASS_PERIOD)
    used: list[str] = []
    out = []
    draws = fresh = 0
    for qid in range(n):
        terms: list[str] = []
        while len(set(terms)) < 1 + qid % 5:
            draws += 1
            if used and draws % REPEAT_EVERY == 0:
                terms.append(used[int(rng.integers(len(used)))])
                continue
            c = classes[fresh % len(classes)]
            fresh += 1
            if c == "absent":
                terms.append(absent_word(int(rng.integers(1_000_000))))
            else:
                pool = {"head": head, "mid": mid, "tail": tail}[c]
                terms.append(str(VOCAB[pool[int(rng.integers(pool.size))]]))
        terms = list(dict.fromkeys(terms))
        slot = qid % SHAPE_PERIOD
        if slot == DUP_TERM_SLOT:
            terms.append(terms[int(rng.integers(len(terms)))])
        used.extend(terms)
        out.append(
            {
                "query_id": qid,
                "terms": terms,
                "conjunctive": qid % 2 == 1,
                "k": 100 if slot == K100_SLOT else 10,
            }
        )
    return out


def query_log_properties(queries: list[dict], df_of) -> dict:
    """Input properties of a query log as served in order: the share of
    query terms already seen in an earlier query, and the shares of
    tail (1 <= df <= 5) and absent (df == 0) terms. ``df_of`` maps a
    term to its df."""
    seen: set[str] = set()
    n = repeat = tail = absent = 0
    for q in queries:
        for t in q["terms"]:
            n += 1
            repeat += t in seen
            d = df_of(t)
            tail += 1 <= d <= 5
            absent += d == 0
        seen.update(q["terms"])
    return {
        "query_terms": n,
        "term_seen_share": round(repeat / max(n, 1), 4),
        "tail_term_share": round(tail / max(n, 1), 4),
        "absent_term_share": round(absent / max(n, 1), 4),
    }
