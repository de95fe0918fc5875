"""Quantized BM25F (query/bm25f_quant.py): integer contract vs an
independent pure-Python witness (same pinned float ops, dict/Counter
machinery), small-k trimming, and exclusion composition."""

import collections
import math

import pytest
from pyspark.sql import functions as F

from pisa_spark.query.bm25f_quant import (
    K1_UNITS,
    PTF_SCALE,
    SAT_SCALE,
    build_bm25f_quantized,
    bm25f_quantized_topk,
    field_avg_lengths_exact,
)

TITLE_LEN = 4  # small split so both fields are exercised
ROWS = [
    (0, "data join data scan merge table query window data join"),
    (1, "the the the the join data the the the the the the"),
    (2, "spark query scan window data spark spark"),
    (3, "solo data"),
    (4, "data data data join window query table scan data data data"),
    (5, "join scan join scan data the join join"),
    (6, "query data"),
]
QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
    {"query_id": 1, "terms": ["the", "data"], "conjunctive": False},
    {"query_id": 2, "terms": ["data", "query"], "conjunctive": True},
]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    toks = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    avgs = field_avg_lengths_exact(toks, title_len=TITLE_LEN)
    postings = build_bm25f_quantized(
        toks, n_buckets=3, title_len=TITLE_LEN, block_size=2,
        avg_field_lens=avgs,
    ).cache()
    return postings, avgs


def _witness(avgs, k=10):
    """Independent integer-contract replay: Python floats are IEEE
    doubles, ops in the same order as the engine and the twin."""
    params = {"title": (2.0, 0.5), "body": (1.0, 0.4)}
    tok = {d: t.split(" ") for d, t in ROWS}
    n_docs = len(tok)
    ptf: dict[tuple[int, str], int] = {}
    for d, ts in tok.items():
        fields = {"title": ts[:TITLE_LEN], "body": ts[TITLE_LEN:]}
        for f, ftoks in fields.items():
            w, b = params[f]
            fl = len(ftoks)
            for t, tf in collections.Counter(ftoks).items():
                u = math.floor(
                    PTF_SCALE * w * tf / (1.0 - b + b * fl / avgs[f])
                )
                ptf[(d, t)] = ptf.get((d, t), 0) + u
    dfc = collections.Counter(t for _, t in ptf)
    out = {}
    for q in QUERIES:
        terms = list(dict.fromkeys(q["terms"]))
        idf_q = {
            t: math.floor(
                math.log((n_docs - dfc[t] + 0.5) / (dfc[t] + 0.5)) * 65536.0
            )
            for t in terms
        }
        scores = {}
        for d in tok:
            matched = [t for t in terms if (d, t) in ptf]
            if not matched:
                continue
            if q["conjunctive"] and len(matched) < len(terms):
                continue
            s = 0
            for t in matched:
                p = ptf[(d, t)]
                s += idf_q[t] * math.floor(SAT_SCALE * p / (p + K1_UNITS))
            scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[q["query_id"]] = [
            (i + 1, d, s) for i, (d, s) in enumerate(ranked)
        ]
    return out


def _norm(rows):
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score_q"])
        )
    return out


def test_matches_python_witness(built, spark):
    postings, avgs = built
    got = _norm(
        bm25f_quantized_topk(
            postings, [dict(q) for q in QUERIES], len(ROWS), k=10
        ).collect()
    )
    assert got == _witness(avgs)


def test_small_k_matches_python_witness(built):
    """k below the per-bucket candidate count: the bucket-local trim and
    the global window keep exactly the witness's top 3."""
    postings, avgs = built
    got = _norm(
        bm25f_quantized_topk(
            postings, [dict(q) for q in QUERIES], len(ROWS), k=3
        ).collect()
    )
    assert got == _witness(avgs, k=3)


def test_negation_composes(built):
    postings, _ = built
    base = {
        r["doc_id"]: r["score_q"]
        for r in bm25f_quantized_topk(
            postings,
            [{"query_id": 0, "terms": ["data", "join"],
              "conjunctive": False}],
            len(ROWS), k=10,
        ).collect()
    }
    neg = bm25f_quantized_topk(
        postings,
        [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False,
          "negated": ["the"]}],
        len(ROWS), k=10,
    ).collect()
    has_the = {d for d, txt in ROWS if "the" in txt.split()}
    assert {r["doc_id"] for r in neg} == set(base) - has_the
    assert all(r["score_q"] == base[r["doc_id"]] for r in neg)
