"""Quantized impact index: build/decode round-trip, integer top-k
semantics, quantization-error bound vs exact BM25, layout invariance."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.quantized import (
    IDF_SCALE,
    IMPACT_SCALE,
    _decode_quant_blocks,
    build_quantized_postings,
    idf_quantized,
    impact_expr,
    quantized_index_dataframes,
    quantized_topk,
)

DOCS = [
    (0, "data join data table"),
    (1, "the the the the data"),
    (2, "query scan spark join"),
    (3, "spark query scan data join"),
    (4, "scan"),
    (5, "data data data data data data"),
    (6, "join the query"),
    (7, ""),
]


@pytest.fixture(scope="module")
def toks(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return (
        docs.select("doc_id", tokens_col(F.col("text")).alias("tokens"))
        .withColumn("doc_len", F.size("tokens"))
        .cache()
    )


@pytest.fixture(scope="module")
def stats(toks):
    r = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(r["n"]), float(r["avgdl"])


def _brute(qterms, conjunctive, n_docs, avgdl, k=10, docs=DOCS):
    """Pure-Python replay of the quantization contract over ``docs``
    (whitespace-separated lowercase tokens)."""
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for doc_id, text in docs:
        ts = [t for t in text.split() if t]
        dl[doc_id] = len(ts)
        for t in ts:
            tf[(doc_id, t)] = tf.get((doc_id, t), 0) + 1
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores: dict[int, int] = {}
    matched: dict[int, int] = {}
    terms = list(dict.fromkeys(qterms))
    for t in terms:
        if t not in df:
            if conjunctive:
                return []
            continue
        iq = math.floor(
            math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5)) * float(IDF_SCALE)
        )
        for d in dl:
            f = tf.get((d, t))
            if f is None:
                continue
            imp = math.floor(
                255.0 * f / (f + (0.54 + 0.36 * dl[d] / avgdl))
            )
            scores[d] = scores.get(d, 0) + imp * iq
            matched[d] = matched.get(d, 0) + 1
    if conjunctive:
        scores = {d: s for d, s in scores.items() if matched[d] == len(terms)}
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(r + 1, d, s) for r, (d, s) in enumerate(ranked)]


def test_block_payloads_round_trip(toks, stats):
    """Decoded (doc, impact) pairs == the codegen quantizer applied to
    the tf relation; impacts payload is fixed 1 byte/posting."""
    n_docs, avgdl = stats
    blocks = build_quantized_postings(
        toks, n_docs, avgdl, n_buckets=4, block_size=3
    ).toPandas()
    assert (blocks["imps"].str.len() == blocks["n"]).all()
    got = []
    for term, g in blocks.groupby("term"):
        g = g.sort_values(["bucket", "block_idx"])
        for _, bucket_g in g.groupby("bucket"):
            docs, imps = _decode_quant_blocks(bucket_g)
            got.extend((term, int(d), int(i)) for d, i in zip(docs, imps))
    from pisa_spark.index.build import term_frequencies

    want_df = term_frequencies(toks).select(
        "term", "doc_id", impact_expr(avgdl).alias("imp")
    ).toPandas()
    want = {(r.term, int(r.doc_id), int(r.imp)) for r in want_df.itertuples()}
    assert set(got) == want and len(got) == len(want)
    assert blocks["imp_max"].between(0, IMPACT_SCALE - 1).all()


@pytest.mark.parametrize(
    "terms,conjunctive",
    [
        (["data", "join"], False),
        (["the"], False),
        (["query", "scan", "spark"], True),
        (["data", "nosuchterm"], False),
        (["data", "nosuchterm"], True),  # missing term -> empty AND
        (["data", "data", "join"], False),  # repeated term scores once
    ],
)
def test_topk_matches_brute_force(spark, toks, stats, terms, conjunctive):
    n_docs, avgdl = stats
    postings = build_quantized_postings(
        toks, n_docs, avgdl, n_buckets=4, block_size=2
    )
    out = quantized_topk(
        postings,
        [{"query_id": 7, "terms": terms, "conjunctive": conjunctive}],
        n_docs,
        k=5,
    ).collect()
    got = [(r["rank"], r["doc_id"], r["score_q"]) for r in out]
    assert got == _brute(terms, conjunctive, n_docs, avgdl, k=5)


def test_quantization_error_bound(spark, toks, stats):
    """score_q * 1.9 / (255 * 2^16) approximates exact BM25 within the
    per-term bound 1.9*(|idf|+1)/255 + 1.9*|idf|/2^16 (module doc)."""
    n_docs, avgdl = stats
    terms = ["data", "join", "the"]
    postings = build_quantized_postings(toks, n_docs, avgdl, n_buckets=4)
    out = quantized_topk(
        postings,
        [{"query_id": 0, "terms": terms, "conjunctive": False}],
        n_docs,
        k=8,
    ).toPandas()
    from pisa_spark.index.build import term_frequencies
    from pisa_spark.query.bm25 import bm25_topk_dataframe

    tf = term_frequencies(toks)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    exact = bm25_topk_dataframe(
        tf.join(dfreq, "term"),
        spark.createDataFrame([(0, t) for t in terms], "query_id int, term string"),
        n_docs,
        avgdl,
        k=8,
    ).toPandas().set_index("doc_id")["score"]
    dfs = {r["term"]: r["df"] for r in dfreq.collect()}
    bound = sum(
        1.9 * (abs(math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))) + 1) / 255
        + 1.9 * abs(math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))) / IDF_SCALE
        for t in terms
    ) + 3 * 1.9 / IDF_SCALE
    approx = out.set_index("doc_id")["score_q"] * 1.9 / (255.0 * IDF_SCALE)
    joined = approx.to_frame("a").join(exact.to_frame("e"), how="inner")
    assert len(joined) >= 5
    assert (joined["a"] - joined["e"]).abs().max() <= bound


def test_layout_invariance(spark, toks, stats):
    """Same top-k rows regardless of bucket count / block size — the
    integer ranking admits exactly one answer."""
    n_docs, avgdl = stats
    q = [{"query_id": 3, "terms": ["data", "query"], "conjunctive": False}]
    outs = []
    for nb, bs in [(2, 128), (5, 1), (8, 3)]:
        postings = build_quantized_postings(
            toks, n_docs, avgdl, n_buckets=nb, block_size=bs
        )
        outs.append(
            tuple(
                (r["rank"], r["doc_id"], r["score_q"])
                for r in quantized_topk(postings, q, n_docs, k=10).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


def test_index_dataframes_smoke(spark, sf_dir):
    postings, stats = quantized_index_dataframes(spark, sf_dir, n_buckets=8)
    q = [
        {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
        {"query_id": 1, "terms": ["query", "scan"], "conjunctive": True},
    ]
    out = quantized_topk(postings, q, stats["n_docs"], k=10).toPandas()
    assert set(out.columns) == {"query_id", "rank", "doc_id", "score_q"}
    assert (out.groupby("query_id")["rank"].max() <= 10).all()
    assert out["score_q"].dtype == np.int64


def test_idf_quantized_sign():
    assert idf_quantized(1, 1000) > 0
    assert idf_quantized(900, 1000) < 0


def test_requantize_matches_direct_build(spark, toks, stats):
    """requantize(exact blocks) == build_quantized_postings at the same
    (n_buckets, block_size) — bit-identical rows, payloads included."""
    from pisa_spark.index.build import build_postings
    from pisa_spark.index.quantized import requantize_postings

    n_docs, avgdl = stats
    exact = build_postings(toks, n_docs, avgdl, n_buckets=4, block_size=3)
    via_requant = requantize_postings(exact, avgdl).toPandas()
    direct = build_quantized_postings(
        toks, n_docs, avgdl, n_buckets=4, block_size=3
    ).toPandas()
    key = ["bucket", "term", "block_idx"]
    a = via_requant.sort_values(key).reset_index(drop=True)
    b = direct.sort_values(key).reset_index(drop=True)
    assert a[sorted(a.columns)].equals(b[sorted(b.columns)])
    assert len(a) > 0


def test_facade_search_quantized(spark, sf_dir, tmp_path_factory):
    """Facade == module path; phrase/negation guards raise."""
    import pytest as _pytest

    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.quantized import (
        quantized_index_dataframes,
        quantized_topk,
    )

    root = str(tmp_path_factory.mktemp("qidx"))
    eng = SearchEngine.build(spark, sf_dir, root)
    got = eng.search_quantized(["data join", "+query scan"], k=10).collect()
    postings, st = quantized_index_dataframes(spark, sf_dir, n_buckets=16)
    want = quantized_topk(
        postings,
        [
            {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
            {"query_id": 1, "terms": ["query", "scan"], "conjunctive": True},
        ],
        st["n_docs"],
        k=10,
    ).collect()
    as_tuples = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_q"]) for r in rows
    )
    assert as_tuples(got) == as_tuples(want)
    with _pytest.raises(ValueError, match="phrase"):
        eng.search_quantized('"data join" fast')
    # '-term' now composes through the docs-only exclusion path
    neg = eng.search_quantized("data -join", k=50).collect()
    base = {
        r["doc_id"]: r["score_q"]
        for r in eng.search_quantized("data", k=500).collect()
    }
    joined = {
        r["doc_id"]
        for r in eng.search_quantized("join", k=500).collect()
    }
    assert neg and {r["doc_id"] for r in neg} <= set(base) - joined
    assert all(r["score_q"] == base[r["doc_id"]] for r in neg)


def test_seeded_batch_matches_brute_force(spark):
    """One batch over a seeded corpus with head terms (negative idf_q),
    AND/OR and single-term queries — the kernel's shared per-bucket
    decode — returns EXACTLY the brute-force replay, as does a single
    query."""
    import random

    rng = random.Random(421)
    vocab = [f"t{i}" for i in range(20)]
    docs = []
    for d in range(240):
        n = rng.randint(1, 30)
        # skew: t0/t1 are head terms (negative idf territory)
        words = [
            vocab[0] if rng.random() < 0.4
            else vocab[1] if rng.random() < 0.3
            else rng.choice(vocab)
            for _ in range(n)
        ]
        docs.append((d, " ".join(words)))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    toks = sdf.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    r = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(r["n"]), float(r["avgdl"])
    postings = build_quantized_postings(
        toks, n_docs, avgdl, n_buckets=6, block_size=8
    ).cache()
    queries = []
    for i in range(10):
        terms = rng.sample(vocab, rng.randint(1, 4))
        queries.append(
            {"query_id": i, "terms": terms, "conjunctive": rng.random() < 0.4}
        )
    queries.append({"query_id": 10, "terms": ["t0", "t1"], "conjunctive": False})

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score_q"])
            for r in df.collect()
        )

    def brute(qs, k):
        return sorted(
            (q["query_id"], *hit)
            for q in qs
            for hit in _brute(
                q["terms"], q["conjunctive"], n_docs, avgdl, k=k, docs=docs
            )
        )

    got = rows(quantized_topk(postings, queries, n_docs, k=5))
    assert got and got == brute(queries, 5)
    one = [{"query_id": 99, "terms": ["t2", "t3", "t0"], "conjunctive": False}]
    assert rows(quantized_topk(postings, one, n_docs, k=3)) == brute(one, 3)


def test_save_load_quantized_round_trip(spark, sf_dir, tmp_path_factory):
    """Persist the requantized twin through the catalog; reload serves
    the same top-k as the in-memory derivation."""
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.quantized import (
        load_quantized_index,
        requantize_postings,
        save_quantized_index,
    )

    root = str(tmp_path_factory.mktemp("qcat"))
    eng = SearchEngine.build(spark, sf_dir, root)
    quant = requantize_postings(eng.postings, float(eng.stats["avgdl"]))
    save_quantized_index(quant, root)
    loaded, stats = load_quantized_index(spark, root)
    assert stats["n_docs"] == eng.stats["n_docs"]
    q = [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False}]
    a = quantized_topk(loaded, q, stats["n_docs"], k=10).collect()
    b = quantized_topk(quant, q, stats["n_docs"], k=10).collect()
    key = lambda rows: [
        (r["rank"], r["doc_id"], r["score_q"]) for r in rows
    ]
    assert key(a) == key(b) and len(a) > 0
