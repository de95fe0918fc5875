"""Golden end-to-end BM25 tests (SURVEY §5.2 item 3): engine paths
(exhaustive DataFrame, WAND, MaxScore) must be rank-identical to
the independent NumPy oracle, scores equal to atol 1e-6."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import build_index_dataframes, term_frequencies
from pisa_spark.query.bm25 import bm25_topk_dataframe, bm25_topk_wand
from tests.oracle import Bm25Oracle

QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
    {"query_id": 1, "terms": ["window", "merge", "scan"], "conjunctive": True},
    {"query_id": 2, "terms": ["zzz_absent"], "conjunctive": False},
    {"query_id": 3, "terms": ["the"], "conjunctive": False},  # stop-word, negative idf
    {"query_id": 4, "terms": ["data", "data", "query"], "conjunctive": False},  # dup terms
    {"query_id": 5, "terms": ["spark", "zzz_absent"], "conjunctive": True},  # absent AND
    # mixed idf under OR: rare positive term + head negative-idf term —
    # regression for the unsound negative-idf block prune (a skipped
    # negative block inflated scores of docs matched via 'dup')
    {"query_id": 6, "terms": ["dup", "query"], "conjunctive": False},
    {"query_id": 7, "terms": ["dup", "query"], "conjunctive": True},
]


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    postings, tstats, cstats, stats = build_index_dataframes(spark, sf_dir, n_buckets=8)
    return postings.cache(), stats


@pytest.fixture(scope="module")
def oracle(sf_dir):
    return Bm25Oracle(sf_dir)


def canon(rows):
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {k: sorted(v) for k, v in got.items()}


def assert_matches(got_rows, oracle, queries, k=10):
    got = canon(got_rows)
    for q in queries:
        expect = oracle.topk(q["terms"], k=k, conjunctive=q["conjunctive"])
        have = got.get(q["query_id"], [])
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in expect], (
            f"rank mismatch q{q['query_id']}: {have} != {expect}"
        )
        for (_, _, s1), (_, _, s2) in zip(have, expect):
            assert abs(s1 - s2) < 1e-6


def test_wand_matches_oracle(built, oracle):
    postings, stats = built
    rows = bm25_topk_wand(postings, QUERIES, stats["n_docs"], stats["avgdl"], k=10).collect()
    assert_matches(rows, oracle, QUERIES)


def test_dataframe_path_matches_oracle(spark, sf_dir, built, oracle):
    _, stats = built
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    tf = term_frequencies(toks)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf_full = tf.join(dfreq, "term")
    for conj in (False, True):
        subset = [q for q in QUERIES if q["conjunctive"] == conj]
        qdf = spark.createDataFrame(
            [(q["query_id"], t) for q in subset for t in q["terms"]],
            "query_id int, term string",
        )
        rows = bm25_topk_dataframe(
            tf_full, qdf, stats["n_docs"], stats["avgdl"], k=10, conjunctive=conj
        ).collect()
        assert_matches(rows, oracle, subset)


def test_pre_arranged_serving_path_matches(built, oracle):
    """pre_arranged=True (shuffle-free serving path over bucket-
    co-located partitions) must be rank-identical to the default path."""
    postings, stats = built
    arranged = postings.repartition(8, "bucket")
    rows = bm25_topk_wand(
        arranged, QUERIES, stats["n_docs"], stats["avgdl"], k=10,
        pre_arranged=True,
    ).collect()
    assert_matches(rows, oracle, QUERIES)


def test_mixed_idf_single_query(built, oracle):
    """Single-query latency mode (plain masked decode, not the batch's
    shared union decode) on a rare positive term + a head negative-idf
    term, under OR and AND."""
    postings, stats = built
    for conj in (False, True):
        q = [{"query_id": 0, "terms": ["dup", "query"], "conjunctive": conj}]
        rows = bm25_topk_wand(
            postings, q, stats["n_docs"], stats["avgdl"], k=10
        ).collect()
        assert_matches(rows, oracle, q)


def test_precomputed_term_dfs_matches(built, oracle):
    """term_dfs passed from a precollected stats table (the bench/
    serving path) must not change any ranking."""
    from pisa_spark.index.build import term_document_frequency, term_frequencies
    from pisa_spark.corpus import tokenize_documents

    postings, stats = built
    tf = term_frequencies(tokenize_documents(postings.sparkSession,
                                             "/root/testdata/sf0.001"))
    dfs = {r["term"]: int(r["df"])
           for r in term_document_frequency(tf).collect()}
    rows = bm25_topk_wand(
        postings, QUERIES, stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=dfs,
    ).collect()
    assert_matches(rows, oracle, QUERIES)


def test_k100(built, oracle):
    postings, stats = built
    q = [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False}]
    rows = bm25_topk_wand(postings, q, stats["n_docs"], stats["avgdl"], k=100).collect()
    assert_matches(rows, oracle, q, k=100)


def test_maxscore_matches_oracle(built, oracle):
    from pisa_spark.query.bm25 import bm25_topk_maxscore

    postings, stats = built
    rows = bm25_topk_maxscore(
        postings, QUERIES, stats["n_docs"], stats["avgdl"], k=10
    ).collect()
    assert_matches(rows, oracle, QUERIES)

