"""Negated-term (NOT) queries: '-term' excludes matching docs before
the top-k trim; scored over positive terms only. WAND and MaxScore
must agree with the exhaustive-composed reference exactly."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import parse_query, tokens_col
from pisa_spark.index.build import build_index_dataframes, term_frequencies
from pisa_spark.query.bm25 import (
    bm25_topk_dataframe,
    bm25_topk_maxscore,
    bm25_topk_wand,
)

NEG_QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False,
     "negated": ["the"]},
    {"query_id": 1, "terms": ["the"], "conjunctive": False,
     "negated": ["data"]},
    {"query_id": 2, "terms": ["window", "merge", "scan"],
     "conjunctive": True, "negated": ["query"]},
    {"query_id": 3, "terms": ["data"], "conjunctive": False,
     "negated": ["zzz_absent"]},  # negating an absent term is a no-op
]


def test_parse_query_negation():
    q = parse_query("data -join")
    assert q == {"terms": ["data"], "conjunctive": False, "negated": ["join"]}
    q = parse_query("+data -the join")
    assert q["conjunctive"] and q["terms"] == ["data", "join"]
    assert q["negated"] == ["the"]
    # interior hyphen still splits into positive terms
    assert parse_query("state-of-the-art")["terms"] == [
        "state", "of", "the", "art"
    ]
    assert "negated" not in parse_query("plain query")


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    postings, tstats, cstats, stats = build_index_dataframes(
        spark, sf_dir, n_buckets=8
    )
    return postings.cache(), stats


def _reference(spark, sf_dir, stats, q, k=10):
    """Exhaustive composition: BM25 over positive terms on the tf
    relation restricted to docs NOT containing any negated term."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    tf = term_frequencies(toks)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = tf.join(dfreq, "term")
    excl = (
        tf.filter(F.col("term").isin(q["negated"]))
        .select("doc_id")
        .distinct()
    )
    kept = tf.join(excl, "doc_id", "left_anti")
    qdf = docs.sparkSession.createDataFrame(
        [(q["query_id"], t) for t in q["terms"]], "query_id int, term string"
    )
    return bm25_topk_dataframe(
        kept, qdf, stats["n_docs"], stats["avgdl"], k=k,
        conjunctive=q["conjunctive"],
    )


def _canon(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 6))
        )
    return {k: sorted(v) for k, v in out.items()}


@pytest.mark.parametrize("impl", [bm25_topk_wand, bm25_topk_maxscore])
def test_negation_matches_exhaustive_reference(spark, sf_dir, built, impl):
    postings, stats = built
    got = _canon(
        impl(postings, NEG_QUERIES, stats["n_docs"], stats["avgdl"], k=10)
        .collect()
    )
    for q in NEG_QUERIES:
        want = _canon(_reference(spark, sf_dir, stats, q).collect()).get(
            q["query_id"], []
        )
        assert got.get(q["query_id"], []) == want, f"q{q['query_id']}"


def test_negation_excludes_all_matches(built):
    postings, stats = built
    # negating the query's own only term empties the result
    q = [{"query_id": 9, "terms": ["data"], "conjunctive": False,
          "negated": ["data"]}]
    rows = bm25_topk_wand(
        postings, q, stats["n_docs"], stats["avgdl"], k=10
    ).collect()
    assert rows == []
