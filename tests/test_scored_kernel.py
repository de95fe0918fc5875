"""Scorer-generic pruned kernel (query/scored_kernel.py): rank+score
parity with the relational exhaustive path for every registered scorer,
and '-term' / filter / delete composition."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokenize_documents
from pisa_spark.index.build import build_postings, term_frequencies
from pisa_spark.query.scored_kernel import (
    scored_topk_pruned,
    term_stats_from_blocks,
)
from pisa_spark.query.scorers import scored_topk_dataframe


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    toks = tokenize_documents(spark, sf_dir)
    row = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_cf"),
    ).collect()[0]
    postings = build_postings(
        toks, int(row["n"]), float(row["avgdl"]), n_buckets=8, block_size=4
    ).cache()
    tf = term_frequencies(toks).cache()
    return postings, tf, int(row["n"]), float(row["avgdl"]), float(
        row["total_cf"]
    )


def _norm(rows):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows
    )


QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
    {"query_id": 1, "terms": ["the", "data"], "conjunctive": False},
    {"query_id": 2, "terms": ["data", "query"], "conjunctive": True},
]


@pytest.mark.parametrize("scorer", ["bm25", "bm25plus", "inl2", "qld", "qljm", "pl2", "dph"])
def test_kernel_matches_relational(built, spark, scorer):
    postings, tf, n_docs, avgdl, total_cf = built
    got = scored_topk_pruned(
        postings, [dict(q) for q in QUERIES], n_docs, avgdl, total_cf,
        scorer=scorer, k=10,
    ).collect()
    want = []
    for q in QUERIES:
        qdf = spark.createDataFrame(
            [(q["query_id"], t) for t in q["terms"]],
            "query_id int, term string",
        )
        want.extend(
            scored_topk_dataframe(
                tf, qdf, n_docs, avgdl, total_cf, scorer=scorer, k=10,
                conjunctive=q["conjunctive"],
            ).collect()
        )
    assert _norm(got) == _norm(want), scorer


def test_term_stats_from_blocks_matches_relation(built):
    postings, tf, *_ = built
    want = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in tf.filter(F.col("term").isin(["data", "the", "join"]))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    got = term_stats_from_blocks(postings, ["data", "the", "join", "zz"])
    assert {t: got[t] for t in want} == want
    assert got["zz"] == (0, 0)


def test_negation_composes(built):
    """'-term' exclusion: negated scored top-k == unfiltered top-k
    minus the docs containing the negated term, scores unchanged."""
    postings, tf, n_docs, avgdl, total_cf = built
    base = {
        r["doc_id"]: round(r["score"], 9)
        for r in scored_topk_pruned(
            postings,
            [{"query_id": 0, "terms": ["data", "join"],
              "conjunctive": False}],
            n_docs, avgdl, total_cf, scorer="qld", k=1000,
        ).collect()
    }
    negq = scored_topk_pruned(
        postings,
        [{"query_id": 0, "terms": ["data", "join"],
          "conjunctive": False, "negated": ["the"]}],
        n_docs, avgdl, total_cf, scorer="qld", k=1000,
    ).collect()
    has_the = {
        r["doc_id"]
        for r in tf.filter(F.col("term") == "the").select("doc_id").collect()
    }
    assert negq and {r["doc_id"] for r in negq} == set(base) - has_the
    assert all(round(r["score"], 9) == base[r["doc_id"]] for r in negq)


def test_facade_mixed_conjunctive_batch(spark, sf_dir, tmp_path_factory):
    """The kernel path serves mixed OR/AND batches per query — the old
    relational single-flag restriction is lifted."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("scored") / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    both = eng.search_scored(
        ["data join", "+data join"], scorer="qld", k=10
    ).collect()
    alone_or = eng.search_scored(["data join"], scorer="qld", k=10).collect()
    alone_and = eng.search_scored(["+data join"], scorer="qld", k=10).collect()
    per_qid = {}
    for r in both:
        per_qid.setdefault(r["query_id"], []).append(r)
    assert _norm(per_qid[0]) == _norm(alone_or)
    assert _norm(
        (dict(r.asDict(), query_id=0),)[0] for r in per_qid[1]
    ) == _norm(dict(r.asDict(), query_id=0) for r in alone_and)
