"""Sequential Dependence Model (query/sdm.py).

Contracts:
- scores match a brute-force token-level replay of the pinned feature
  definitions (Dirichlet unigram + ordered-adjacency + unordered
  window 8, zero-cf features dropped, candidates = union of term
  postings) on a hand-sized corpus AND on real testdata;
- attribute filters / '-term' negation gate candidates (score
  identity on survivors);
- engine routing: positional-index requirement, phrase rejection,
  tombstone-delete composition.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import attribute_tokens_col, build_postings
from pisa_spark.query.sdm import sdm_collection_stats, sdm_topk

SF = "/root/testdata/sf0.001"

DOCS = [
    (0, "order fast data join order fast", "en"),
    (1, "order fast the data", "de"),
    (2, "data order fast join query", "en"),
    (3, "order slow data fast order", "en"),
    (4, "the order fast", "fr"),
    (5, "order fast order fast data", "de"),
    (6, "join order fast data the", "en"),
]

MU, W = 2500.0, 8
L_T, L_O, L_U = 0.85, 0.10, 0.05


def _counts(tl, a, b):
    pa = [i for i, t in enumerate(tl) if t == a]
    pb = set(i for i, t in enumerate(tl) if t == b)
    o = sum(1 for i in pa if (i + 1) in pb)
    u = sum(1 for i in pa for j in pb if i != j and abs(i - j) < W)
    return o, u


def _brute(tok_rows: dict, terms: list[str], total: int, k: int = 10):
    cf = {t: sum(tl.count(t) for tl in tok_rows.values()) for t in set(terms)}
    prs = list(zip(terms, terms[1:]))
    cfo, cfu = {}, {}
    for a, b in set(prs):
        o = u = 0
        for tl in tok_rows.values():
            oo, uu = _counts(tl, a, b)
            o, u = o + oo, u + uu
        cfo[(a, b)], cfu[(a, b)] = o, u
    scores = {}
    for d, tl in tok_rows.items():
        if not any(t in tl for t in terms if cf[t] > 0):
            continue
        dl = len(tl)
        s = 0.0
        for t in terms:
            if cf[t] <= 0:
                continue
            s += L_T * (
                math.log(tl.count(t) + MU * cf[t] / total)
                - math.log(dl + MU)
            )
        for a, b in prs:
            o, u = _counts(tl, a, b)
            if cfo[(a, b)] > 0:
                s += L_O * (
                    math.log(o + MU * cfo[(a, b)] / total)
                    - math.log(dl + MU)
                )
            if cfu[(a, b)] > 0:
                s += L_U * (
                    math.log(u + MU * cfu[(a, b)] / total)
                    - math.log(dl + MU)
                )
        scores[d] = s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
    toks = docs.select(
        "doc_id", "lang", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    toks = toks.withColumn(
        "tokens", F.concat("tokens", attribute_tokens_col(["lang"]))
    ).select("doc_id", "tokens", "doc_len")
    r = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    postings = build_postings(
        toks, int(r["n"]), float(r["avgdl"]), n_buckets=3, block_size=2,
        with_positions=True,
    ).cache()
    tok_rows = {d: t.split() for d, t, _ in DOCS}
    total = sum(len(t) for t in tok_rows.values())
    return postings, tok_rows, total


def test_sdm_matches_brute_force_hand_corpus(built):
    postings, tok_rows, total = built
    queries = [
        {"query_id": 0, "terms": ["order", "fast"]},
        {"query_id": 1, "terms": ["data", "join", "query"]},
        {"query_id": 2, "terms": ["the"]},                # unigram only
        {"query_id": 3, "terms": ["data", "zzz_absent"]},  # cf=0 term
        {"query_id": 4, "terms": ["order", "order"]},      # repeated term
    ]
    got = sdm_topk(postings, queries, total, k=10).toPandas()
    for q in queries:
        exp = _brute(tok_rows, q["terms"], total)
        g = got[got.query_id == q["query_id"]].sort_values("rank")
        assert [int(x) for x in g.doc_id] == [d for d, _ in exp], q
        assert np.allclose(
            g.score.to_numpy(), [s for _, s in exp], atol=1e-9
        ), q


def test_sdm_stats_are_corpus_sums(built):
    postings, tok_rows, total = built
    stats = sdm_collection_stats(
        postings, [{"query_id": 0, "terms": ["order", "fast"]}]
    )
    o = u = cf_o = 0
    for tl in tok_rows.values():
        oo, uu = _counts(tl, "order", "fast")
        o, u = o + oo, u + uu
    assert stats["o"]["order|fast"] == o
    assert stats["u"]["order|fast"] == u
    assert stats["cf"]["order"] == sum(
        tl.count("order") for tl in tok_rows.values()
    )


def test_sdm_filter_and_negation_compose(built):
    postings, tok_rows, total = built
    base = {
        r["doc_id"]: round(r["score"], 9)
        for r in sdm_topk(
            postings, [{"query_id": 0, "terms": ["order", "fast"]}], total
        ).collect()
    }
    en = {d for d, _, lang in DOCS if lang == "en"}
    filt = {
        r["doc_id"]: round(r["score"], 9)
        for r in sdm_topk(
            postings,
            [{"query_id": 0, "terms": ["order", "fast"],
              "filter": ["lang:en"]}],
            total,
        ).collect()
    }
    assert set(filt) == set(base) & en
    assert all(filt[d] == base[d] for d in filt)
    neg = {
        r["doc_id"]: round(r["score"], 9)
        for r in sdm_topk(
            postings,
            [{"query_id": 0, "terms": ["order", "fast"],
              "negated": ["join"]}],
            total,
        ).collect()
    }
    joined = {d for d, t, _ in DOCS if "join" in t.split()}
    assert set(neg) == set(base) - joined
    assert all(neg[d] == base[d] for d in neg)


def test_sdm_on_testdata_matches_brute_force(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    r = toks.agg(
        F.count(F.lit(1)), F.avg("doc_len"), F.max("doc_id"), F.sum("doc_len")
    ).collect()[0]
    postings = build_postings(
        toks, int(r[0]), float(r[1]), n_buckets=8, max_doc_id=int(r[2]),
        with_positions=True,
    )
    total = int(r[3])
    tok_rows = {
        row["doc_id"]: list(row["tokens"]) for row in toks.collect()
    }
    queries = [
        {"query_id": 0, "terms": ["data", "join"]},
        {"query_id": 1, "terms": ["spark", "query", "scan"]},
    ]
    got = sdm_topk(postings, queries, total, k=10).toPandas()
    for q in queries:
        exp = _brute(tok_rows, q["terms"], total)
        g = got[got.query_id == q["query_id"]].sort_values("rank")
        assert [int(x) for x in g.doc_id] == [d for d, _ in exp], q
        assert np.allclose(
            g.score.to_numpy(), [s for _, s in exp], atol=1e-9
        ), q


def test_engine_sdm_routing_and_deletes(spark, tmp_path):
    from pisa_spark.engine import SearchEngine

    eng = SearchEngine.build(
        spark, SF, str(tmp_path / "sdmidx"), n_buckets=8, wave_size=8,
        with_positions=True,
    )
    got = eng.search_sdm("data join", k=5).toPandas()
    assert len(got) == 5 and list(got.columns) == [
        "query_id", "rank", "doc_id", "score",
    ]
    with pytest.raises(ValueError):
        eng.search_sdm('"data join"')
    top = int(got.sort_values("rank").doc_id.iloc[0])
    eng.delete_docs([top], persist=False)
    after = eng.search_sdm("data join", k=5).toPandas()
    assert top not in set(after.doc_id)
    # surviving docs keep their exact scores (stale-stats convention)
    before = dict(zip(got.doc_id, got.score))
    kept = dict(zip(after.doc_id, after.score))
    for d in set(kept) & set(before):
        assert abs(kept[d] - before[d]) < 1e-12
    # non-positional index refuses
    plain = SearchEngine.build(
        spark, SF, str(tmp_path / "plainidx"), n_buckets=8, wave_size=8
    )
    with pytest.raises(ValueError):
        plain.search_sdm("data join")


def test_loaded_engine_sdm_needs_no_bucket_shuffle(spark, tmp_path):
    """A load()ed engine's serving relation is already bucket-arranged
    (here the stored one-file-per-bucket layout, so the scan itself
    holds no exchange): search_sdm plans no hashpartitioning(bucket)
    exchange, and its rows equal the brute-force replay."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path / "sdmload")
    SearchEngine.build(
        spark, SF, root, n_buckets=8, wave_size=8, with_positions=True
    )
    eng = SearchEngine.load(spark, root, cache=False)
    assert eng._pre_arranged
    got = eng.search_sdm("data join", k=10)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bucket" not in plan, plan
    toks = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    )
    tok_rows = {
        row["doc_id"]: list(row["tokens"]) for row in toks.collect()
    }
    total = sum(len(t) for t in tok_rows.values())
    exp = _brute(tok_rows, ["data", "join"], total)
    g = got.toPandas().sort_values("rank")
    assert [int(x) for x in g.doc_id] == [d for d, _ in exp]
    assert np.allclose(g.score.to_numpy(), [s for _, s in exp], atol=1e-9)
