"""RM3 expansion and static-prior blending: hand-checkable semantics
on tiny constructed tf relations."""

import math

from pyspark.sql import functions as F

from pisa_spark.query.feedback import rm3_expansion_terms, rm3_topk
from pisa_spark.query.scorers import scored_topk_dataframe


def _tf(spark, rows):
    # rows: (doc_id, term, tf, doc_len)
    return spark.createDataFrame(
        rows, "doc_id long, term string, tf int, doc_len int"
    )


def _q(spark, pairs):
    return spark.createDataFrame(pairs, "query_id int, term string")


def test_rm3_expansion_contains_original_and_feedback_terms(spark):
    # doc 0 matches 'apple' and also contains 'pear' heavily; doc 1 is
    # the only other 'apple' doc; 'kiwi' appears only in doc 9 which
    # never enters feedback
    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (1, "apple", 1, 10),
        (1, "plum", 2, 10),
        (9, "kiwi", 3, 10),
    ]
    tf = _tf(spark, rows)
    v = {
        (r["query_id"], r["term"]): r["v"]
        for r in rm3_expansion_terms(
            tf, _q(spark, [(0, "apple")]), n_docs=3, avgdl=10.0,
            fb_docs=2, fb_terms=2,
        ).collect()
    }
    # original term survives with at least the interpolated 0.5 * 1/|Q|
    assert v[(0, "apple")] >= 0.5
    # 'pear' (strongest feedback-doc term besides apple) is expanded
    assert (0, "pear") in v and v[(0, "pear")] > 0
    # 'kiwi' lives outside the feedback docs — never expanded
    assert (0, "kiwi") not in v
    # RM1 weight check for pear: only doc 0 in fb contains it ->
    # (5/10)/2 = 0.25, interpolated 0.5 * 0.25
    assert math.isclose(v[(0, "pear")], 0.5 * 0.25, rel_tol=1e-9)


def test_rm3_topk_recalls_docs_without_original_terms(spark):
    # doc 2 shares 'pear' with the feedback doc but lacks 'apple':
    # invisible to plain BM25, reachable after expansion
    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (1, "apple", 1, 10),
        (2, "pear", 4, 10),
    ]
    tf = _tf(spark, rows)
    q = _q(spark, [(0, "apple")])
    plain = {
        r["doc_id"]
        for r in scored_topk_dataframe(
            tf, q, 3, 10.0, 30.0, scorer="bm25", k=10
        ).collect()
    }
    rm3 = {
        r["doc_id"]
        for r in rm3_topk(tf, q, 3, 10.0, k=10, fb_docs=2, fb_terms=2).collect()
    }
    assert 2 not in plain
    assert 2 in rm3


def test_prior_blend_reranks_and_floors_missing_docs(spark):
    # two docs identical under BM25; the prior must break the tie in
    # favor of the doc with click mass, and doc 1 (absent from priors)
    # takes the ln(1/scale) floor
    rows = [(0, "x", 1, 5), (1, "x", 1, 5)]
    tf = _tf(spark, rows)
    q = _q(spark, [(0, "x")])
    priors = spark.createDataFrame(
        [(1, 10**9)], "doc_id long, prior_units long"
    )
    out = scored_topk_dataframe(
        tf, q, 2, 5.0, 10.0, scorer="bm25", k=10,
        priors=priors, prior_weight=0.1,
    ).collect()
    by_rank = {r["rank"]: r for r in out}
    assert by_rank[1]["doc_id"] == 1  # clicked doc wins
    # floor prior = 0.1 * ln(1/1e12) on the unclicked doc
    diff = by_rank[1]["score"] - by_rank[2]["score"]
    expected = 0.1 * (
        math.log((10**9 + 1) / 1e12) - math.log(1 / 1e12)
    )
    assert math.isclose(diff, expected, rel_tol=1e-9)


def test_engine_search_rm3_matches_relation_path(spark, sf_dir, tmp_path_factory):
    """Index-served RM3 (WAND pass 1 + doc-store feedback vectors +
    pruned-decode pass 2) == the tf-relation rm3_topk, rank for rank."""
    from pisa_spark.corpus import tokens_col
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import term_frequencies

    root = str(tmp_path_factory.mktemp("rm3") / "idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8
    ).with_corpus(sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    tf = term_frequencies(toks)
    q = spark.createDataFrame([(0, "data"), (0, "join")], "query_id int, term string")
    want = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in rm3_topk(tf, q, int(row[0]), float(row[1]), k=10).collect()
    ]
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in eng.search_rm3("data join", k=10).collect()
    ]
    assert sorted(got) == sorted(want)


def test_engine_search_reranked_matches_exhaustive_blend(spark, sf_dir, tmp_path_factory):
    """Two-stage rerank at full depth == the exhaustive prior blend
    (scored_topk_dataframe(priors=...)) — same formula, same floor."""
    from pisa_spark.corpus import tokens_col
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import term_frequencies

    root = str(tmp_path_factory.mktemp("rerank") / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    priors = spark.createDataFrame(
        [(i, 10**9 * (i % 7)) for i in range(0, 500, 3)],
        "doc_id long, prior_units long",
    )
    got = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in eng.search_reranked(
            "data join", priors, k=10, depth=500
        ).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len"), F.sum("doc_len")).collect()[0]
    q = spark.createDataFrame([(0, "data"), (0, "join")], "query_id int, term string")
    want = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in scored_topk_dataframe(
            term_frequencies(toks), q, int(row[0]), float(row[1]),
            float(row[2]), scorer="bm25", k=10, priors=priors,
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Bo1 (DFR / Bose-Einstein 1) expansion
# ---------------------------------------------------------------------------

def _bo1_witness_w(tf_x, cf, n_docs):
    LOG2E = 1.4426950408889634
    pn = cf * 1.0 / n_docs
    return round(
        tf_x * (math.log((1.0 + pn) / pn) * LOG2E)
        + (math.log(1.0 + pn) * LOG2E),
        9,
    )


def test_bo1_expansion_weights_match_witness(spark):
    from pisa_spark.query.feedback import bo1_expansion_terms

    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (1, "apple", 1, 10),
        (1, "plum", 2, 10),
        (9, "kiwi", 3, 10),
    ]
    tf = _tf(spark, rows)
    v = {
        (r["query_id"], r["term"]): r["v"]
        for r in bo1_expansion_terms(
            tf, _q(spark, [(0, "apple")]), n_docs=3, avgdl=10.0,
            fb_docs=2, fb_terms=2, beta=0.4,
        ).collect()
    }
    # fb docs for 'apple' are docs 0 and 1 (the only matches);
    # candidates: apple tf_x=3, pear tf_x=5, plum tf_x=2;
    # cf: apple 3, pear 5, plum 2, n_docs 3
    w = {
        "apple": _bo1_witness_w(3, 3, 3),
        "pear": _bo1_witness_w(5, 5, 3),
        "plum": _bo1_witness_w(2, 2, 3),
    }
    top2 = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    w_max = top2[0][1]
    expect = {}
    for t, wt in top2:
        expect[t] = 0.4 * (wt / w_max)
    expect["apple"] = expect.get("apple", 0.0) + 1.0
    got = {t: v[(0, t)] for (_, t) in v}
    assert set(got) == set(expect)
    for t in expect:
        assert math.isclose(got[t], expect[t], rel_tol=1e-12), t
    # 'kiwi' lives outside the feedback docs — never expanded
    assert (0, "kiwi") not in v


def test_bo1_topk_recalls_docs_without_original_terms(spark):
    from pisa_spark.query.feedback import bo1_topk

    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (2, "pear", 4, 10),
        (9, "kiwi", 3, 10),
    ]
    tf = _tf(spark, rows)
    out = bo1_topk(
        tf, _q(spark, [(0, "apple")]), n_docs=3, avgdl=10.0,
        fb_docs=1, fb_terms=2, k=10,
    ).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 in ids  # reachable only through the expanded 'pear'


def test_engine_search_bo1_matches_relation_path(spark, sf_dir, tmp_path_factory):
    """Index-served Bo1 (WAND pass 1 + doc-store candidate vectors +
    pruned-decode cf + pruned pass 2) == the tf-relation bo1_topk."""
    from pisa_spark.corpus import tokens_col
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import term_frequencies
    from pisa_spark.query.feedback import bo1_topk

    root = str(tmp_path_factory.mktemp("bo1") / "idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8
    ).with_corpus(sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    tf = term_frequencies(toks)
    q = spark.createDataFrame(
        [(0, "data"), (0, "join")], "query_id int, term string"
    )
    want = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in bo1_topk(tf, q, int(row[0]), float(row[1]), k=10).collect()
    ]
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in eng.search_bo1("data join", k=10).collect()
    ]
    assert sorted(got) == sorted(want)


def test_engine_search_bo1_negation_and_filter_guard(spark, sf_dir, tmp_path_factory):
    import pytest as _pytest

    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("bo1g") / "idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=4, wave_size=8
    ).with_corpus(sf_dir)
    # '-term' gates the FINAL ranking: no returned doc contains it
    res = eng.search_bo1("data -join", k=10).collect()
    joined = {
        r["doc_id"]
        for r in eng.search("join", k=1000).collect()
    }
    assert all(r["doc_id"] not in joined for r in res)
    with _pytest.raises(ValueError, match="filter"):
        eng.search_bo1({"terms": ["data"], "filter": [["lang:en"]]})


def test_persist_tf_changes_nothing(spark):
    """persist_tf is a physical hint: identical results either way."""
    from pisa_spark.query.feedback import bo1_topk

    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (1, "apple", 1, 10),
        (2, "pear", 4, 10),
        (9, "kiwi", 3, 10),
    ]
    tf = _tf(spark, rows)
    q = _q(spark, [(0, "apple")])
    for fn in (rm3_topk, bo1_topk):
        a = sorted(
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fn(tf, q, 4, 10.0, k=10).collect()
        )
        b = sorted(
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fn(tf, q, 4, 10.0, k=10, persist_tf=True).collect()
        )
        assert a == b


# ---------------------------------------------------------------------------
# Rocchio explicit relevance feedback
# ---------------------------------------------------------------------------

def _rocchio_frames(spark):
    rows = [
        (0, "apple", 2, 10),
        (0, "pear", 5, 10),
        (1, "apple", 1, 10),
        (1, "plum", 4, 10),
        (2, "spam", 6, 10),
        (2, "apple", 1, 10),
        (9, "kiwi", 3, 10),
    ]
    tf = _tf(spark, rows)
    q = _q(spark, [(0, "apple")])
    rel = spark.createDataFrame([(0, 0), (0, 1)], "query_id int, doc_id long")
    nrel = spark.createDataFrame([(0, 2)], "query_id int, doc_id long")
    return tf, q, rel, nrel


def test_rocchio_weights_match_witness(spark):
    from pisa_spark.query.feedback import rocchio_expansion_terms

    tf, q, rel, nrel = _rocchio_frames(spark)
    v = {
        r["term"]: r["v"]
        for r in rocchio_expansion_terms(tf, q, rel, nrel).collect()
    }
    # candidates are rel-doc terms: apple (2/10+1/10)/2=0.15,
    # pear 0.25, plum 0.2; nonrel doc 2: spam 0.6, apple 0.1
    w = {
        "apple": round(0.75 * 0.15 - 0.15 * 0.1, 9),
        "pear": round(0.75 * 0.25, 9),
        "plum": round(0.75 * 0.2, 9),
    }
    assert math.isclose(v["apple"], 1.0 + w["apple"], rel_tol=1e-9)
    assert math.isclose(v["pear"], w["pear"], rel_tol=1e-9)
    assert math.isclose(v["plum"], w["plum"], rel_tol=1e-9)
    # 'spam' only in the nonrel doc: not a candidate, never expanded
    assert "spam" not in v
    assert "kiwi" not in v


def test_rocchio_negative_weights_clamp(spark):
    from pisa_spark.query.feedback import rocchio_expansion_terms

    tf, q, rel, _ = _rocchio_frames(spark)
    # make the nonrel evidence overwhelm: gamma > beta on a term both
    # sides share -> its w would be negative -> must not select
    nrel = spark.createDataFrame([(0, 0)], "query_id int, doc_id long")
    v = {
        r["term"]: r["v"]
        for r in rocchio_expansion_terms(
            tf, q, rel, nrel, beta=0.1, gamma=5.0
        ).collect()
    }
    # apple and pear go negative and clamp (apple keeps only the
    # original-query component); plum has no nonrel evidence and
    # survives with its positive beta term
    assert math.isclose(v["apple"], 1.0, rel_tol=1e-9)
    assert "pear" not in v
    assert math.isclose(v["plum"], round(0.1 * 0.2, 9), rel_tol=1e-9)


def test_rocchio_topk_recalls_through_expansion(spark):
    from pisa_spark.query.feedback import rocchio_topk

    tf, q, rel, nrel = _rocchio_frames(spark)
    out = rocchio_topk(tf, q, rel, nrel, 5, 10.0, k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 9 not in ids  # kiwi doc shares nothing with the expansion
    assert 0 in ids and 1 in ids
