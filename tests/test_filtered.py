"""Attribute-filtered search: filter-as-postings build, bucket-local
include intersection, scoring integrity, facade guards."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import attribute_tokens_col, build_postings
from pisa_spark.query.bm25 import bm25_topk_maxscore, bm25_topk_wand

DOCS = [
    # (doc_id, text, lang, source)
    (0, "data join data table", "en", "web"),
    (1, "the the the data join", "de", "web"),
    (2, "query scan spark join data", "en", "wiki"),
    (3, "spark query scan data join", "en", "web"),
    (4, "data join scan", "fr", "wiki"),
    (5, "data data join", "en", None),  # null attribute -> 'source:null'
    (6, "join the query data", "de", "wiki"),
]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string"
    )
    toks = docs.select(
        "doc_id", "lang", "source", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    toks = toks.withColumn(
        "tokens", F.concat("tokens", attribute_tokens_col(["lang", "source"]))
    ).select("doc_id", "tokens", "doc_len")
    r = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    postings = build_postings(
        toks, int(r["n"]), float(r["avgdl"]), n_buckets=3, block_size=2
    ).cache()
    return postings, int(r["n"]), float(r["avgdl"])


def _filtered_ids(pred):
    return {d for d, _, lang, src in DOCS if pred(lang, src)}


def test_filter_restricts_and_preserves_scores(built):
    """Filtered top-k == unfiltered top-k restricted to matching docs,
    with IDENTICAL scores (pseudo-terms are never scored and doc_len
    excludes them)."""
    postings, n_docs, avgdl = built
    base = {"query_id": 0, "terms": ["data", "join"], "conjunctive": False}
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_wand(
            postings, [dict(base)], n_docs, avgdl, k=10
        ).collect()
    }
    got = bm25_topk_wand(
        postings, [dict(base, filter=["lang:en"])], n_docs, avgdl, k=10
    ).collect()
    want_ids = _filtered_ids(lambda l, s: l == "en") & set(unfiltered)
    assert {r["doc_id"] for r in got} == want_ids
    for r in got:
        assert r["score"] == pytest.approx(unfiltered[r["doc_id"]], abs=0)


def test_multiple_filters_intersect(built):
    postings, n_docs, avgdl = built
    got = bm25_topk_wand(
        postings,
        [{"query_id": 1, "terms": ["data"], "conjunctive": False,
          "filter": ["lang:en", "source:wiki"]}],
        n_docs, avgdl, k=10,
    ).collect()
    assert {r["doc_id"] for r in got} == _filtered_ids(
        lambda l, s: l == "en" and s == "wiki"
    )


def test_null_attribute_and_no_match(built):
    postings, n_docs, avgdl = built
    got = bm25_topk_wand(
        postings,
        [{"query_id": 2, "terms": ["data"], "conjunctive": False,
          "filter": ["source:null"]}],
        n_docs, avgdl, k=10,
    ).collect()
    assert {r["doc_id"] for r in got} == {5}
    assert (
        bm25_topk_wand(
            postings,
            [{"query_id": 3, "terms": ["data"], "conjunctive": False,
              "filter": ["lang:zz"]}],
            n_docs, avgdl, k=10,
        ).count()
        == 0
    )


def test_filter_composes_with_negation_and_conjunction(built):
    postings, n_docs, avgdl = built
    q = {"query_id": 4, "terms": ["data", "join"], "conjunctive": True,
         "negated": ["query"], "filter": ["lang:en"]}
    got = {
        r["doc_id"]
        for r in bm25_topk_wand(
            postings, [dict(q)], n_docs, avgdl, k=10
        ).collect()
    }
    # en docs containing data AND join, minus those containing 'query'
    assert got == {0, 5}


def test_maxscore_rejects_filters(built):
    postings, n_docs, avgdl = built
    with pytest.raises(ValueError, match="WAND"):
        bm25_topk_maxscore(
            postings,
            [{"query_id": 5, "terms": ["data"], "conjunctive": False,
              "filter": ["lang:en"]}],
            n_docs, avgdl,
        )


def test_build_index_dataframes_attribute_stats_unchanged(spark, sf_dir):
    """avgdl/total_terms identical with and without attribute_cols —
    pseudo-terms must not leak into scoring stats."""
    from pisa_spark.index.build import build_index_dataframes

    _, _, cs_plain, st_plain = build_index_dataframes(spark, sf_dir, n_buckets=4)
    _, _, cs_attr, st_attr = build_index_dataframes(
        spark, sf_dir, n_buckets=4, attribute_cols=["lang", "source"]
    )
    assert st_plain == st_attr
    assert cs_plain.collect() == cs_attr.collect()


def test_facade_filtered_and_resumable_attrs(spark, sf_dir, tmp_path_factory):
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("fidx"))
    eng = SearchEngine.build(
        spark, sf_dir, root, attribute_cols=["lang"]
    )
    got = eng.search_filtered("data join", {"lang": "en"}, k=10).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    en_ids = set(docs[docs.lang == "en"].doc_id)
    assert len(got) > 0 and set(got.doc_id) <= en_ids
    # scores match the unfiltered run on the same docs
    base = eng.search("data join", k=500).toPandas().set_index("doc_id")
    for r in got.itertuples():
        assert r.score == base.loc[r.doc_id, "score"]
    # unindexed attribute raises; a phrase on a non-positional index
    # raises the positional requirement (phrase x filter itself now
    # composes — tests/test_phrase_filtered.py); empty filters raise
    with pytest.raises(ValueError, match="not indexed"):
        eng.search_filtered("data", {"source": "web"})
    with pytest.raises(ValueError, match="positional"):
        eng.search_filtered('"data join"', {"lang": "en"})
    with pytest.raises(ValueError, match="no filters"):
        eng.search_filtered("data", {})


def test_wildcard_composes_with_filter(built, spark):
    """wildcard_topk forwards attribute filters to the WAND kernel."""
    from pisa_spark.query.fuzzy import wildcard_topk

    postings, n_docs, avgdl = built
    got = wildcard_topk(
        postings,
        [{"query_id": 9, "terms": [], "wildcards": ["dat*"],
          "filter": ["lang:en"]}],
        n_docs, avgdl, k=10,
    ).collect()
    assert {r["doc_id"] for r in got} == _filtered_ids(
        lambda l, s: l == "en"
    ) & {0, 1, 2, 3, 4, 5, 6}
    # 'dat*' matches 'data'; every doc has it, so the filter decides


def test_quantized_composes_filters_and_negation(built, spark):
    """Filters and '-term' negation now compose with the integer
    kernel: filtered/negated quantized top-k == unfiltered quantized
    top-k restricted to the allowed docs, scores identical (the
    inclusion/exclusion is doc-level and never touches impacts)."""
    from pisa_spark.index.quantized import (
        quantized_topk, requantize_postings,
    )

    postings, n_docs, avgdl = built
    quant = requantize_postings(postings, avgdl).cache()
    base = {
        r["doc_id"]: r["score_q"]
        for r in quantized_topk(
            quant,
            [{"query_id": 0, "terms": ["data", "join"],
              "conjunctive": False}],
            n_docs, k=10,
        ).collect()
    }
    filt = quantized_topk(
        quant,
        [{"query_id": 0, "terms": ["data", "join"],
          "conjunctive": False, "filter": ["lang:en"]}],
        n_docs, k=10,
    ).collect()
    en = _filtered_ids(lambda l, s: l == "en")
    assert {r["doc_id"] for r in filt} == set(base) & en
    assert all(r["score_q"] == base[r["doc_id"]] for r in filt)
    negq = quantized_topk(
        quant,
        [{"query_id": 0, "terms": ["data", "join"],
          "conjunctive": False, "negated": ["the"]}],
        n_docs, k=10,
    ).collect()
    has_the = {d for d, txt, _, _ in DOCS if "the" in txt.split()}
    assert {r["doc_id"] for r in negq} == set(base) - has_the
    assert all(r["score_q"] == base[r["doc_id"]] for r in negq)


def test_facade_filter_forwarding_and_guards(spark, sf_dir, tmp_path_factory):
    """Dict queries with 'filter' are forwarded by search()/search_batch
    and refused (never silently dropped) by paths without an include
    intersection; paths that gained the intersection (search_scored,
    search_quantized) restrict to the filtered docs with unchanged
    scores."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("fwd"))
    eng = SearchEngine.build(spark, sf_dir, root, attribute_cols=["lang"])
    q = {"terms": ["data", "join"], "filter": ["lang:en"]}
    via_search = eng.search(dict(q), k=10).toPandas()
    via_filtered = eng.search_filtered(
        {"terms": ["data", "join"]}, {"lang": "en"}, k=10
    ).toPandas()
    assert via_search[["doc_id", "score"]].round(9).values.tolist() == \
        via_filtered[["doc_id", "score"]].round(9).values.tolist()
    for call in (
        lambda: eng.search_rm3(dict(q)),
        lambda: eng.search_synonyms(dict(q)),
    ):
        with pytest.raises(ValueError):
            call()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    en_ids = set(docs[docs.lang == "en"].doc_id)
    base_s = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_scored(
            [{"terms": ["data", "join"]}], scorer="qld", k=500
        ).collect()
    }
    got_s = eng.search_scored([dict(q)], scorer="qld", k=500).collect()
    assert got_s and {r["doc_id"] for r in got_s} == set(base_s) & en_ids
    assert all(round(r["score"], 9) == base_s[r["doc_id"]] for r in got_s)
    base_q = {
        r["doc_id"]: r["score_q"]
        for r in eng.search_quantized(
            {"terms": ["data", "join"]}, k=500
        ).collect()
    }
    got_q = eng.search_quantized(dict(q), k=500).collect()
    assert got_q and {r["doc_id"] for r in got_q} == set(base_q) & en_ids
    assert all(r["score_q"] == base_q[r["doc_id"]] for r in got_q)


def test_explain_sums_to_search_score(spark, sf_dir, tmp_path_factory):
    """sum(contrib) per doc in explain() == the search() score (same
    expression, same association), and the anatomy columns are sane."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("xidx"))
    eng = SearchEngine.build(spark, sf_dir, root)
    top = eng.search("data join", k=3).toPandas()
    ids = top.doc_id.tolist()
    ex = eng.explain("data join", doc_ids=ids).toPandas()
    assert set(ex.doc_id) == set(ids)
    assert set(ex.columns) == {
        "query_id", "doc_id", "term", "tf", "doc_len", "df", "idf",
        "contrib",
    }
    sums = ex.groupby("doc_id")["contrib"].sum()
    for r in top.itertuples():
        assert abs(sums[r.doc_id] - r.score) < 5e-4  # 4dp-rounded parts
    assert (ex.tf >= 1).all() and (ex.df >= 1).all()


def test_search_batch_reroutes_filtered_maxscore(spark, sf_dir, tmp_path_factory):
    import warnings as _w

    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("ms"))
    eng = SearchEngine.build(spark, sf_dir, root, attribute_cols=["lang"])
    q = {"terms": ["data", "join"], "filter": ["lang:en"]}
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = eng.search_batch([dict(q)], algorithm="maxscore", k=5).collect()
    assert any("WAND" in str(r.message) for r in rec)
    want = eng.search_batch([dict(q)], algorithm="wand", k=5).collect()
    assert [(r["rank"], r["doc_id"]) for r in got] == [
        (r["rank"], r["doc_id"]) for r in want
    ]
    # the kernel itself refuses filters; the facade's reroute is what
    # keeps the answer
    with pytest.raises(ValueError, match="WAND"):
        bm25_topk_maxscore(
            eng.postings, eng._normalize([dict(q)]), eng.stats["n_docs"],
            eng.stats["avgdl"], k=5,
        )


def test_explain_empty_doc_ids(spark, sf_dir, tmp_path_factory):
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("xempty"))
    eng = SearchEngine.build(spark, sf_dir, root)
    assert eng.explain("data join", doc_ids=[]).count() == 0


def test_term_vectors_exclude_pseudo_terms(spark, sf_dir, tmp_path_factory):
    """On an attribute+numeric-indexed engine, term_vectors must return
    ONLY real tokenizer terms — filter pseudo-terms ('lang:en',
    'views#4:…') share the postings relation but are excluded by the
    ':' predicate — and df must count text postings only."""
    from pisa_spark.corpus import tokens_col
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import (
        term_document_frequency,
        term_frequencies,
    )

    root = str(tmp_path_factory.mktemp("tvattr"))
    eng = SearchEngine.build(
        spark, sf_dir, root, attribute_cols=["lang"]
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    tf = term_frequencies(toks)
    want = {
        (r["doc_id"], r["term"]): (r["tf"], r["doc_len"], r["df"])
        for r in tf.join(term_document_frequency(tf), "term")
        .filter(F.col("doc_id").isin([3, 11]))
        .collect()
    }
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["doc_len"], r["df"])
        for r in eng.term_vectors([3, 11]).collect()
    }
    assert got == want  # no 'lang:…' rows, dfs from text postings only
    assert all(":" not in t for _, t in got)
    slim = eng.term_vectors([3], with_df=False).collect()
    assert all(":" not in r["term"] for r in slim)
