"""Prefix-wildcard queries: dictionary expansion, WAND parity with the
manually-expanded disjunction, cap determinism, facade guards."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import build_postings
from pisa_spark.query.bm25 import bm25_topk_wand
from pisa_spark.query.fuzzy import expand_wildcards, wildcard_topk

DOCS = [
    (0, "data database join"),
    (1, "date data dawn"),
    (2, "join merge scan"),
    (3, "database date scan join"),
    (4, "dawn dawn dawn"),
    (5, "merge data"),
]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    r = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    postings = build_postings(
        toks, int(r["n"]), float(r["avgdl"]), n_buckets=3, block_size=2
    ).cache()
    return postings, int(r["n"]), float(r["avgdl"])


def test_expand_wildcards_order_and_cap(built):
    postings, _, _ = built
    exp = expand_wildcards(postings, ["da"], max_expand=64)
    # df: data=3, database=2, date=2, dawn=2 -> df DESC, term ASC
    assert exp["da"] == ["data", "database", "date", "dawn"]
    assert expand_wildcards(postings, ["da"], max_expand=2)["da"] == [
        "data", "database",
    ]
    assert expand_wildcards(postings, ["zzz"], max_expand=4)["zzz"] == []


def test_wildcard_topk_equals_manual_disjunction(built):
    postings, n_docs, avgdl = built
    got = wildcard_topk(
        postings,
        [{"query_id": 0, "terms": ["join"], "wildcards": ["da*"]}],
        n_docs, avgdl, k=10,
    ).collect()
    want = bm25_topk_wand(
        postings,
        [{
            "query_id": 0,
            "terms": ["join", "data", "database", "date", "dawn"],
            "conjunctive": False,
        }],
        n_docs, avgdl, k=10,
    ).collect()
    key = lambda rows: [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows
    ]
    assert key(got) == key(want)
    assert len(got) > 0


def test_wildcard_literal_overlap_scores_once(built):
    """A literal term that also matches a pattern is deduped."""
    postings, n_docs, avgdl = built
    a = wildcard_topk(
        postings,
        [{"query_id": 1, "terms": ["data"], "wildcards": ["dat*"]}],
        n_docs, avgdl, k=10,
    ).collect()
    b = wildcard_topk(
        postings,
        [{"query_id": 1, "terms": [], "wildcards": ["dat*"]}],
        n_docs, avgdl, k=10,
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_wildcard_empty_expansion_and_guards(built, spark):
    postings, n_docs, avgdl = built
    out = wildcard_topk(
        postings,
        [{"query_id": 2, "terms": [], "wildcards": ["zzz*"]}],
        n_docs, avgdl, k=10,
    )
    assert out.count() == 0
    with pytest.raises(ValueError, match="disjunctive"):
        wildcard_topk(
            postings,
            [{"query_id": 3, "terms": ["a"], "wildcards": ["d*"],
              "conjunctive": True}],
            n_docs, avgdl,
        )
    with pytest.raises(ValueError, match="literal character"):
        wildcard_topk(
            postings,
            [{"query_id": 4, "terms": [], "wildcards": ["*"]}],
            n_docs, avgdl,
        )
    # multi-star patterns route through the k-gram index (round-5
    # refusal flipped to capability): 'd*a*' matches data/database/
    # date/dawn here — identical to the plain 'da*' expansion
    got = wildcard_topk(
        postings,
        [{"query_id": 5, "terms": [], "wildcards": ["d*a*"]}],
        n_docs, avgdl, k=10,
    ).collect()
    want = wildcard_topk(
        postings,
        [{"query_id": 5, "terms": [], "wildcards": ["da*"]}],
        n_docs, avgdl, k=10,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_facade_search_wildcard(spark, sf_dir, tmp_path_factory):
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import build_index_dataframes

    root = str(tmp_path_factory.mktemp("widx"))
    eng = SearchEngine.build(spark, sf_dir, root)
    got = eng.search_wildcard("da* join", k=10).collect()
    postings, _, _, stats = build_index_dataframes(spark, sf_dir, n_buckets=16)
    want = wildcard_topk(
        postings,
        [{"query_id": 0, "terms": ["join"], "wildcards": ["da*"]}],
        stats["n_docs"], stats["avgdl"], k=10,
    ).collect()
    assert [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want
    ]
    with pytest.raises(ValueError, match="disjunctive"):
        eng.search_wildcard("da* +join")
    with pytest.raises(ValueError, match="no '\\*' pattern"):
        eng.search_wildcard("plain terms")


def test_wildcard_negation_composes(built, spark):
    """'-term' negation rides the WAND exclusion under the expansion
    disjunction: same docs minus the negated term's docs, scores
    unchanged."""
    postings, n_docs, avgdl = built
    base = {
        r["doc_id"]: round(r["score"], 9)
        for r in wildcard_topk(
            postings,
            [{"query_id": 0, "terms": [], "wildcards": ["da*"]}],
            n_docs, avgdl, k=100,
        ).collect()
    }
    neg = wildcard_topk(
        postings,
        [{"query_id": 0, "terms": [], "wildcards": ["da*"],
          "negated": ["join"]}],
        n_docs, avgdl, k=100,
    ).collect()
    from pisa_spark.query.bm25 import bm25_topk_wand

    joined = {
        r["doc_id"]
        for r in bm25_topk_wand(
            postings,
            [{"query_id": 0, "terms": ["join"], "conjunctive": False}],
            n_docs, avgdl, k=1000,
        ).collect()
    }
    assert {r["doc_id"] for r in neg} == set(base) - joined
    assert all(round(r["score"], 9) == base[r["doc_id"]] for r in neg)


def test_stale_kgram_table_after_growth_is_not_used(spark, tmp_path):
    """A k-gram table derived before the corpus grew misses the new
    terms; serving treats it as absent, so '*tion' expands against the
    grown vocabulary and returns the table-free answer."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path / "kidx")
    texts = ["station data", "merge scan", "station join", "data join"]
    old = spark.createDataFrame(
        [(i, texts[i % len(texts)]) for i in range(40)],
        "doc_id long, text string",
    )
    eng = SearchEngine.build(spark, None, root, docs_df=old, docs_per_bucket=16)
    eng.precompute_kgrams()
    new = spark.createDataFrame(
        [(40 + i, "nation emotion") for i in range(10)],
        "doc_id long, text string",
    )
    grown = SearchEngine.build(
        spark, None, root, docs_df=old.unionByName(new), docs_per_bucket=16
    )
    got = grown.search_wildcard("*tion", k=10).collect()
    want = wildcard_topk(
        grown.postings,
        [{"query_id": 0, "terms": [], "wildcards": ["*tion"]}],
        grown.stats["n_docs"], grown.stats["avgdl"], k=10,
        pre_arranged=True, kgrams=None,
    ).collect()
    assert [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want
    ]
    assert {r["doc_id"] for r in got} & set(range(40, 50))
