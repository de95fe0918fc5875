"""Federated serving: base + delta indexes answer as ONE corpus,
rank-identical to a single index over the union."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import build_postings
from pisa_spark.query.bm25 import bm25_topk_federated, bm25_topk_wand

DOCS = [
    (0, "data join data table"),
    (1, "the the the data join"),
    (2, "query scan spark join data"),
    (3, "spark query scan data join"),
    (4, "data join scan"),
    (5, "data data join"),
    (6, "join the query data"),
    (7, "merge window row group"),
    (8, "data merge window"),
]

QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
    {"query_id": 1, "terms": ["the"], "conjunctive": False},
    {"query_id": 2, "terms": ["query", "scan"], "conjunctive": True},
    {"query_id": 3, "terms": ["data"], "conjunctive": False,
     "negated": ["the"]},
]


def _build(spark, rows, n_buckets):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    r = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    postings = build_postings(
        toks, int(r["n"]), float(r["avgdl"]), n_buckets=n_buckets,
        block_size=2, max_doc_id=int(r["mx"]),
    ).cache()
    stats = {
        "n_docs": int(r["n"]),
        "avgdl": float(r["avgdl"]),
        "total_terms": int(r["total"]),
    }
    return postings, stats


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


@pytest.mark.parametrize("split,two_phase", [(5, False), (7, True), (2, False)])
def test_federated_equals_single_index(spark, split, two_phase):
    base = [d for d in DOCS if d[0] < split]
    delta = [d for d in DOCS if d[0] >= split]
    single, st = _build(spark, DOCS, n_buckets=3)
    want = _rows(
        bm25_topk_wand(
            single, [dict(q) for q in QUERIES], st["n_docs"], st["avgdl"],
            k=5, two_phase=two_phase,
        )
    )
    fed = bm25_topk_federated(
        [_build(spark, base, 2), _build(spark, delta, 2)],
        [dict(q) for q in QUERIES],
        k=5,
        two_phase=two_phase,
    )
    assert _rows(fed) == want and len(want) > 0


def test_federated_single_member_and_empty():
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk_federated([], [{"query_id": 0, "terms": ["a"],
                                  "conjunctive": False}])


def test_federated_one_member_is_identity(spark):
    postings, st = _build(spark, DOCS, n_buckets=3)
    a = _rows(
        bm25_topk_federated([(postings, st)], [dict(QUERIES[0])], k=5)
    )
    b = _rows(
        bm25_topk_wand(postings, [dict(QUERIES[0])], st["n_docs"],
                       st["avgdl"], k=5)
    )
    assert a == b


def test_federated_engine_streaming_delta(spark, sf_dir, tmp_path_factory):
    """End-to-end base+delta: a persisted base index over half the
    corpus plus a STREAMING-ingested delta index over the other half,
    served via FederatedEngine == one SearchEngine over the full
    corpus, rank-identical including '-term' negation."""
    from pisa_spark.engine import FederatedEngine, SearchEngine
    from pisa_spark.streaming.ingest import stream_index_ingest

    tmp = tmp_path_factory.mktemp("fed_e2e")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    base_docs = docs.filter(F.col("doc_id") <= mid)
    delta_docs = docs.filter(F.col("doc_id") > mid)

    base_root = str(tmp / "base")
    eng_base = SearchEngine.build(spark, None, base_root, docs_df=base_docs)
    assert eng_base.stats["n_docs"] > 0

    # delta arrives through the streaming front (rate-limited files)
    delta_src = str(tmp / "delta_src")
    delta_docs.coalesce(1).write.parquet(delta_src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(delta_src)
    )
    delta_root = str(tmp / "delta")
    q = stream_index_ingest(
        stream, str(tmp / "staging"), delta_root,
        str(tmp / "ckpt"), docs_per_bucket=64,
    )
    q.awaitTermination(120)

    fed = FederatedEngine.load(spark, [base_root, delta_root])
    single_root = str(tmp / "single")
    eng_all = SearchEngine.build(spark, None, single_root, docs_df=docs)

    for query in ["data join", "+query scan", "data -the"]:
        got = [
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fed.search(query, k=10).collect()
        ]
        want = [
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in eng_all.search(query, k=10).collect()
        ]
        assert got == want and len(got) > 0, query
    with pytest.raises(ValueError, match="phrase"):
        fed.search('"data join"')


def test_federated_search_on_loaded_members_plans_without_jobs(
    spark, sf_dir, tmp_path
):
    """Loaded members bring their lexicons: the federation sums them
    in the driver, so planning a query launches no Spark job. An engine
    made from the same members without lexicons (per-member df lookup)
    answers identically, and so does a mix of the two."""
    from pisa_spark.engine import FederatedEngine, SearchEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    roots = [str(tmp_path / "lo"), str(tmp_path / "hi")]
    SearchEngine.build(spark, None, roots[0],
                       docs_df=docs.filter(F.col("doc_id") < 250))
    SearchEngine.build(spark, None, roots[1],
                       docs_df=docs.filter(F.col("doc_id") >= 250))
    fed = FederatedEngine.load(spark, roots)
    assert all(lex is not None for lex in fed._lexicons)

    sc = spark.sparkContext
    group = "pisa-federated-plan"
    sc.setJobGroup(group, group)
    try:
        planned = fed.search("data join -the zzzabsent", k=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    got = _rows(planned)
    assert got
    lazy = FederatedEngine(spark, fed.members, pre_arranged=True)
    assert _rows(lazy.search("data join -the zzzabsent", k=10)) == got
    mixed = FederatedEngine(spark, fed.members, pre_arranged=True,
                            lexicons=[fed._lexicons[0], None])
    assert _rows(mixed.search("data join -the zzzabsent", k=10)) == got
