"""Byte-identity of the vectorized HTML->text extractor per url
(BASELINE.json:15 per-row invariant; SURVEY §5.2 item 2)."""

from pyspark.sql import functions as F

from pisa_spark.corpus import pages_from_documents, with_extracted_text


def test_pages_shape(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert types["html"] == "binary"
    assert types["warc_ts"] == "timestamp"
    assert pages.select("url").distinct().count() == pages.count()


def test_extraction_byte_identical(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).cache()
    extracted = with_extracted_text(pages)
    joined = extracted.join(pages.select("url", "text"), "url")
    bad = joined.filter(
        F.encode(F.col("extracted"), "UTF-8") != F.encode(F.col("text"), "UTF-8")
    ).count()
    assert bad == 0
    assert extracted.filter(F.col("extracted").isNull()).count() == 0


def test_extraction_deterministic_across_runs(spark, sf_dir):
    a = with_extracted_text(pages_from_documents(spark, sf_dir)).orderBy("url").collect()
    b = with_extracted_text(pages_from_documents(spark, sf_dir)).orderBy("url").collect()
    assert a == b


def test_assign_doc_ids_dense_and_run_invariant(spark, sf_dir):
    from pisa_spark.corpus import assign_doc_ids, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    a = assign_doc_ids(pages).select("url", "doc_id")
    ids = [r["doc_id"] for r in a.orderBy("doc_id").collect()]
    assert ids == list(range(len(ids)))  # dense 0..N-1
    b = assign_doc_ids(pages.repartition(7)).select("url", "doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_parse_query():
    from pisa_spark.corpus import parse_query

    assert parse_query("data join") == {"terms": ["data", "join"], "conjunctive": False}
    assert parse_query("+data +join") == {"terms": ["data", "join"], "conjunctive": True}
    assert parse_query("Data, JOIN!") == {"terms": ["data", "join"], "conjunctive": False}
    assert parse_query("") == {"terms": [], "conjunctive": False}


def test_pages_to_index_end_to_end(spark, sf_dir, tmp_path):
    """North-rule front door: raw pages -> extraction -> dense ids ->
    resumable index. Scores must equal the documents-driven build
    (doc ids live in url order, so compare score multisets per query,
    which are id-space independent)."""
    from pisa_spark.corpus import build_docs_from_pages, pages_from_documents
    from pisa_spark.index.lineage import (
        build_index_resumable,
        latest_lineage,
        load_index,
    )
    from pisa_spark.query.bm25 import bm25_topk_wand

    pages = pages_from_documents(spark, sf_dir)
    docs = build_docs_from_pages(pages)
    root = str(tmp_path / "idx_pages")
    s = build_index_resumable(
        spark, None, root, n_buckets=8, wave_size=8, docs_df=docs
    )
    assert s["docs"] == 500
    assert sum(
        r["docs"] for r in latest_lineage(spark, root).values()
        if r["status"] == "committed"
    ) == 500

    postings, stats = load_index(spark, root)
    q = [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False}]
    got = bm25_topk_wand(
        postings, q, stats["n_docs"], stats["avgdl"], k=10
    ).collect()

    from pisa_spark.index.build import build_index_dataframes

    mem_postings, _, _, mem_stats = build_index_dataframes(spark, sf_dir, n_buckets=8)
    expect = bm25_topk_wand(
        mem_postings, q, mem_stats["n_docs"], mem_stats["avgdl"], k=10
    ).collect()
    assert sorted(round(r["score"], 6) for r in got) == sorted(
        round(r["score"], 6) for r in expect
    )
