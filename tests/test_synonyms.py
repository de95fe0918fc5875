"""Synonym expansion: stem-mate derivation, weighted expansion
semantics, and facade == relation-path parity."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.query.synonyms import (
    expand_with_synonyms,
    stem_synonym_pairs,
    synonym_bm25_topk,
)


def test_stem_synonym_pairs_symmetric_no_identity(spark):
    vocab = spark.createDataFrame(
        [("table",), ("tables",), ("query",), ("queries",), ("spark",)],
        "term string",
    )
    pairs = {(r["term"], r["synonym"]) for r in stem_synonym_pairs(vocab).collect()}
    assert ("table", "tables") in pairs and ("tables", "table") in pairs
    assert ("query", "queries") in pairs and ("queries", "query") in pairs
    assert not any(a == b for a, b in pairs)
    assert not any("spark" in p for p in pairs)


def test_expand_max_merges_originals(spark):
    q = spark.createDataFrame(
        [(0, "table"), (0, "tables")], "query_id int, term string"
    )
    syn = spark.createDataFrame(
        [("table", "tables"), ("tables", "table")], "term string, synonym string"
    )
    got = {
        r["term"]: r["v"]
        for r in expand_with_synonyms(q, syn, weight=0.3).collect()
    }
    # both are originals AND each other's synonyms -> weight stays 1.0
    assert got == {"table": 1.0, "tables": 1.0}


def test_expansion_recalls_plural_only_docs(spark):
    docs = spark.createDataFrame(
        [(0, "the table is set"), (1, "many tables were set"), (2, "nothing")],
        "doc_id long, text string",
    )
    from pisa_spark.corpus import tokens_col
    from pisa_spark.index.build import term_frequencies

    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    tf = term_frequencies(toks)
    q = spark.createDataFrame([(0, "table")], "query_id int, term string")
    hits = {
        r["doc_id"]
        for r in synonym_bm25_topk(
            tf, q, int(row[0]), float(row[1]), k=10, weight=0.5
        ).collect()
    }
    assert hits == {0, 1}  # plain BM25 for 'table' would miss doc 1


def test_facade_matches_relation_path(spark, sf_dir, tmp_path_factory):
    from pisa_spark.corpus import tokens_col
    from pisa_spark.engine import SearchEngine
    from pisa_spark.index.build import term_frequencies

    root = str(tmp_path_factory.mktemp("syn") / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    tf = term_frequencies(toks)
    q = spark.createDataFrame(
        [(0, "data"), (0, "table")], "query_id int, term string"
    )
    want = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in synonym_bm25_topk(
            tf, q, int(row[0]), float(row[1]), k=10, weight=0.4
        ).collect()
    )
    got = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in eng.search_synonyms("data table", k=10, weight=0.4).collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="disjunctive"):
        eng.search_synonyms("data +table")
    # a quoted phrase must raise, not silently degrade to loose
    # synonym-expanded terms (same guard discipline as search_fuzzy)
    with pytest.raises(ValueError, match="phrase"):
        eng.search_synonyms('"data table" fast')

def test_lexicon_stem_mates_and_fallback_parity(
    spark, sf_dir, tmp_path_factory
):
    """A loaded engine takes stem mates from its lexicon (classes >= 2,
    no filter pseudo-terms); an engine without a lexicon derives them
    from the postings vocabulary, with identical results."""
    from pisa_spark.engine import SearchEngine

    # the fixture vocabulary holds no plurals: two docs gain 'tables'
    # so 'table' has a mate, and two get lang values whose pseudo-
    # terms share an S-stem ('lang:cats' -> 'lang:cat'), a class that
    # must never serve
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id").isin(5, 6),
                F.concat(F.col("text"), F.lit(" tables")),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") == 0, F.lit("cats"))
            .when(F.col("doc_id") == 1, F.lit("cat"))
            .otherwise(F.col("lang")),
        )
    )
    root = str(tmp_path_factory.mktemp("synidx") / "idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, docs_df=docs, n_buckets=8, wave_size=8,
        attribute_cols=["lang"],
    )
    assert {"lang:cat", "lang:cats"} <= set(eng._lexicon)
    pseudo_stems = {"lang:cat", "lang:en", "lang:e"}

    def norm(rows):
        return sorted(
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
        )

    via_lexicon = norm(eng.search_synonyms("data table", k=10).collect())
    plural = norm(eng.search_synonyms("tables", k=1000).collect())
    assert len(plural) > 2  # 'tables' reaches the 'table' docs
    assert eng._stem_classes and all(
        len(ts) >= 2 and not any(":" in t for t in ts)
        for ts in eng._stem_classes.values()
    )
    assert eng._mates_for_stems(pseudo_stems) == set()
    assert eng._mates_for_stems({"table"}) == {"table", "tables"}
    eng._lexicon = None  # force the postings-vocabulary fallback
    via_fallback = norm(eng.search_synonyms("data table", k=10).collect())
    assert via_lexicon == via_fallback
    assert norm(eng.search_synonyms("tables", k=1000).collect()) == plural
    assert eng._stem_class_df is not None
    assert eng._mates_for_stems(pseudo_stems) == set()
    assert eng._mates_for_stems({"table"}) == {"table", "tables"}


def test_loaded_synonyms_launch_no_job_before_collect(
    spark, sf_dir, tmp_path_factory
):
    """On a load()ed engine, stem mates and the query's stems come from
    the driver: planning a synonym search runs no Spark job."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path_factory.mktemp("synjobs") / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    sc = spark.sparkContext
    sc.setJobGroup("plan-synonyms", "plan-synonyms")
    try:
        df = eng.search_synonyms("data tables", k=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("plan-synonyms") == []
    assert df.collect()
