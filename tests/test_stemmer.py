"""S-stemmer: published-example behavior, guard semantics, and a
stemmed index build where plural and singular share a posting list."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import stem_s, stem_s_py, stemmed_tokens_col, tokens_col
from pisa_spark.index.build import build_postings, term_frequencies


CASES = [
    ("cities", "city"),
    ("queries", "query"),
    ("bottles", "bottle"),
    ("rays", "ray"),
    ("runs", "run"),
    # guards: unchanged
    ("does", "does"),      # oes
    ("sees", "sees"),      # ees
    ("aes", "aes"),        # aes
    ("miss", "miss"),      # ss
    ("bus", "bus"),        # us
    ("eies", "eies"),      # eies keeps
    ("ies", "ies"),        # bare suffix, no preceding char
    ("es", "es"),
    ("s", "s"),
    ("query", "query"),    # no trailing s at all
    ("", ""),
]


def test_stem_s_cases(spark):
    df = spark.createDataFrame([(w,) for w, _ in CASES], "w string")
    got = {
        r["w"]: r["s"]
        for r in df.select("w", stem_s(F.col("w")).alias("s")).collect()
    }
    for w, want in CASES:
        assert got[w] == want, (w, got[w], want)


def test_stem_s_py_equals_column_stem_s(spark, sf_dir):
    """The driver-side twin stems exactly like the column expression,
    on the rule cases and on every term of the fixture corpus, each
    also with every suffix the rules test appended."""
    vocab = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .distinct()
    )
    suffixed = vocab.select(
        F.explode(
            F.array(*[F.concat("w", F.lit(x)) for x in ("", "s", "es", "ies")])
        ).alias("w")
    )
    cases = spark.createDataFrame([(w,) for w, _ in CASES], "w string")
    rows = (
        suffixed.unionByName(cases)
        .select("w", stem_s(F.col("w")).alias("s"))
        .collect()
    )
    assert len(rows) == 4 * vocab.count() + len(CASES)
    bad = [(r["w"], r["s"], stem_s_py(r["w"])) for r in rows
           if stem_s_py(r["w"]) != r["s"]]
    assert bad == []


def test_stemmed_tokens_col(spark):
    df = spark.createDataFrame(
        [(0, "The Queries hit many CITIES and boxes!")], "doc_id long, t string"
    )
    got = df.select(stemmed_tokens_col(F.col("t")).alias("x")).collect()[0]["x"]
    assert got == ["the", "query", "hit", "many", "city", "and", "boxe"]


def test_stemmed_index_merges_plural_postings(spark):
    rows = [
        (0, "query engine"),
        (1, "queries engines"),
        (2, "nothing here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id", stemmed_tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    tf = term_frequencies(toks)
    by_term = {
        (r["term"], r["doc_id"]): r["tf"] for r in tf.collect()
    }
    # plural and singular collapse to one term across docs 0 and 1
    assert by_term[("query", 0)] == 1 and by_term[("query", 1)] == 1
    assert ("queries", 1) not in by_term
    postings = build_postings(toks, 3, 2.0, n_buckets=2, max_doc_id=2)
    terms = {r["term"] for r in postings.select("term").distinct().collect()}
    assert "query" in terms and "queries" not in terms and "engine" in terms
