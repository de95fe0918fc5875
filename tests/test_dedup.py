"""Dedup-family invariants (engine-level; cross-engine value parity is
covered by the driver oracle gate in __spark_entry__)."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.dedup.dedup import (
    distinct_docs,
    embedding_near_pairs,
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


# The MinHash/LSH tests share their relations: each is computed once
# per module (MD5 signatures, the LSH self-join, the all-pairs exact
# Jaccard) instead of once per reference.
@pytest.fixture(scope="module")
def sigs(docs):
    rel = minhash_signatures(docs).cache()
    yield rel
    rel.unpersist()


@pytest.fixture(scope="module")
def cands(sigs):
    rel = minhash_lsh_candidates(sigs).cache()
    rel.count()  # materialized once: later plans reference it repeatedly
    yield rel
    rel.unpersist()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    """All-pairs exact Jaccard >= 0.3. ngram_jaccard_pairs applies its
    threshold as the final filter, so a higher threshold's relation is
    this one filtered (high_pairs)."""
    rel = ngram_jaccard_pairs(docs, threshold=0.3).cache()
    yield rel
    rel.unpersist()


@pytest.fixture(scope="module")
def high_pairs(exact_pairs):
    return exact_pairs.filter(F.col("jaccard") >= 0.9)


def test_exact_dedup_finds_planted_dups(spark, docs):
    d = docs.select("doc_id", "text")
    dup = d.union(d.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    found = exact_duplicates(dup)
    # every doc belongs to a group of 2 -> all 1000 rows flagged
    assert found.count() == 2 * d.count()
    # keep_id is always the low (original) id
    assert found.filter(F.col("keep_id") >= 10000).count() == 0
    kept = distinct_docs(dup)
    assert kept.count() == d.count()
    assert kept.filter(F.col("doc_id") >= 10000).count() == 0


def test_minhash_estimates_track_true_jaccard(docs, cands):
    true = ngram_jaccard_pairs(docs, threshold=0.0, candidates=cands)
    joined = cands.join(true, ["doc_a", "doc_b"]).collect()
    assert joined, "LSH found no candidates on the synthetic corpus"
    # MinHash estimate within 0.35 of true jaccard for 16 hashes
    for r in joined:
        assert abs(r["est_jaccard"] - r["jaccard"]) < 0.35, r


def test_lsh_candidates_include_high_jaccard_pairs(high_pairs, cands):
    """Recall property: pairs with very high true jaccard should be
    LSH candidates (4 bands x 4 rows: P(detect) = 1-(1-j^4)^4 -> ~1 for
    j >= 0.9)."""
    missed = high_pairs.join(cands, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0


def test_simhash_identical_docs_equal_fingerprints(spark, docs):
    d = docs.select("doc_id", "text")
    dup = d.union(d.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    fp = simhash(dup)
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.doc_id") + 10000 == F.col("b.doc_id"))
        .filter(F.col("a.simhash") != F.col("b.simhash"))
    )
    assert pairs.count() == 0


def test_simhash_near_pairs_bound(docs):
    fp = simhash(docs)
    pairs = simhash_near_pairs(fp, max_hamming=2)
    assert pairs.filter(F.col("hamming") > 2).count() == 0
    # banding candidate generation is exhaustive within the bound:
    # verify against brute-force on the small corpus
    brute = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )
    assert pairs.count() == brute.count()


def test_simhash_64bit_collision_rate(spark):
    """64-bit fingerprints must not collide for docs with different
    text (a 16-bit sketch has 65k values and collides constantly —
    the reason the default width is 64)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fp = simhash(docs).join(docs.select("doc_id", "text"), "doc_id")
    per_fp = fp.groupBy("simhash").agg(
        F.countDistinct("text").alias("n_texts")
    )
    collisions = per_fp.select(
        F.sum(F.col("n_texts") - 1).alias("c")
    ).collect()[0]["c"]
    n = docs.count()
    # allow only true near-duplicate texts to share a fingerprint
    assert collisions <= 0.05 * n, f"{collisions} cross-text collisions / {n} docs"


def test_embedding_near_pairs_symmetric_free(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_pairs(emb, threshold=0.3, exact=True)
    assert pairs.filter(F.col("vec_a") >= F.col("vec_b")).count() == 0
    assert pairs.filter(F.col("cosine") < 0.3).count() == 0


def test_embedding_near_pairs_default_is_scale_safe(spark, sf_dir):
    """Default (no candidates, no exact) must route through the LSH
    blocking: no CartesianProduct / nested-loop join in the plan, and
    the result is a subset of the exact answer at the same threshold."""
    from pisa_spark.dedup.dedup import embedding_near_pairs_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    default = embedding_near_pairs(emb, threshold=0.4)
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    lsh = embedding_near_pairs_lsh(emb, threshold=0.4)
    got = {(r["vec_a"], r["vec_b"]) for r in default.collect()}
    want = {(r["vec_a"], r["vec_b"]) for r in lsh.collect()}
    assert got == want


def test_embedding_near_pairs_candidates_bounded_verify(spark, sf_dir):
    """candidates= scores exactly the given pair set: equal to the
    exact answer restricted to those pairs, no others."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = embedding_near_pairs(emb, threshold=0.4, exact=True)
    cand = exact.select("vec_a", "vec_b").limit(10)
    got = embedding_near_pairs(emb, threshold=0.4, candidates=cand)
    assert got.count() == 10
    joined = got.join(
        exact.withColumnRenamed("cosine", "c2"), ["vec_a", "vec_b"]
    )
    assert joined.filter(F.abs(F.col("cosine") - F.col("c2")) > 1e-12).count() == 0


def test_embedding_lsh_pairs_subset_with_recall(spark, sf_dir):
    """LSH-composed near-dup pairs: always a subset of the exact
    all-pairs answer (same threshold, exact rescoring) with decent
    recall on very-high-cosine pairs."""
    from pisa_spark.dedup.dedup import embedding_near_pairs_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the synthetic embeddings top out near cosine ~0.6; 0.4 keeps a
    # non-trivial exact answer (66 pairs at sf0.001)
    exact = embedding_near_pairs(emb, threshold=0.4, exact=True).cache()
    lsh = embedding_near_pairs_lsh(emb, threshold=0.4, nbits=4, n_tables=8).cache()
    assert lsh.join(exact, ["vec_a", "vec_b"], "left_anti").count() == 0
    n_exact, n_lsh = exact.count(), lsh.count()
    assert n_exact > 0
    # 4-bit x 8-table amplification at cosine ~0.5: expected recall
    # ~0.8; assert a conservative floor (deterministic, not flaky)
    assert n_lsh / n_exact >= 0.3, (n_lsh, n_exact)


def test_near_duplicate_pairs_one_call(docs, exact_pairs, high_pairs):
    """Composed text near-dup: subset of the exact all-pairs answer
    with exact jaccard values; high-jaccard pairs always recalled
    (1-(1-j^4)^4 ~ 1 at j >= 0.9 for 4x4 banding)."""
    from pisa_spark.dedup.dedup import near_duplicate_pairs

    composed = near_duplicate_pairs(docs, threshold=0.3).cache()
    exact = exact_pairs
    assert composed.join(exact, ["doc_a", "doc_b"], "left_anti").count() == 0
    joined = composed.join(
        exact.withColumnRenamed("jaccard", "jx"), ["doc_a", "doc_b"]
    )
    assert joined.filter(F.abs(F.col("jaccard") - F.col("jx")) > 1e-9).count() == 0
    assert high_pairs.join(composed, ["doc_a", "doc_b"], "left_anti").count() == 0


def test_embedding_near_pairs_empty_relation_requires_dim(spark):
    """Default (LSH) path infers the hyperplane width with one bounded
    job; an empty relation cannot supply it and must raise instead of
    silently building zero-width signatures."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        embedding_near_pairs(empty, threshold=0.5)
    # explicit dim= is the plan-construction-only escape hatch
    assert embedding_near_pairs(empty, threshold=0.5, dim=4).count() == 0


def test_substring_duplicate_spans(spark):
    """Spans of corpus-duplicated n-grams coalesce into maximal
    islands; unique text yields no rows; offsets are token-exact."""
    from pisa_spark.dedup.dedup import substring_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"   # 6 tokens
    docs = spark.createDataFrame(
        [
            (0, f"intro {shared} middle words here {shared} tail"),
            (1, f"{shared} other text entirely unrelated thing"),
            (2, "completely unique document with no repeats at all"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    out = substring_duplicate_spans(docs, n=6, min_docs=2).toPandas()
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in out.itertuples()
    }
    # doc0: shared at offsets 1..7 and 10..16 (two distinct islands);
    # doc1: shared at 0..6; docs 2/3: nothing
    assert rows == {(0, 1, 7, 6), (0, 10, 16, 6), (1, 0, 6, 6)}


def test_substring_spans_adjacent_merge(spark):
    """Two duplicated 3-gram positions whose spans touch or overlap
    merge into ONE maximal island."""
    from pisa_spark.dedup.dedup import substring_duplicate_spans

    rep = "a b c d e f g h"   # an 8-token passage shared by two docs
    docs = spark.createDataFrame(
        [(0, f"x {rep} y"), (1, f"z z {rep}")],
        "doc_id long, text string",
    )
    out = substring_duplicate_spans(docs, n=3, min_docs=2).toPandas()
    by_doc = {
        r.doc_id: (r.span_start, r.span_end)
        for r in out.itertuples()
    }
    # every 3-gram inside rep is shared -> one island covering rep
    assert by_doc == {0: (1, 9), 1: (2, 10)}
    assert (out.span_tokens == 8).all()


def test_trim_duplicate_spans(spark):
    from pisa_spark.dedup.dedup import trim_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (0, f"intro {shared} middle words here {shared} tail"),
            (1, f"{shared} other text entirely unrelated thing"),
            (2, "unique document no repeats anywhere at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["trimmed"]
        for r in trim_duplicate_spans(docs, n=6, min_docs=2).collect()
    }
    assert got == {
        0: "intro middle words here tail",
        1: "other text entirely unrelated thing",
    }  # doc 2 had no spans -> not in the trim relation
