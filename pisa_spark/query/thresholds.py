"""Precomputed top-k score thresholds — PISA's ``kth_threshold`` tool.

Real PISA ships an offline tool that computes, for each term, the k-th
highest score inside that term's own posting list; at query time the
max of the query terms' precomputed values primes WAND/MaxScore's
pruning threshold theta BEFORE the first posting is decoded. Deriving
theta at query time from a first scoring pass costs an extra Spark job
plus a collect on the latency path, and measured SLOWER at both bench
scales (BENCH.md pruning table). Priming moves that cost to build
time: serving pays one pushed In(term, ...) lookup against a small
catalog table, no postings job.

Soundness of the bound: the k-th highest SINGLE-TERM score of term t
is realized by k distinct documents. Under disjunctive BM25 where
every query term's idf >= 0, each of those documents' FULL query score
>= its single-term score, so at least k documents score >= theta0 —
theta0 is a valid lower bound on the global k-th score, and pruning
with it is exact (the kernels' epsilon-inclusive block masks keep
score==theta0 ties).

Eligibility (``prime_thresholds`` enforces; ineligible queries simply
stay unprimed — priming is a physical hint, never an answer change):

- disjunctive only: under AND the top-k ranges over the intersection,
  which may not contain the k documents realizing theta0;
- no negation / attribute filters: an exclusion can remove those k
  documents. Tombstone deletes inject a ``__deleted__`` pseudo-negation
  through engine._normalize, so deleted indexes auto-fail this check;
- every query term idf >= 0: a doc containing a negative-idf term
  scores BELOW its other terms' partial sum, breaking full >= partial;
- query k <= the table's build K: the K-th best only lower-bounds the
  k-th best for k <= K.

Scale shape: the build is one decode pass over posting blocks
(postings_to_tf — embarrassingly parallel, shuffle-free) joined to the
term-df relation derived from block METADATA (sum of per-block counts,
no payload read), then a per-term top-k window Catalyst serves with
WindowGroupLimit: each map task emits at most k rows per term BEFORE
the term-hash exchange, so a head term costs k rows on the wire, not
df rows. The output is a vocabulary-bounded (term, df, threshold, k)
relation — committed as a catalog table, probed per query with a
pushed In(term, ...) filter, never collected whole, never broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pisa_spark.index.deletes import DELETED_TERM
from pisa_spark.query.bm25 import score_expr
from pisa_spark.query.scorers import postings_to_tf

# catalog table (under the index root) holding the persisted
# (term, df, threshold, k) relation of precompute_thresholds()
THRESHOLDS_TABLE = "term_thresholds"


def term_kth_scores(
    postings: DataFrame,
    n_docs: float,
    avgdl: float,
    k: int = 10,
    terms: list[str] | None = None,
) -> DataFrame:
    """(term, df, threshold) — threshold is the k-th highest single-term
    BM25 score inside the term's posting list. Terms with df < k emit
    no row (fewer than k postings cannot bound a k-th score). Filter
    pseudo-terms ('lang:en' — the ':' separator is collision-free per
    build.attribute_tokens_col) and the ``__deleted__`` tombstone term
    never threshold: they score nothing.

    terms: restrict to these terms (pushed In(term, ...) below the
    decode — the per-query shape); None computes the full vocabulary
    (the build-time shape behind precompute_thresholds)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    pruned = postings.filter(
        ~F.col("term").contains(":") & (F.col("term") != DELETED_TERM)
    )
    if terms is not None:
        pruned = pruned.filter(F.col("term").isin(sorted(set(terms))))
    tf = postings_to_tf(pruned)
    dfs = pruned.groupBy("term").agg(F.sum("n").alias("df"))
    scored = tf.join(dfs, "term").select(
        "term",
        "doc_id",
        "df",
        score_expr(float(n_docs), float(avgdl)).alias("score"),
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("term")
        .agg(
            F.max("df").alias("df"),
            F.count(F.lit(1)).alias("_c"),
            F.min("score").alias("threshold"),
        )
        .filter(F.col("_c") == k)
        .select("term", "df", "threshold")
    )


def prime_thresholds(
    thresholds: dict[str, float],
    queries: list[dict],
    term_dfs: dict[str, int],
    n_docs: float,
) -> dict[int, float]:
    """Per-query primed pruning thresholds: {query_id: theta0}.

    thresholds: {term: k-th single-term score} (term_kth_scores rows;
    absent terms are simply unusable). Only eligible queries (see
    module docstring) receive an entry; theta0 = max over the query's
    threshold-bearing terms. Callers must ensure the table's build K
    >= the serving k — engine.search_batch checks the persisted k."""
    out: dict[int, float] = {}
    for q in queries:
        if q.get("conjunctive") or q.get("negated") or q.get("filter"):
            continue
        terms = set(q["terms"])
        if not terms:
            continue
        # idf sign under the exact serving formula; a term absent from
        # term_dfs has df 0 (idf > 0, contributes nothing)
        if any(
            math.log(
                (n_docs - term_dfs.get(t, 0) + 0.5)
                / (term_dfs.get(t, 0) + 0.5)
            )
            < 0.0
            for t in terms
        ):
            continue
        cand = [thresholds[t] for t in terms if t in thresholds]
        if cand:
            out[q["query_id"]] = max(cand)
    return out
