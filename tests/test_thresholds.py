"""Precomputed k-th-score thresholds (query/thresholds.py) — PISA's
offline ``kth_threshold`` tool.

Contracts: the table holds EXACTLY the k-th highest single-term score
per term (df >= k terms only, pseudo-terms never); primed serving is
rank- and score-identical to unprimed on both kernels; ineligible
queries (conjunctive / negated / filtered / negative-idf terms /
k > table K) silently stay unprimed and stay correct; tombstone
deletes auto-disable priming; the table persists under the index root
and primes a fresh load()."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.engine import SearchEngine
from pisa_spark.index.build import build_postings
from pisa_spark.index.pruning import postings_rows
from pisa_spark.query.bm25 import bm25_topk_maxscore, bm25_topk_wand
from pisa_spark.query.thresholds import prime_thresholds, term_kth_scores

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(
        F.count(F.lit(1)), F.avg("doc_len"), F.max("doc_id")
    ).collect()[0]
    n, avgdl, mx = int(row[0]), float(row[1]), int(row[2])
    postings = build_postings(
        toks, n, avgdl, n_buckets=8, max_doc_id=mx
    ).cache()
    return postings, n, avgdl


def _naive_scores(postings, n, avgdl):
    full = postings_rows(postings).toPandas()
    df = full.groupby("term")["doc_id"].transform("size")
    idf = np.log((n - df + 0.5) / (df + 0.5))
    tf = full.tf.to_numpy(float)
    score = idf * (tf * 1.9) / (tf + 0.9 * (0.6 + 0.4 * full.doc_len / avgdl))
    return full.assign(df=df, score=score)


def test_table_is_exactly_the_kth_single_term_score(spark, built):
    postings, n, avgdl = built
    k = 5
    got = term_kth_scores(postings, n, avgdl, k=k).toPandas()
    naive = _naive_scores(postings, n, avgdl)
    want = (
        naive.sort_values(["term", "score", "doc_id"],
                          ascending=[True, False, True])
        .groupby("term")
        .nth(k - 1)  # the k-th row; terms with df < k drop out
    )
    want_map = dict(zip(want.term, want.score))
    got_map = dict(zip(got.term, got.threshold))
    assert set(got_map) == set(want_map)
    for t, v in want_map.items():
        assert got_map[t] == pytest.approx(v, rel=0, abs=1e-12)
    # df column is the true document frequency
    dfs = naive.groupby("term").size()
    for r in got.itertuples():
        assert dfs[r.term] == r.df >= k


def test_terms_restriction_prunes_and_small_df_terms_drop(spark, built):
    postings, n, avgdl = built
    naive = _naive_scores(postings, n, avgdl)
    sizes = naive.groupby("term").size().sort_values()
    rare = sizes.index[0]  # df smallest — guaranteed < 1000
    head = sizes.index[-1]
    got = term_kth_scores(
        postings, n, avgdl, k=1000, terms=[rare, head]
    ).toPandas()
    assert got.empty or (got.df >= 1000).all()
    got2 = term_kth_scores(
        postings, n, avgdl, k=1, terms=[rare, head]
    ).toPandas()
    assert set(got2.term) == {rare, head}


def test_prime_eligibility_rules():
    thr = {"a": 2.0, "b": 3.5}
    dfs = {"a": 2, "b": 3, "stop": 80}
    n = 100.0
    qs = [
        {"query_id": 0, "terms": ["a", "b"]},
        {"query_id": 1, "terms": ["a", "b"], "conjunctive": True},
        {"query_id": 2, "terms": ["a"], "negated": ["b"]},
        {"query_id": 3, "terms": ["a"], "filter": ["lang:en"]},
        {"query_id": 4, "terms": ["a", "stop"]},  # idf(stop) < 0
        {"query_id": 5, "terms": ["zzz"]},  # no threshold row
        {"query_id": 6, "terms": ["a", "zzz"]},  # partial coverage ok
    ]
    out = prime_thresholds(thr, qs, dfs, n)
    assert out == {0: 3.5, 6: 2.0}
    assert math.log((n - dfs["stop"] + 0.5) / (dfs["stop"] + 0.5)) < 0


# ---------------------------------------------------------------------------
# The testdata vocabulary is bimodal (head terms df~400/500, everything
# else df 1 except 'dup'), so primed-vs-unprimed gets a SYNTHETIC corpus
# with a controlled zipf-ish df spread: mid-df terms (the priming sweet
# spot), a stop term (negative idf — fallback path), ties (identical
# docs), and short lists (df < k — no threshold row).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def synth(spark):
    rng = np.random.RandomState(7)
    vocab = [f"t{i:02d}" for i in range(20)]
    dfs = [160, 90, 60, 40, 28, 22, 18, 14, 11, 9] + [7, 6, 5, 4, 3] + [
        2, 2, 2, 1, 1
    ]
    rows = []
    for d in range(200):
        words = ["stop"] * int(rng.randint(1, 4))
        for t, df in zip(vocab, dfs):
            if d < df and rng.rand() < 0.9 or d % 200 < df * 0.2:
                words.extend([t] * int(rng.randint(1, 3)))
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    # ties: clone a few docs verbatim (same tokens, new ids)
    rows += [(200 + i, rows[i][1]) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(
        F.count(F.lit(1)), F.avg("doc_len"), F.max("doc_id")
    ).collect()[0]
    n, avgdl, mx = int(row[0]), float(row[1]), int(row[2])
    postings = build_postings(
        toks, n, avgdl, n_buckets=4, max_doc_id=mx
    ).cache()
    return postings, n, avgdl


SYNTH_QS = [
    {"query_id": 0, "terms": ["t04", "t07"], "conjunctive": False},
    {"query_id": 1, "terms": ["t01", "t05", "t09"], "conjunctive": False},
    {"query_id": 2, "terms": ["stop", "t04"], "conjunctive": False},
    {"query_id": 3, "terms": ["t02", "t14"], "conjunctive": False},
    {"query_id": 4, "terms": ["t03", "t06"], "conjunctive": True},
    {"query_id": 5, "terms": ["t10", "t18"], "conjunctive": False},
]


def _primed_for(postings, n, avgdl, qs, k):
    terms = sorted({t for q in qs for t in q["terms"]})
    thr = {
        r["term"]: r["threshold"]
        for r in term_kth_scores(
            postings, n, avgdl, k=k, terms=terms
        ).collect()
    }
    dfs = {
        r["term"]: r["df"]
        for r in postings.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("n").alias("df"))
        .collect()
    }
    return prime_thresholds(thr, qs, dfs, float(n))


@pytest.mark.parametrize("impl", [bm25_topk_wand, bm25_topk_maxscore])
@pytest.mark.parametrize("k", [3, 10])
def test_primed_matches_unprimed_both_kernels(spark, synth, impl, k):
    postings, n, avgdl = synth
    primed = _primed_for(postings, n, avgdl, SYNTH_QS, k)
    # mid-df OR queries actually prime; stop/conjunctive fall back
    assert {0, 1, 3}.issubset(primed) and 2 not in primed and 4 not in primed
    base = impl(postings, SYNTH_QS, n, avgdl, k=k).toPandas()
    got = impl(
        postings, SYNTH_QS, n, avgdl, k=k, primed_thresholds=primed
    ).toPandas()
    cols = ["query_id", "rank", "doc_id", "score"]
    assert (
        got[cols].sort_values(["query_id", "rank"]).values.tolist()
        == base[cols].sort_values(["query_id", "rank"]).values.tolist()
    )


def _rows(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in sorted(
            df.collect(), key=lambda r: (r["query_id"], r["rank"])
        )
    ]


def test_engine_precompute_persist_and_primed_load(spark, tmp_path):
    root = str(tmp_path / "idx")
    eng = SearchEngine.build(spark, SF, root, n_buckets=8, wave_size=8)
    thr = eng.precompute_thresholds(k=10)
    assert set(thr.columns) == {"term", "df", "threshold", "k"}
    base = _rows(eng.search_batch(["dup", "dup data", "the"], k=10))
    primed = _rows(eng.search_batch(["dup", "dup data", "the"], k=10, primed=True))
    assert primed == base
    # the table persisted: a FRESH load primes without recomputing
    fresh = SearchEngine.load(spark, root)
    assert _rows(
        fresh.search_batch(["dup", "dup data", "the"], k=10, primed=True)
    ) == base
    # k above the table's K: nothing primes, answer stays correct
    assert _rows(fresh.search_batch(["data"], k=20, primed=True)) == _rows(
        eng.search_batch(["data"], k=20)
    )


def test_engine_primed_without_table_raises(spark, tmp_path):
    root = str(tmp_path / "idx2")
    eng = SearchEngine.build(spark, SF, root, n_buckets=8, wave_size=8)
    with pytest.raises(ValueError, match="precompute_thresholds"):
        eng.search_batch(["data"], k=10, primed=True)


def test_deletes_disable_priming_and_stay_correct(spark, tmp_path):
    root = str(tmp_path / "idx3")
    eng = SearchEngine.build(spark, SF, root, n_buckets=8, wave_size=8)
    eng.precompute_thresholds(k=10)
    victims = [
        r["doc_id"] for r in eng.search("data", k=3).collect()
    ]
    eng.delete_docs(victims, persist=False)
    # priming is auto-disabled (the tombstone pseudo-negation fails
    # eligibility); the deleted docs stay gone either way
    base = _rows(eng.search_batch(["data join"], k=10))
    primed = _rows(eng.search_batch(["data join"], k=10, primed=True))
    assert primed == base
    assert not {d for _, _, d, _ in primed} & set(victims)
    # recomputing on a tombstoned index would bake deletes into bounds
    with pytest.raises(ValueError, match="compact"):
        eng.precompute_thresholds(k=10)


def test_stale_thresholds_after_growth_serve_unprimed(spark, tmp_path):
    """A build that grows the corpus publishes new corpus stats; a
    threshold table derived from the old ones (old df, n_docs and
    avgdl) is treated as absent, so a primed batch returns the unprimed
    answer instead of pruning with k-th scores that no longer hold."""
    root = str(tmp_path / "idx_grow")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    eng = SearchEngine.build(
        spark, SF, root, docs_df=docs, n_buckets=8, wave_size=8
    )
    eng.precompute_thresholds(k=5)
    # a real term with a stored threshold, then in 300 new docs: its
    # df jumps, so its stored k-th score exceeds every new score
    rare = min(
        (t for t, d in eng._lexicon.items() if d >= 5 and t.isalpha()),
        key=lambda t: (eng._lexicon[t], t),
    )
    first = int(docs.agg(F.max("doc_id")).collect()[0][0]) + 1
    extra = spark.range(first, first + 300).select(
        F.col("id").alias("doc_id"), F.lit(f"xray {rare}").alias("text")
    )
    grown = SearchEngine.build(
        spark, SF, root, docs_df=docs.unionByName(extra),
        n_buckets=8, wave_size=8,
    )
    query = [f"xray {rare}"]
    base = _rows(grown.search_batch(query, k=5))
    assert len(base) == 5
    assert _rows(grown.search_batch(query, k=5, primed=True)) == base
    # a precompute on the grown index primes again, still identically
    grown.precompute_thresholds(k=5)
    fresh = SearchEngine.load(spark, root)
    assert _rows(fresh.search_batch(query, k=5, primed=True)) == base


def test_noop_rebuild_keeps_thresholds_primed(spark, tmp_path):
    """A rebuild that changes nothing publishes no new corpus stats, so
    the threshold table derived from them still primes after a fresh
    load, with the unprimed answer."""
    from pisa_spark.index.lineage import STATS_TABLE
    from pisa_spark.sources import catalog

    root = str(tmp_path / "idx_noop")
    eng = SearchEngine.build(spark, SF, root, n_buckets=8, wave_size=8)
    eng.precompute_thresholds(k=10)
    seq = catalog.current_seq(root, STATS_TABLE)
    queries = ["dup", "dup data", "the"]
    base = _rows(eng.search_batch(queries, k=10))
    again = SearchEngine.build(spark, SF, root, n_buckets=8, wave_size=8)
    assert catalog.current_seq(root, STATS_TABLE) == seq
    normalized = again._normalize(queries)
    dfs = again._term_dfs({t for q in normalized for t in q["terms"]})
    assert again._primed_thresholds(normalized, 10, dfs)
    assert _rows(again.search_batch(queries, k=10, primed=True)) == base
