"""SearchEngine facade: build/load/search parity with the direct API."""

import pytest
from pyspark.sql import functions as F


from pisa_spark.engine import SearchEngine
from tests.oracle import Bm25Oracle


@pytest.fixture(scope="module")
def eng(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("engine") / "idx")
    return SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)


@pytest.fixture(scope="module")
def oracle(sf_dir):
    return Bm25Oracle(sf_dir)


def test_search_string_queries(eng, oracle):
    rows = eng.search("data join", k=10).collect()
    expect = oracle.topk(["data", "join"], k=10)
    assert [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])] \
        == [(r, d) for r, d, _ in expect]
    # '+' makes it conjunctive
    rows_and = eng.search("+window merge scan", k=10).collect()
    expect_and = oracle.topk(["window", "merge", "scan"], k=10, conjunctive=True)
    assert [(r["rank"], r["doc_id"]) for r in sorted(rows_and, key=lambda r: r["rank"])] \
        == [(r, d) for r, d, _ in expect_and]


def test_search_batch(eng, oracle):
    got = eng.search_batch(["data join", "the"], k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    assert sorted(by_q[0]) == [(r, d) for r, d, _ in oracle.topk(["data", "join"], k=5)]
    assert sorted(by_q[1]) == [(r, d) for r, d, _ in oracle.topk(["the"], k=5)]


def test_search_with_docs(eng, sf_dir, spark):
    eng.with_corpus(sf_dir)
    rows = eng.search_with_docs("data join", k=5).collect()
    assert len(rows) == 5
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in rows:
        assert r["text"] == texts[r["doc_id"]]
    ids = [r["doc_id"] for r in rows]
    fetched = eng.fetch_docs(ids).collect()
    assert sorted(r["doc_id"] for r in fetched) == sorted(ids)


def test_load_and_metadata(spark, eng, sf_dir, tmp_path_factory):
    stats = eng.corpus_stats()
    assert stats["n_docs"] == 500 and stats["avgdl"] > 0
    ts = {r["term"]: r["df"] for r in eng.term_stats(["data", "zzz"]).collect()}
    assert ts.get("data", 0) > 0 and "zzz" not in ts


def test_missing_corpus_raises_clearly(eng):
    import pytest as _pytest

    from pisa_spark.engine import SearchEngine

    fresh = SearchEngine(eng.spark, eng.postings, eng.stats, pre_arranged=True)
    with _pytest.raises(ValueError, match="with_corpus"):
        fresh.fetch_docs([1, 2])


def test_edge_queries(eng):
    # empty query -> empty result, no error
    assert eng.search("").count() == 0
    # absent term OR -> empty; absent term AND with present term -> empty
    assert eng.search("zzzabsent").count() == 0
    assert eng.search("+data zzzabsent").count() == 0
    # duplicate terms score once (same as the single-term query)
    a = sorted(map(tuple, eng.search("data data data", k=5).collect()))
    b = sorted(map(tuple, eng.search("data", k=5).collect()))
    assert a == b


def test_snippets(eng, sf_dir):
    eng.with_corpus(sf_dir)
    rows = eng.search_with_docs("data join", k=5, snippet_window=6).collect()
    assert len(rows) == 5
    for r in rows:
        words = r["snippet"].split(" ")
        assert len(words) <= 6
        # the snippet window contains a query term (hits always match)
        assert any(w in ("data", "join") for w in words), r["snippet"]


def test_load_uncached_shuffle_free_and_identical(spark, eng, sf_dir, tmp_path_factory):
    """cache=False serving: the stored one-file-per-bucket layout is
    detected, queries skip the bucket repartition entirely (no bucket
    Exchange in the plan), and results are identical to cached mode."""
    root = str(tmp_path_factory.mktemp("engine_uc") / "idx")
    cached = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    uncached = SearchEngine.load(spark, root, cache=False)
    assert uncached._pre_arranged, "stored layout should satisfy the invariant"

    a = sorted(map(tuple, cached.search("data join", k=10).collect()))
    b = sorted(map(tuple, uncached.search("data join", k=10).collect()))
    assert a == b

    plan = uncached.search("data join", k=10)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bucket" not in plan, plan


def test_search_algorithm_maxscore(eng, oracle):
    rows = eng.search("data join", k=10, algorithm="maxscore").collect()
    expect = oracle.topk(["data", "join"], k=10)
    assert [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])] \
        == [(r, d) for r, d, _ in expect]
    with pytest.raises(ValueError, match="algorithm"):
        eng.search("data", algorithm="nope")


def test_search_batch_reroutes_large_maxscore_batch(eng):
    """maxscore is single-query latency mode: a batch beyond
    MAXSCORE_BATCH_LIMIT reroutes to WAND with a warning (identical
    ranks)."""
    import warnings

    qs = [f"data join q{i}" for i in range(eng.MAXSCORE_BATCH_LIMIT + 1)]
    with pytest.warns(UserWarning, match="rerouting"):
        rerouted = eng.search_batch(qs, k=5, algorithm="maxscore").collect()
    wand = eng.search_batch(qs, k=5, algorithm="wand").collect()
    assert sorted(map(tuple, rerouted)) == sorted(map(tuple, wand))
    # small batches keep the requested kernel without noise
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        eng.search_batch(["data join"], k=5, algorithm="maxscore").collect()


def test_term_df_cache_populates_and_serves(eng, oracle):
    """A load()ed engine serves dfs from the lexicon taken at load: the
    lazy per-query cache stays empty, repeat searches stay oracle-
    identical, and an absent term is 0 without breaking the query.
    The lazy fill itself is covered by the fallback-path test below."""
    assert eng._lexicon is not None
    eng._df_cache.clear()
    first = eng.search("data join", k=5).collect()
    again = eng.search("data join", k=5).collect()
    assert sorted((r["rank"], r["doc_id"]) for r in first) \
        == sorted((r["rank"], r["doc_id"]) for r in again) \
        == [(r, d) for r, d, _ in oracle.topk(["data", "join"], k=5)]
    rows = eng.search("zzzabsent", k=5).collect()
    assert rows == [] and eng._term_dfs({"zzzabsent"}) == {"zzzabsent": 0}
    assert eng._df_cache == {}


def _job_ids(spark, group, fn):
    """Run fn under its own job group; (result, ids of the Spark jobs
    it launched) once the listener bus has caught up."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_loaded_search_launches_no_job_before_collect(spark, eng, oracle):
    """Planning a query on a load()ed index needs no Spark job, even
    for terms never queried before; .collect() runs the query."""
    df, jobs = _job_ids(
        spark, "plan-single", lambda: eng.search("merge scan zzzfresh", k=5)
    )
    assert jobs == []
    _, jobs = _job_ids(
        spark, "plan-batch",
        lambda: eng.search_batch(["window data", "+data join"], k=5),
    )
    assert jobs == []
    rows, jobs = _job_ids(spark, "exec-single", df.collect)
    assert jobs, "the job-group count must see the query's own jobs"
    assert sorted((r["rank"], r["doc_id"]) for r in rows) == [
        (r, d) for r, d, _ in oracle.topk(["merge", "scan", "zzzfresh"], k=5)
    ]


def test_serving_relation_has_one_partition_per_core(spark, eng):
    """The cached serving relation, and the one delete_docs re-arranges,
    have defaultParallelism partitions: one wave of kernel tasks."""
    cores = spark.sparkContext.defaultParallelism
    assert eng.postings.rdd.getNumPartitions() == cores
    fresh = SearchEngine.load(spark, eng._index_root)
    victim = eng.search("data", k=1).collect()[0]["doc_id"]
    fresh.delete_docs([victim], persist=False)
    assert fresh.postings.rdd.getNumPartitions() == cores
    assert victim not in {
        r["doc_id"] for r in fresh.search("data", k=10).collect()
    }
    fresh.postings.unpersist()
    # fresh's base relation has eng.postings' plan, so Spark keeps ONE
    # cache entry for both: unpersisting it would leave every later
    # test in this module serving eng uncached
    assert eng.postings.storageLevel.useMemory


def test_small_query_runs_one_job_of_one_task(spark, eng, oracle):
    """A query whose terms hold fewer than bm25.POSTINGS_PER_TASK
    postings runs its kernel on one partition, so the top-k window needs
    no exchange: one Spark job running one task."""
    query = "data join"
    loaded = SearchEngine.load(spark, eng._index_root)
    loaded.search(query, k=10).collect()  # the serving cache is filled
    rows, jobs = _job_ids(
        spark, "one-task", lambda: loaded.search(query, k=10).collect()
    )
    assert len(jobs) == 1, jobs
    tracker = spark.sparkContext.statusTracker()
    stages = [
        tracker.getStageInfo(s) for s in tracker.getJobInfo(jobs[0]).stageIds
    ]
    assert sum(s.numCompletedTasks for s in stages if s) == 1
    assert sorted((r["rank"], r["doc_id"]) for r in rows) == [
        (r, d) for r, d, _ in oracle.topk(["data", "join"], k=10)
    ]


def test_small_scored_query_runs_one_job_of_one_task(spark, eng, monkeypatch):
    """search_scored sizes its kernel stage from the term stats it
    already holds: a warm small query runs one Spark job of one task,
    with the rows of the one-partition-per-core plan."""
    from pisa_spark.query import bm25

    loaded = SearchEngine.load(spark, eng._index_root)

    def run():
        return sorted(
            tuple(r)
            for r in loaded.search_scored("data join", scorer="qld").collect()
        )

    run()  # the serving cache and the term stats are filled
    rows, jobs = _job_ids(spark, "one-task-scored", run)
    assert len(jobs) == 1, jobs
    tracker = spark.sparkContext.statusTracker()
    stages = [
        tracker.getStageInfo(s) for s in tracker.getJobInfo(jobs[0]).stageIds
    ]
    assert sum(s.numCompletedTasks for s in stages if s) == 1
    monkeypatch.setattr(bm25, "POSTINGS_PER_TASK", 1)
    assert rows and run() == rows


def test_big_query_runs_one_partition_per_core(spark, eng, monkeypatch):
    """Above POSTINGS_PER_TASK postings per task the kernel stage takes
    one partition per core, on the cached (coalesced) and the
    unarranged (repartitioned) relation alike, with identical rows."""
    from pisa_spark.query import bm25

    cores = spark.sparkContext.defaultParallelism
    terms = ["data", "join"]
    dfs = eng._term_dfs(terms)
    unarranged = SearchEngine(spark, eng.postings, eng.stats)

    def rows(e):
        return [tuple(r) for r in e.search("data join", k=10).collect()]

    def partitions(pre_arranged):
        arranged, _ = bm25._arrange_pruned(eng.postings, terms, dfs, pre_arranged)
        return arranged.rdd.getNumPartitions()

    small = [rows(eng), rows(unarranged)]
    assert partitions(True) == partitions(False) == 1
    monkeypatch.setattr(bm25, "POSTINGS_PER_TASK", 1)
    assert partitions(True) == partitions(False) == cores
    assert [rows(eng), rows(unarranged)] == small
    assert small[0] == small[1]
    # callers without real dfs keep one partition per core
    assert bm25.kernel_partitions(spark, {}) == cores


def test_lexicon_matches_oracle_dfs(eng, oracle):
    """The load-time lexicon holds exactly the oracle's dfs — head,
    mid-frequency and absent terms included."""
    ranked = sorted(oracle.df, key=lambda t: (-oracle.df[t], t))
    head, mid = ranked[0], ranked[len(ranked) // 2]
    assert eng._term_dfs({head, mid, "zzzabsent"}) == {
        head: oracle.df[head], mid: oracle.df[mid], "zzzabsent": 0,
    }
    assert eng._lexicon == dict(oracle.df)


def test_lazy_df_path_without_lexicon(spark, eng, oracle, monkeypatch):
    """A vocabulary above the lexicon cap, and an engine built straight
    from a relation, keep the lazy per-query df lookup: unseen terms
    fill _df_cache (absent ones as 0) and answers stay oracle-
    identical."""
    import pisa_spark.engine as engine_mod

    monkeypatch.setattr(
        engine_mod, "LEXICON_MAX_TERMS", len(oracle.df) - 1
    )
    capped = SearchEngine.load(spark, eng._index_root, cache=False)
    direct = SearchEngine(spark, eng.postings, eng.stats, pre_arranged=True)
    for e in (capped, direct):
        assert e._lexicon is None and e._df_cache == {}
        for q, conj in (("data join", False), ("+window merge scan", True)):
            terms = [t.lstrip("+") for t in q.split()]
            rows = e.search(q, k=10).collect()
            assert sorted((r["rank"], r["doc_id"]) for r in rows) == [
                (r, d) for r, d, _ in oracle.topk(terms, k=10, conjunctive=conj)
            ]
        assert e._df_cache["data"] == oracle.df["data"] > 0
        assert e._df_cache["join"] == oracle.df["join"] > 0
        assert e.search("zzzabsent", k=5).collect() == []
        assert e._df_cache["zzzabsent"] == 0


def test_search_scored_off_loaded_index(eng, oracle, spark, sf_dir):
    """search_scored serves any registered scorer off the loaded
    compressed index; bm25 mode must agree with the pruned search path
    and the independent oracle, alternative scorers with the direct
    tf-relation path."""
    from pyspark.sql import functions as F

    from pisa_spark.corpus import tokenize_documents
    from pisa_spark.index.build import term_frequencies
    from pisa_spark.query.scorers import scored_topk_dataframe

    got = eng.search_scored(["data join"], scorer="bm25", k=10).collect()
    expect = oracle.topk(["data", "join"], k=10)
    assert [
        (r["rank"], r["doc_id"]) for r in sorted(got, key=lambda r: r["rank"])
    ] == [(r, d) for r, d, _ in expect]

    stats = eng.corpus_stats()
    tf = term_frequencies(tokenize_documents(spark, sf_dir))
    qdf = spark.createDataFrame(
        [(0, "data"), (0, "join")], "query_id int, term string"
    )
    for scorer in ("qld", "pl2", "dph"):
        a = eng.search_scored(["data join"], scorer=scorer, k=10).collect()
        b = scored_topk_dataframe(
            tf, qdf, stats["n_docs"], stats["avgdl"],
            float(stats["total_terms"]), scorer=scorer, k=10,
        ).collect()
        key = lambda r: (r["rank"], r["doc_id"], round(r["score"], 9))
        assert sorted(map(key, a)) == sorted(map(key, b)), scorer


def test_search_scored_mixed_conjunctive_served(eng):
    """The kernel path carries conjunctive-ness per query, so mixed
    OR/AND batches serve in one pass (the relational path's shared-flag
    restriction is gone — full parity in test_scored_kernel.py)."""
    rows = eng.search_scored(
        ["data join", "+data join"], scorer="qld"
    ).collect()
    assert {r["query_id"] for r in rows} == {0, 1}


def test_search_negation_string_syntax(eng, spark, sf_dir):
    """'-term' through the facade: no result doc contains the negated
    term; scores equal the positive-terms-only query on the same docs."""
    from pisa_spark.corpus import tokens_col

    rows = eng.search("data join -the", k=10).collect()
    assert rows
    docs_with_the = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.array_contains("t", "the"))
        .collect()
    }
    assert all(r["doc_id"] not in docs_with_the for r in rows)
    plain = {
        r["doc_id"]: r["score"]
        for r in eng.search("data join", k=500).collect()
    }
    for r in rows:
        assert abs(plain[r["doc_id"]] - r["score"]) < 1e-9
