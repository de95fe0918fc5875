"""Tombstone deletes (index/deletes.py + SearchEngine.delete_docs).

Contracts: deleted docs vanish from EVERY serving surface — term
kernels, positional (phrase/near/mixed), quantized, scored, wildcard,
and the weighted passes (RM3, synonyms) — while SURVIVORS KEEP THEIR
EXACT SCORES (Lucene stale-stats semantics); deletes accumulate;
persisted deletes survive a fresh load(); explain (audit tool) still
refuses by design; composes with conjunctive/negation/positional
indexes."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.engine import SearchEngine
from pisa_spark.index.deletes import (
    DELETED_TERM,
    exclude_deleted,
    tombstone_postings,
)


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    return SearchEngine.build(
        spark, sf_dir, str(tmp_path / "idx"), n_buckets=8, wave_size=8
    )


def _rows(df):
    return [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in sorted(df.collect(), key=lambda r: r["rank"])
    ]


def test_delete_excludes_and_keeps_exact_scores(eng):
    before = eng.search("the", k=30).collect()
    victims = [r["doc_id"] for r in before if r["rank"] in (1, 3, 7)]
    eng.delete_docs(victims, persist=False)
    after = _rows(eng.search("the", k=10))
    # expected: pre-delete ranking minus the victims, ranks compacted,
    # scores BIT-IDENTICAL (stats stay stale by design)
    survivors = [r for r in before if r["doc_id"] not in victims]
    expect = [
        (i + 1, r["doc_id"], round(r["score"], 9))
        for i, r in enumerate(
            sorted(survivors, key=lambda r: r["rank"])[:10]
        )
    ]
    assert after == expect
    assert not set(victims) & {d for _, d, _ in after}


def test_deletes_accumulate_and_compose(eng):
    top = [r["doc_id"] for r in eng.search("data join", k=4).collect()]
    eng.delete_docs(top[:2], persist=False)
    eng.delete_docs(top[2:4], persist=False)
    got = {r["doc_id"] for r in eng.search("data join", k=10).collect()}
    assert not set(top[:4]) & got
    # conjunctive and negation still served, still excluding
    conj = {
        r["doc_id"]
        for r in eng.search("+window merge scan", k=10).collect()
    }
    assert not set(top[:4]) & conj
    neg = {r["doc_id"] for r in eng.search("data -join", k=10).collect()}
    assert not set(top[:4]) & neg


def test_persisted_deletes_survive_reload(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    victims = [
        r["doc_id"] for r in eng.search("the", k=3).collect()
    ]
    eng.delete_docs(victims)  # persist=True default
    fresh = SearchEngine.load(spark, root)
    got = {r["doc_id"] for r in fresh.search("the", k=10).collect()}
    assert not set(victims) & got
    # and cache=False serving honors them too
    cold = SearchEngine.load(spark, root, cache=False)
    got2 = {r["doc_id"] for r in cold.search("the", k=10).collect()}
    assert not set(victims) & got2


def test_reload_with_deletes_keeps_stale_lexicon(spark, sf_dir, tmp_path):
    """A load() that re-applies persisted tombstones takes its lexicon
    from the BASE postings (stale stats), so surviving docs score
    exactly as before the delete and the pseudo-term is no real term."""
    root = str(tmp_path / "idx")
    eng = SearchEngine.build(spark, sf_dir, root, n_buckets=8, wave_size=8)
    before = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search("data join", k=20).collect()
    }
    victims = sorted(before)[:3]
    eng.delete_docs(victims)
    fresh = SearchEngine.load(spark, root)
    assert fresh._lexicon == eng._lexicon
    assert DELETED_TERM not in fresh._lexicon
    after = {
        r["doc_id"]: round(r["score"], 9)
        for r in fresh.search("data join", k=20).collect()
    }
    assert not set(victims) & set(after)
    assert all(before[d] == s for d, s in after.items() if d in before)


def test_delete_swaps_in_a_warm_relation_and_frees_the_replaced(spark, eng):
    """delete_docs fills the new tombstoned serving cache before it
    returns, so the first query after it launches no more Spark jobs
    than the second; the tombstoned relation it replaces is unpersisted
    and the base relation stays cached."""
    from pyspark import StorageLevel

    from tests.test_engine import _job_ids

    none = StorageLevel(False, False, False, False)
    base = eng.postings
    top = [r["doc_id"] for r in eng.search("data join", k=4).collect()]
    eng.delete_docs(top[:1], persist=False)
    first = eng.postings
    eng.delete_docs(top[1:2], persist=False)
    second = eng.postings
    assert first.storageLevel == none
    assert second.storageLevel != none and base.storageLevel != none
    jobs = [
        _job_ids(
            spark, f"after-delete-{i}",
            lambda: eng.search("data join", k=10).collect(),
        )
        for i in range(2)
    ]
    assert len(jobs[0][1]) <= len(jobs[1][1]), jobs
    assert jobs[0][0] == jobs[1][0]
    assert not set(top[:2]) & {r["doc_id"] for r in jobs[0][0]}


def test_deletes_compose_with_lifted_facades(eng):
    """search_scored / search_quantized / search_wildcard now exclude
    tombstoned docs (the __deleted__ pseudo-term rides their kernels'
    exclusion sets); surviving docs keep their exact scores. explain
    stays guarded (audit tool — no exclusion path by design)."""
    before_s = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_scored("data join", scorer="qld", k=50).collect()
    }
    before_q = {
        r["doc_id"]: r["score_q"]
        for r in eng.search_quantized(["data join"], k=50).collect()
    }
    before_w = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_wildcard("dat*", k=50).collect()
    }
    victims = sorted(before_s)[:2]
    eng.delete_docs(victims, persist=False)

    def check(before, after):
        # victims gone; every surviving pre-delete doc still present
        # (freed slots admit NEW docs at the tail — that's correct);
        # docs in both keep their exact scores (stale-stats contract)
        assert not set(victims) & set(after)
        assert set(before) - set(victims) <= set(after)
        assert all(after[d] == before[d] for d in after if d in before)

    check(before_s, {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_scored("data join", scorer="qld", k=50).collect()
    })
    check(before_q, {
        r["doc_id"]: r["score_q"]
        for r in eng.search_quantized(["data join"], k=50).collect()
    })
    check(before_w, {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_wildcard("dat*", k=50).collect()
    })
    with pytest.raises(ValueError, match="tombstone"):
        eng.explain("data join")


def test_positional_index_deletes(spark, sf_dir, tmp_path):
    eng = SearchEngine.build(
        spark, sf_dir, str(tmp_path / "pidx"), n_buckets=8,
        wave_size=8, with_positions=True,
    )
    victims = [r["doc_id"] for r in eng.search("data", k=2).collect()]
    eng.delete_docs(victims, persist=False)
    got = {r["doc_id"] for r in eng.search("data", k=10).collect()}
    assert not set(victims) & got
    # phrase / proximity / mixed compose with deletes: the __deleted__
    # pseudo-term gates the candidate set in the positional kernel
    ph_before = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_phrase("order fast", k=50).collect()
    }
    ph_victims = sorted(ph_before)[:1]
    eng.delete_docs(ph_victims, persist=False)
    ph_after = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_phrase("order fast", k=50).collect()
    }
    assert set(ph_after) == set(ph_before) - set(ph_victims)
    assert all(ph_after[d] == ph_before[d] for d in ph_after)
    nr = eng.search_near("order data", window=8, k=50).collect()
    assert not (set(victims) | set(ph_victims)) & {
        r["doc_id"] for r in nr
    }
    mx = eng.search('"order fast" data', k=50).collect()
    assert not (set(victims) | set(ph_victims)) & {
        r["doc_id"] for r in mx
    }


def test_in_memory_engine_needs_span(spark, sf_dir):
    from pisa_spark.index.build import build_index_dataframes

    postings, _, _, stats = build_index_dataframes(
        spark, sf_dir, n_buckets=8
    )
    eng = SearchEngine(spark, postings, stats)
    with pytest.raises(ValueError, match="span"):
        eng.delete_docs([1], persist=False)
    with pytest.raises(ValueError, match="persist"):
        eng.stats["span"] = 63
        eng.delete_docs([1])  # persist without an index root


def test_exclude_deleted_helper():
    qs = exclude_deleted(
        [{"terms": ["a"], "negated": ["b"]}, {"terms": ["c"]}]
    )
    assert qs[0]["negated"] == ["b", DELETED_TERM]
    assert qs[1]["negated"] == [DELETED_TERM]
    # idempotent
    assert exclude_deleted(qs)[0]["negated"].count(DELETED_TERM) == 1


def test_search_page_windows_global_order(eng):
    full = _rows(eng.search("the", k=25))
    page2 = eng.search_page("the", page_size=10, offset=10).collect()
    got = [
        (r["rank"], r["page_rank"], r["doc_id"], round(r["score"], 9))
        for r in sorted(page2, key=lambda r: r["rank"])
    ]
    expect = [
        (rk, rk - 10, d, s) for rk, d, s in full if 10 < rk <= 20
    ]
    assert got == expect
    with pytest.raises(ValueError, match="offset"):
        eng.search_page("the", offset=-1)
    # pagination composes with deletes: page 1 after deleting page-1
    # docs equals the pre-delete ranks 4..13 window
    victims = [d for rk, d, _ in full if rk <= 3]
    eng.delete_docs(victims, persist=False)
    paged = eng.search_page("the", page_size=3, offset=3).collect()
    survivors = [d for rk, d, _ in full if d not in victims]
    assert [r["doc_id"] for r in sorted(paged, key=lambda r: r["rank"])] \
        == survivors[3:6]


def test_compact_closes_stale_stats_window(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8
    ).with_corpus(sf_dir)
    victims = [r["doc_id"] for r in eng.search("the", k=4).collect()]
    eng.delete_docs(victims)
    fresh = eng.compact(wave_size=8)
    # guards lifted, deletes table cleared, nothing tombstoned
    assert fresh._tombstone_ids is None
    got = _rows(fresh.search("the", k=10))
    assert not set(victims) & {d for _, d, _ in got}
    # stats refreshed: equals a CLEAN build over the surviving docs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    clean = SearchEngine.build(
        spark, sf_dir, str(tmp_path / "clean"), docs_df=survivors,
        n_buckets=8, wave_size=8,
    )
    assert got == _rows(clean.search("the", k=10))
    assert fresh.stats["n_docs"] == clean.stats["n_docs"]
    # scored facade serves again post-compact
    fresh.search_scored("data join", scorer="qld").collect()
    # a reload sees no deletes either
    again = SearchEngine.load(spark, root)
    assert again._tombstone_ids is None


def test_rm3_and_synonyms_exclude_deleted(spark, sf_dir, tmp_path):
    """The weighted-pass facades (RM3, synonym expansion) anti-join the
    tombstone ids before the top-k window: victims vanish, survivors
    present in both runs keep their exact scores. search_synonyms
    previously had NO deletes handling — this pins the fix."""
    root = str(tmp_path / "widx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8
    ).with_corpus(sf_dir)
    before_syn = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_synonyms("data table", k=50).collect()
    }
    before_rm3 = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_rm3("data join", k=50).collect()
    }
    victims = sorted(set(before_syn) | set(before_rm3))[:2]
    eng.delete_docs(victims, persist=False)
    after_syn = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.search_synonyms("data table", k=50).collect()
    }
    assert not set(victims) & set(after_syn)
    assert all(
        after_syn[d] == before_syn[d] for d in after_syn if d in before_syn
    )
    after_rm3 = eng.search_rm3("data join", k=50).collect()
    assert not set(victims) & {r["doc_id"] for r in after_rm3}


def test_rm3_negation_excludes_from_final_ranking(spark, sf_dir, tmp_path):
    """'-term' in an RM3 query must gate the FINAL ranking, not just
    feedback selection: no result doc contains the negated term, and
    docs present in both runs keep identical scores (exclusion is an
    anti-join, never a score change)."""
    from pisa_spark.corpus import tokens_col

    root = str(tmp_path / "ridx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8
    ).with_corpus(sf_dir)
    got = eng.search_rm3("data join -the", k=50).collect()
    assert got
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    has_the = {
        r["doc_id"]
        for r in docs.select(
            "doc_id", tokens_col(F.col("text")).alias("toks")
        )
        .filter(F.array_contains("toks", "the"))
        .collect()
    }
    assert not {r["doc_id"] for r in got} & has_the
