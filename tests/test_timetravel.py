"""Catalog snapshot log + time travel: every publish archives an
immutable manifest; read_table(as_of=seq) / load_index(as_of_ts=ts)
resolve historical states; vacuum retention (keep_snapshots) bounds
how far back travel reaches and prunes expired archives atomically
with their generations."""

import time

import pytest
from pyspark.sql import functions as F

from pisa_spark.engine import SearchEngine
from pisa_spark.index.lineage import build_index_resumable, load_index
from pisa_spark.sources import catalog


def test_unpartitioned_time_travel(spark, tmp_path):
    root = str(tmp_path)
    catalog.write_table(
        spark.createDataFrame([(1, "a")], "id long, v string"), root, "t"
    )
    s1 = catalog.snapshots(root, "t")[-1]["seq"]
    catalog.write_table(
        spark.createDataFrame([(2, "b")], "id long, v string"), root, "t"
    )
    assert [r["id"] for r in catalog.read_table(spark, root, "t").collect()] == [2]
    assert [
        r["id"] for r in catalog.read_table(spark, root, "t", as_of=s1).collect()
    ] == [1]
    log = catalog.snapshots(root, "t")
    assert [s["seq"] for s in log] == [1, 2]
    assert all(s["ts"] is not None for s in log)


def test_partitioned_time_travel_after_partition_rewrite(spark, tmp_path):
    root = str(tmp_path)
    catalog.write_table(
        spark.createDataFrame([(0, 10), (1, 20)], "b int, x int"),
        root, "p", partition_by=["b"],
    )
    s1 = catalog.snapshots(root, "p")[-1]["seq"]
    # rewrite only partition b=1 (dynamic-partition overwrite)
    catalog.write_table(
        spark.createDataFrame([(1, 99)], "b int, x int"),
        root, "p", partition_by=["b"],
    )
    cur = {r["b"]: r["x"] for r in catalog.read_table(spark, root, "p").collect()}
    old = {
        r["b"]: r["x"]
        for r in catalog.read_table(spark, root, "p", as_of=s1).collect()
    }
    assert cur == {0: 10, 1: 99}
    assert old == {0: 10, 1: 20}


def test_vacuum_retention_prunes_expired_snapshots(spark, tmp_path):
    root = str(tmp_path)
    for i in range(3):
        catalog.write_table(
            spark.createDataFrame([(i,)], "id long"), root, "t"
        )
    seqs = [s["seq"] for s in catalog.snapshots(root, "t")]
    assert seqs == [1, 2, 3]
    removed = catalog.vacuum(root, "t", min_age_s=0, keep_snapshots=1)
    # seq 2 stays travelable (retention 1 beyond current), seq 1 expires
    assert any("manifest-00000001" in r for r in removed)
    assert [r["id"] for r in catalog.read_table(spark, root, "t", as_of=2).collect()] == [1]
    with pytest.raises(FileNotFoundError, match="seq=1"):
        catalog.read_table(spark, root, "t", as_of=1)
    # the expired snapshot's generation is gone; kept ones still read
    assert [r["id"] for r in catalog.read_table(spark, root, "t").collect()] == [2]


def test_engine_time_travel_serves_old_index(spark, sf_dir, tmp_path):
    """Grow the index, then query it as it stood before the growth."""
    root = str(tmp_path / "idx")
    d_all = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_index_resumable(
        spark, sf_dir, root,
        docs_df=d_all.filter(F.col("doc_id") < 50),
        docs_per_bucket=64, wave_size=8,
    )
    ts1 = time.time()
    time.sleep(0.05)
    build_index_resumable(
        spark, sf_dir, root, docs_df=d_all, docs_per_bucket=64, wave_size=8
    )
    _, st_now = load_index(spark, root)
    _, st_old = load_index(spark, root, as_of_ts=ts1)
    assert st_now["n_docs"] == 500 and st_old["n_docs"] == 50
    eng_old = SearchEngine.load(spark, root, cache=False, as_of_ts=ts1)
    rows = eng_old.search("data the", k=10, two_phase=False).collect()
    assert rows and all(r["doc_id"] < 50 for r in rows)
    eng_now = SearchEngine.load(spark, root, cache=False)
    assert any(
        r["doc_id"] >= 50
        for r in eng_now.search("data the", k=10, two_phase=False).collect()
    )


def test_engine_time_travel_lexicon_is_as_of(spark, sf_dir, tmp_path):
    """A time-travel load takes its lexicon from the same as-of
    postings it serves: dfs count only the docs indexed back then."""
    from tests.oracle import load_corpus

    root = str(tmp_path / "idx_lex")
    d_all = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_index_resumable(
        spark, sf_dir, root,
        docs_df=d_all.filter(F.col("doc_id") < 50),
        docs_per_bucket=64, wave_size=8,
    )
    ts1 = time.time()
    time.sleep(0.05)
    build_index_resumable(
        spark, sf_dir, root, docs_df=d_all, docs_per_bucket=64, wave_size=8
    )
    old_df: dict[str, int] = {}
    for d, toks in load_corpus(sf_dir).items():
        if d < 50:
            for t in set(toks):
                old_df[t] = old_df.get(t, 0) + 1
    eng_old = SearchEngine.load(spark, root, cache=False, as_of_ts=ts1)
    assert eng_old._lexicon == old_df
    eng_now = SearchEngine.load(spark, root, cache=False)
    assert eng_now._lexicon["data"] > eng_old._lexicon["data"]


def test_partitioned_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution (Iceberg-compatible): a partition rewritten
    with an extra column unions with older generations, which read
    NULL for it; time travel still serves the old schema."""
    root = str(tmp_path)
    catalog.write_table(
        spark.createDataFrame([(0, 1), (1, 2)], "b int, x int"),
        root, "p", partition_by=["b"],
    )
    s1 = catalog.snapshots(root, "p")[-1]["seq"]
    catalog.write_table(
        spark.createDataFrame([(1, 20, "en")], "b int, x int, lang string"),
        root, "p", partition_by=["b"],
    )
    cur = {r["b"]: (r["x"], r["lang"])
           for r in catalog.read_table(spark, root, "p").collect()}
    assert cur == {0: (1, None), 1: (20, "en")}
    old = catalog.read_table(spark, root, "p", as_of=s1)
    assert "lang" not in old.columns
    assert {r["b"]: r["x"] for r in old.collect()} == {0: 1, 1: 2}


def test_engine_time_travel_cached_mode(spark, sf_dir, tmp_path):
    """cache=True time travel: the arranged/cached serving path works
    against a historical snapshot too."""
    root = str(tmp_path / "idx2")
    d_all = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_index_resumable(
        spark, sf_dir, root,
        docs_df=d_all.filter(F.col("doc_id") < 80),
        docs_per_bucket=64, wave_size=8,
    )
    ts1 = time.time()
    time.sleep(0.05)
    build_index_resumable(
        spark, sf_dir, root, docs_df=d_all, docs_per_bucket=64, wave_size=8
    )
    eng = SearchEngine.load(spark, root, cache=True, as_of_ts=ts1)
    assert eng.stats["n_docs"] == 80
    rows = eng.search("data the", k=10, two_phase=False).collect()
    assert rows and all(r["doc_id"] < 80 for r in rows)
    eng.postings.unpersist()
