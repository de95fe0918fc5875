"""Kill/rerun resumability (SURVEY §5.2 item 4): a crashed build resumes
from committed buckets, produces an identical index, and never
duplicates lineage rows."""

import pytest
from pyspark.sql import functions as F

from pisa_spark.index.build import build_index_dataframes
from pisa_spark.index.lineage import (
    build_index_resumable,
    committed_buckets,
    latest_lineage,
    load_index,
)
from pisa_spark.query.bm25 import bm25_topk_wand
from pisa_spark.sources import catalog
from tests.test_index_build import decode_index


def test_kill_and_resume_identical(spark, sf_dir, tmp_path):
    root_a = str(tmp_path / "idx_crash")
    root_b = str(tmp_path / "idx_clean")

    # crash after 1 of 2 waves
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index_resumable(
            spark, sf_dir, root_a, n_buckets=8, wave_size=4, fail_after_waves=1
        )
    done = committed_buckets(spark, root_a)
    assert len(done) == 4  # first wave committed

    # resume: only pending buckets are built
    summary = build_index_resumable(spark, sf_dir, root_a, n_buckets=8, wave_size=4)
    assert summary["waves_run"] == 1
    assert len(committed_buckets(spark, root_a)) == 8

    # clean single-shot build for comparison
    build_index_resumable(spark, sf_dir, root_b, n_buckets=8, wave_size=8)

    pa, stats_a = load_index(spark, root_a)
    pb, _ = load_index(spark, root_b)
    assert decode_index(pa.collect()) == decode_index(pb.collect())

    # no duplicate lineage rows
    lin = catalog.read_table(spark, root_a, "lineage")
    assert lin.count() == lin.select("bucket").distinct().count() == 8
    assert lin.filter(F.col("status") != "committed").count() == 0
    # metrics are populated
    agg = lin.agg(F.sum("docs"), F.sum("postings"), F.sum("bytes_out")).collect()[0]
    assert agg[0] == 500 and agg[1] > 0 and agg[2] > 0


def test_rerun_after_crash_on_last_wave_publishes_stats(
    spark, sf_dir, tmp_path
):
    """A crash after the last wave leaves new postings under the old
    corpus_stats; the rerun runs no wave but still publishes the stats
    row, even when that row equals the old one. A rerun with nothing
    new publishes nothing."""
    corpus = str(tmp_path / "corpus_last")
    idx = str(tmp_path / "idx_last")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full.filter(F.col("doc_id") < 448).write.parquet(
        corpus + "/documents.parquet"
    )
    kw = dict(wave_size=8, docs_per_bucket=64)
    build_index_resumable(spark, corpus, idx, **kw)
    seq = catalog.current_seq(idx, "corpus_stats")
    assert build_index_resumable(spark, corpus, idx, **kw)["waves_run"] == 0
    assert catalog.current_seq(idx, "corpus_stats") == seq

    # growth: one wave (bucket 7), crash after it, stats stay at 448
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index_resumable(spark, corpus, idx, fail_after_waves=1, **kw)
    assert load_index(spark, idx)[1]["n_docs"] == 448
    s = build_index_resumable(spark, corpus, idx, **kw)
    assert s["waves_run"] == 0
    stats = load_index(spark, idx)[1]
    assert stats["n_docs"] == 500
    seq = catalog.current_seq(idx, "corpus_stats")

    # an edit that keeps every stat ('data' -> 'zzzz', same length):
    # the crashed wave changed postings, so the rerun still commits
    edited = full.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 10, F.regexp_replace("text", "data", "zzzz")
        ).otherwise(F.col("text")),
    )
    edited.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index_resumable(spark, corpus, idx, fail_after_waves=1, **kw)
    assert catalog.current_seq(idx, "corpus_stats") == seq
    s = build_index_resumable(spark, corpus, idx, **kw)
    assert s["waves_run"] == 0
    assert catalog.current_seq(idx, "corpus_stats") > seq
    assert load_index(spark, idx)[1] == stats


def test_rerun_noop_and_loaded_index_queryable(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    build_index_resumable(spark, sf_dir, root, n_buckets=8, wave_size=8)
    # rerun: everything committed -> zero waves
    summary = build_index_resumable(spark, sf_dir, root, n_buckets=8, wave_size=8)
    assert summary["waves_run"] == 0

    postings, stats = load_index(spark, root)
    q = [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False}]
    got = bm25_topk_wand(postings, q, stats["n_docs"], stats["avgdl"], k=10).collect()
    # must equal the in-memory build's answer
    mem_postings, _, _, mem_stats = build_index_dataframes(spark, sf_dir, n_buckets=8)
    expect = bm25_topk_wand(
        mem_postings, q, mem_stats["n_docs"], mem_stats["avgdl"], k=10
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))


def test_torn_write_invisible(spark, sf_dir, tmp_path):
    """A crash AFTER data files land but BEFORE the manifest rename must
    leave the previous committed state fully visible and the torn files
    invisible (the atomic-commit contract of the catalog seam)."""
    import os

    root = str(tmp_path / "idx_torn")
    build_index_resumable(spark, sf_dir, root, n_buckets=8, wave_size=8)
    before = decode_index(load_index(spark, root)[0].collect())

    # simulate the torn write: a fresh generation dir full of data
    # files for bucket 0, never published in the manifest
    tp = catalog.table_path(root, "postings")
    garbage = spark.createDataFrame(
        [(0, "tornterm", 0, 0, 0, 1, 1, 1, 1, 1, b"x", b"y", b"z")],
        "bucket int, term string, block_idx int, first_doc long, max_doc long, "
        "n int, tf_max int, tf_min int, dl_min int, dl_max int, "
        "docs binary, tfs binary, dls binary",
    )
    garbage.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(tp, "gen-deadbeef-torn")
    )

    after = decode_index(load_index(spark, root)[0].collect())
    assert after == before
    # and a subsequent build (resume) still works and stays identical
    s = build_index_resumable(spark, sf_dir, root, n_buckets=8, wave_size=8)
    assert s["waves_run"] == 0
    assert decode_index(load_index(spark, root)[0].collect()) == before


def test_content_change_same_count_rebuilds(spark, sf_dir, tmp_path):
    """A bucket whose docs changed CONTENT while keeping the same count
    must be detected as pending (count-only detection served stale
    postings); untouched buckets must not rebuild."""
    corpus = str(tmp_path / "corpus_mut")
    idx = str(tmp_path / "idx_mut")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)

    # mutate one doc's text in bucket 2 (doc range 128..191), same count
    mutated = full.withColumn(
        "text",
        F.when(F.col("doc_id") == 130, F.concat(F.col("text"), F.lit(" mutantterm")))
        .otherwise(F.col("text")),
    )
    mutated.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    s = build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)
    assert s["waves_run"] == 1, "content change went undetected"

    # rebuilt index equals a clean build of the mutated corpus
    clean = str(tmp_path / "idx_mut_clean")
    build_index_resumable(spark, corpus, clean, wave_size=8, docs_per_bucket=64)
    pa, _ = load_index(spark, idx)
    pb, _ = load_index(spark, clean)
    assert decode_index(pa.collect()) == decode_index(pb.collect())
    # only bucket 2 got a second committed lineage generation
    lin = catalog.read_table(spark, idx, "lineage")
    regen = (
        lin.groupBy("bucket").count().filter(F.col("count") > 1).collect()
    )
    assert [r["bucket"] for r in regen] == [2]


def test_incremental_growth_appends_buckets(spark, sf_dir, tmp_path):
    """Grow the corpus; only new/changed doc-range buckets rebuild, and
    the result is identical to a from-scratch build (the reference's
    hist/incre split applied to the index, with corner-stat bounds
    keeping old blocks valid as df/avgdl drift)."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx_incr")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()

    # stage 1: prefix corpus (doc_id < 300)
    full.filter(F.col("doc_id") < 300).write.mode("overwrite").parquet(corpus + "/documents.parquet")
    s1 = build_index_resumable(
        spark, corpus, idx, wave_size=4, docs_per_bucket=64
    )
    assert s1["docs"] == 300 == _lineage_docs(spark, idx)

    # stage 2: full corpus lands (doc ids 0..499); the last prefix
    # bucket (doc range 256-319) changed and buckets 5..7 are new
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    s2 = build_index_resumable(
        spark, corpus, idx, wave_size=4, docs_per_bucket=64
    )
    assert s2["docs"] == 500 == _lineage_docs(spark, idx)
    # only the changed bucket (4: range 256-319) + new buckets rebuilt
    assert s2["waves_run"] == 1, s2

    # identical to a clean full build
    clean = str(tmp_path / "idx_clean_full")
    build_index_resumable(spark, corpus, clean, wave_size=8, docs_per_bucket=64)
    pa, stats_a = load_index(spark, idx)
    pb, stats_b = load_index(spark, clean)
    assert decode_index(pa.collect()) == decode_index(pb.collect())
    assert stats_a == stats_b

    # and queries on the grown index match the in-memory build
    q = [{"query_id": 0, "terms": ["data", "join"], "conjunctive": False}]
    got = bm25_topk_wand(pa, q, stats_a["n_docs"], stats_a["avgdl"], k=10).collect()
    mem_postings, _, _, mem_stats = build_index_dataframes(spark, corpus, n_buckets=8)
    expect = bm25_topk_wand(
        mem_postings, q, mem_stats["n_docs"], mem_stats["avgdl"], k=10
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))


def _lineage_docs(spark, root):
    """Docs summed over the latest committed lineage row per bucket."""
    return sum(
        r["docs"] for r in latest_lineage(spark, root).values()
        if r["status"] == "committed"
    )


def test_torn_first_write_invisible(spark, tmp_path):
    """A torn FIRST write (generation dir exists, manifest never
    published) must read as 'no table', not as the torn data."""
    import os

    import pytest as _pytest

    root = str(tmp_path / "idx_first_torn")
    tp = catalog.table_path(root, "postings")
    garbage = spark.createDataFrame([(1, "x")], "a int, b string")
    garbage.write.parquet(os.path.join(tp, "gen-torn-first"))
    assert not catalog.table_exists(root, "postings")
    with _pytest.raises(FileNotFoundError):
        catalog.read_table(spark, root, "postings")


def test_catalog_rejects_unknown_modes(spark, tmp_path):
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], "a int")
    with _pytest.raises(ValueError):
        catalog.write_table(df, str(tmp_path), "t", mode="error")
    with _pytest.raises(ValueError):
        catalog.write_table(
            df, str(tmp_path), "t", partition_by=["a"], mode="append"
        )
    # nothing was published by the failed calls
    assert not catalog.table_exists(str(tmp_path), "t")


def test_streaming_replay_does_not_duplicate(spark, sf_dir, tmp_path):
    """At-least-once delivery: re-streaming the SAME drops through a
    fresh checkpoint (the worst-case replay) must leave corpus and
    index unchanged — the ingest anti-join makes appends idempotent."""
    import glob
    import os
    import shutil

    from pisa_spark.streaming.ingest import stream_index_ingest

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    drops = str(tmp_path / "drops_r")
    corpus = str(tmp_path / "corpus_r")
    idx = str(tmp_path / "idx_r")
    os.makedirs(drops, exist_ok=True)
    tmp_out = str(tmp_path / "tmp_drop_r")
    full.select("doc_id", "text").coalesce(1).write.parquet(tmp_out)
    shutil.copy(glob.glob(tmp_out + "/part-*.parquet")[0], f"{drops}/d.parquet")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        q = stream_index_ingest(stream, corpus, idx, ckpt, docs_per_bucket=64)
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    before = decode_index(load_index(spark, idx)[0].collect())
    n_before = catalog.read_table(spark, corpus, "documents.parquet").count()
    run(str(tmp_path / "ck2"))  # fresh checkpoint = full replay
    assert catalog.read_table(spark, corpus, "documents.parquet").count() == n_before
    assert decode_index(load_index(spark, idx)[0].collect()) == before


def test_torn_corpus_append_invisible(spark, sf_dir, tmp_path):
    """Kill-mid-append: a streaming corpus append that crashed AFTER
    writing data files but BEFORE the manifest publish must be
    invisible — the next run's anti-join never reads torn files, and
    replaying the same docs lands them exactly once."""
    import glob
    import os
    import shutil

    from pisa_spark.streaming.ingest import stream_index_ingest

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    drops = str(tmp_path / "drops_t")
    corpus = str(tmp_path / "corpus_t")
    idx = str(tmp_path / "idx_t")
    os.makedirs(drops, exist_ok=True)
    tmp_out = str(tmp_path / "tmp_drop_t")
    lo = full.filter(F.col("doc_id") < 200).select("doc_id", "text")
    lo.coalesce(1).write.parquet(tmp_out)
    shutil.copy(glob.glob(tmp_out + "/part-*.parquet")[0], f"{drops}/d.parquet")

    # simulate the torn append: data files land in a generation dir but
    # the crash happens before the manifest publish
    torn_gen = os.path.join(corpus, "documents.parquet", "gen-deadbeef-torn")
    lo.write.parquet(torn_gen)
    assert not catalog.table_exists(corpus, "documents.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = stream_index_ingest(stream, corpus, idx, str(tmp_path / "ck_t"),
                            docs_per_bucket=64)
    q.awaitTermination()

    # exactly one copy of every doc — the torn generation stayed dark
    got = catalog.read_table(spark, corpus, "documents.parquet")
    assert got.count() == lo.count()
    assert got.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    # the index matches a clean build of the same docs
    clean = str(tmp_path / "idx_clean_t")
    build_index_resumable(spark, None, clean, docs_df=lo, docs_per_bucket=64)
    assert decode_index(load_index(spark, idx)[0].collect()) == decode_index(
        load_index(spark, clean)[0].collect()
    )


def test_vacuum_removes_superseded_generations(spark, sf_dir, tmp_path):
    """After an incremental rebuild supersedes a bucket's generation,
    vacuum deletes exactly the unreferenced dirs and reads are
    unchanged."""
    corpus = str(tmp_path / "corpus_v")
    idx = str(tmp_path / "idx_v")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)

    mutated = full.withColumn(
        "text",
        F.when(F.col("doc_id") == 10, F.concat(F.col("text"), F.lit(" vterm")))
        .otherwise(F.col("text")),
    )
    mutated.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)

    before = decode_index(load_index(spark, idx)[0].collect())
    removed = catalog.vacuum(idx, "postings", min_age_s=0)
    # the rebuilt bucket's OLD partition dir is superseded and collected
    # (both generations stay: each still holds live partitions)
    assert any("bucket=0" in r for r in removed), removed
    assert decode_index(load_index(spark, idx)[0].collect()) == before
    # vacuum again: nothing left to collect
    assert catalog.vacuum(idx, "postings", min_age_s=0) == []


def test_rebuild_to_empty_bucket_drops_stale_partition(spark, sf_dir, tmp_path):
    """A committed bucket whose docs are edited IN PLACE to tokenize
    empty yields zero posting rows on rebuild — the claim_partitions
    commit must drop its old-generation partition in the same publish,
    never serving stale postings (and lineage must record the rebuild)."""
    corpus = str(tmp_path / "corpus_e")
    idx = str(tmp_path / "idx_e")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)
    pre = load_index(spark, idx)[0]
    assert pre.filter(F.col("bucket") == 0).count() > 0

    # same doc ids, same count — but bucket 0's docs all become
    # token-free punctuation (content-fingerprint change, zero postings)
    mutated = full.withColumn(
        "text",
        F.when(F.col("doc_id") < 64, F.lit("!!! ... ???"))
        .otherwise(F.col("text")),
    )
    mutated.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    build_index_resumable(spark, corpus, idx, wave_size=8, docs_per_bucket=64)

    post = load_index(spark, idx)[0]
    assert post.filter(F.col("bucket") == 0).count() == 0
    # other buckets untouched
    assert (
        decode_index(post.filter(F.col("bucket") > 0).collect())
        == decode_index(pre.filter(F.col("bucket") > 0).collect())
    )


def test_writer_lock_stale_break_and_exclusion(spark, tmp_path):
    """The per-table writer lock serializes manifest commits; an
    abandoned lock (crashed writer) is broken after the staleness
    window instead of deadlocking forever."""
    import os
    import time as _time

    from pisa_spark.sources import catalog as cat

    root = str(tmp_path)
    df = spark.createDataFrame([(1,)], "a int")
    cat.write_table(df, root, "t")  # creates the table dir

    # abandoned lock, mtime far in the past -> broken transparently
    lock = os.path.join(cat.table_path(root, "t"), cat.LOCKFILE)
    with open(lock, "w") as f:
        f.write("999999")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    cat.write_table(df, root, "t")  # must not hang
    assert not os.path.exists(lock)

    # live lock -> concurrent writer times out rather than clobbering
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    orig_t, orig_s = cat._LOCK_TIMEOUT_S, cat._LOCK_STALE_S
    cat._LOCK_TIMEOUT_S, cat._LOCK_STALE_S = 0.3, 3600.0
    try:
        with pytest.raises(TimeoutError):
            cat.write_table(df, root, "t")
    finally:
        cat._LOCK_TIMEOUT_S, cat._LOCK_STALE_S = orig_t, orig_s
        os.remove(lock)


def test_append_adopts_legacy_plain_dir(spark, tmp_path):
    """Appending to a corpus written OUTSIDE the manifest protocol
    (previous release, plain .write.parquet) must adopt it into the
    manifest in the same commit, not raise — the streaming-ingest
    migration path."""
    root = str(tmp_path)
    tp = catalog.table_path(root, "t")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(tp)
    assert catalog.table_exists(root, "t")
    add = spark.range(5, 8).selectExpr("id", "id * 2 AS v")
    catalog.write_table(add, root, "t", mode="append")
    got = sorted(r["id"] for r in catalog.read_table(spark, root, "t").collect())
    assert got == list(range(8))
    # further appends keep both the adopted and new generations live
    catalog.write_table(
        spark.range(8, 9).selectExpr("id", "id * 2 AS v"), root, "t",
        mode="append",
    )
    got = sorted(r["id"] for r in catalog.read_table(spark, root, "t").collect())
    assert got == list(range(9))


def test_compact_table_folds_generations(spark, tmp_path):
    root = str(tmp_path)
    for lo in range(0, 9, 3):
        catalog.write_table(
            spark.range(lo, lo + 3).selectExpr("id"), root, "t", mode="append"
        )
    m = catalog._read_manifest(root, "t")
    assert len(m["dirs"]) == 3
    assert catalog.compact_table(spark, root, "t") is True
    m2 = catalog._read_manifest(root, "t")
    assert len(m2["dirs"]) == 1
    got = sorted(r["id"] for r in catalog.read_table(spark, root, "t").collect())
    assert got == list(range(9))
    # superseded generations are vacuumable; the compacted one survives
    removed = catalog.vacuum(root, "t", min_age_s=0)
    assert len(removed) >= 3 and m2["dirs"][0] not in removed
    got = sorted(r["id"] for r in catalog.read_table(spark, root, "t").collect())
    assert got == list(range(9))
    # below min_dirs it is a no-op
    assert catalog.compact_table(spark, root, "t") is False

def test_paged_driver_collect_identical_index(spark, sf_dir, tmp_path):
    """Bucket-id streams reach the driver in bounded sorted pages
    (lineage._bucket_id_pages); forcing a page size smaller than a
    wave — so every wave spans page boundaries — must produce an index
    byte-identical to the unpaged build, with the same wave count."""
    root_a = str(tmp_path / "idx_paged")
    root_b = str(tmp_path / "idx_plain")
    s_a = build_index_resumable(
        spark, sf_dir, root_a, n_buckets=8, wave_size=3, driver_page_rows=2
    )
    s_b = build_index_resumable(
        spark, sf_dir, root_b, n_buckets=8, wave_size=3
    )
    assert s_a["waves_run"] == s_b["waves_run"] == 3  # ceil(8/3)
    pa, _ = load_index(spark, root_a)
    pb, _ = load_index(spark, root_b)
    assert decode_index(pa.collect()) == decode_index(pb.collect())
    # paged stale pruning: shrink the corpus to bucket 0 only and
    # rebuild with 1-id pages — every stale bucket pruned, one commit
    # per page, index still correct
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    small = docs.filter(F.col("doc_id") < 63)
    # docs_per_bucket pins the span the first build derived (500 docs /
    # 8 buckets = 63), so the shrunken corpus maps to bucket 0 only
    build_index_resumable(
        spark, None, root_a, docs_df=small, docs_per_bucket=63,
        driver_page_rows=1,
    )
    lin = catalog.read_table(spark, root_a, "lineage")
    from pyspark.sql import Window
    w = Window.partitionBy("bucket").orderBy(F.col("ts").desc())
    latest = lin.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    assert latest.filter(F.col("status") == "pruned").count() == 7
    pa2, stats2 = load_index(spark, root_a)
    assert pa2.select(F.max("bucket")).collect()[0][0] == 0


def test_waves_from_pages_matches_flat_slicing():
    """Wave chunking over paged ids == slicing the fully-collected
    sorted list, across page boundaries and ragged tails — and the
    index-walk implementation is linear in page rows (regression for
    the per-wave buffer re-slice)."""
    from pisa_spark.index.lineage import _waves_from_pages

    for n, page_rows, wave in [(103, 10, 8), (64, 7, 16), (5, 100, 2),
                               (0, 10, 4), (9, 3, 3)]:
        ids = list(range(n))
        pages = [ids[i:i + page_rows] for i in range(0, n, page_rows)]
        got = list(_waves_from_pages(iter(pages), wave_size=wave))
        flat = [ids[i:i + wave] for i in range(0, n, wave)]
        assert got == flat, (n, page_rows, wave)


def _build_jobs(spark, group, **kw):
    """Run build_index_resumable under its own job group; (summary,
    number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build_index_resumable(spark, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs of a refresh on the 500-doc fixture, measured on local[4]
# and local[8]: change detection is one classification pass, global
# stats one aggregate, driver-made rows run no job of their own, a
# build writes only the index (no synonym table, no summary re-read)
# and a no-op rerun commits nothing. Re-adding a bookkeeping pass (a
# second detection stream, a per-wave state aggregate, a split stats
# aggregate, a vocabulary pass) pushes a count over its bound.
NOOP_REFRESH_JOBS = 9
ONE_BUCKET_REFRESH_JOBS = 20


def test_refresh_job_counts_and_one_file_commits(spark, sf_dir, tmp_path):
    import glob
    import os

    corpus = str(tmp_path / "corpus_jobs")
    idx = str(tmp_path / "idx_jobs")
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full.filter(F.col("doc_id") < 448).write.parquet(
        corpus + "/documents.parquet"
    )
    kw = dict(sf_dir=corpus, index_root=idx, wave_size=8, docs_per_bucket=64)
    build_index_resumable(spark, **kw)

    s, jobs = _build_jobs(spark, "pisa-refresh-noop", **kw)
    assert s["waves_run"] == 0
    assert jobs <= NOOP_REFRESH_JOBS, jobs

    # docs 448..499 land in one new bucket (7)
    full.write.mode("overwrite").parquet(corpus + "/documents.parquet")
    s, jobs = _build_jobs(spark, "pisa-refresh-append", **kw)
    assert s["waves_run"] == 1 and s["docs"] == 500
    assert _lineage_docs(spark, idx) == 500
    assert jobs <= ONE_BUCKET_REFRESH_JOBS, jobs
    lin = catalog.read_table(spark, idx, "lineage")
    assert lin.filter(F.col("bucket") == 7).count() == 1

    # every lineage / corpus_stats generation the builds wrote is one
    # data file (driver-made rows commit as one-partition frames)
    for table in ("lineage", "corpus_stats"):
        gens = glob.glob(os.path.join(catalog.table_path(idx, table), "gen-*"))
        assert len(gens) >= 2, (table, gens)
        for g in gens:
            assert len(glob.glob(os.path.join(g, "*.parquet"))) == 1, g


def _postings_file_bytes(root):
    """{bucket: bytes of its one data file} from the current manifest."""
    import glob
    import os

    tp = catalog.table_path(root, "postings")
    out = {}
    for bucket, rel in catalog._read_manifest(root, "postings")["partitions"].items():
        (path,) = glob.glob(os.path.join(tp, rel, "*.parquet"))
        with open(path, "rb") as f:
            out[bucket] = f.read()
    return out


def test_postings_bytes_do_not_depend_on_encode_partitions(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The wave write sorts each bucket's rows, so the stored postings
    files are byte-identical whatever partition count the encode stage
    ran on (the core count of the building machine)."""
    import pisa_spark.index.build as build_mod

    files = []
    for n_part in (2, 5):
        monkeypatch.setattr(
            build_mod, "task_wave_partitions", lambda _spark, n=n_part: n
        )
        root = str(tmp_path / f"idx_parts{n_part}")
        build_index_resumable(
            spark, sf_dir, root, wave_size=8, docs_per_bucket=64
        )
        files.append(_postings_file_bytes(root))
    assert len(files[0]) == 8
    assert files[0] == files[1]
