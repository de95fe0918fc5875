"""Resumable index build with per-partition lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics" (BASELINE.json). Spark-native rendering of the
reference's skip-if-checkpoint-exists resume
(/root/reference/src/helpers/Runner.py:115-137) and its snapshot-block
materialization (/root/reference/src/helpers/Reader.py:148-178):

* The build is chunked into **waves** of doc-range buckets. Each wave
  is one Spark job writing only its buckets via dynamic partition
  overwrite (idempotent: re-running a wave replaces exactly the same
  partitions byte-for-byte — content is a pure function of the input).
* After a wave's data commit, one lineage row per bucket is appended to
  the ``lineage`` table: (bucket, status, docs, postings, blocks,
  bytes_out, wall_s, wave). A killed build leaves earlier waves
  committed + recorded; rerun processes only the buckets still pending.
* Change detection is ONE pass: the current per-bucket (docs,
  fingerprint) state full-outer-joins the latest lineage into rows
  (bucket, pending|stale, docs, fp), streamed to the driver in sorted,
  bounded pages. Stale buckets are pruned page by page; pending ones
  are chunked into waves, and each wave's lineage rows take docs and
  fp from its own change rows — no per-wave re-aggregation.
* Global stats come from one aggregate; driver-made rows (lineage,
  pruned, corpus_stats) are one-partition Arrow frames
  (session.local_frame), so each commit writes one file and runs no
  Python task.
* ``docs_per_s`` / ``postings_per_s`` derive from the same rows — the
  lineage table doubles as the metrics table (SURVEY T19).

At cluster scale, one wave = one Iceberg append of a few thousand
bucket-partitions; wave size bounds the blast radius of a failure while
keeping the job count low (10^12 docs / 1M-doc buckets / 4096-bucket
waves ≈ 250 jobs).
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import BLOCK_SIZE, build_postings, build_stats
from pisa_spark.session import local_frame
from pisa_spark.sources import catalog

LINEAGE_SCHEMA = (
    "bucket int, status string, docs long, postings long, blocks long, "
    "bytes_out long, wall_s double, wave int, ts double, fp long"
)
STATS_SCHEMA = "n_docs long, avgdl double, total_terms long, span long"

POSTINGS_TABLE = "postings"
LINEAGE_TABLE = "lineage"
STATS_TABLE = "corpus_stats"


def latest_lineage_df(spark: SparkSession, index_root: str) -> DataFrame | None:
    """Latest lineage row per bucket as a DataFrame (append-only table,
    ts-wins), reduced IN SPARK — at the design point (~10^6 buckets x
    several generations) the raw table must never be collected whole."""
    if not catalog.table_exists(index_root, LINEAGE_TABLE):
        return None
    from pyspark.sql import Window

    lin = catalog.read_table(spark, index_root, LINEAGE_TABLE)
    w = Window.partitionBy("bucket").orderBy(F.col("ts").desc())
    return (
        lin.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_lineage(spark: SparkSession, index_root: str) -> dict[int, dict]:
    """Collected form of latest_lineage_df — small-scale/test helper;
    the build itself only streams the changed buckets' rows
    (_bucket_changes) in bounded pages."""
    df = latest_lineage_df(spark, index_root)
    if df is None:
        return {}
    return {r["bucket"]: r.asDict() for r in df.collect()}


# Driver-side paging bound for the bucket-change stream. At the
# 10^12-doc design point (10^7 buckets at 100k docs/bucket) collecting
# every pending bucket at once would put ~10^7 rows on the driver;
# streaming sorted pages through toLocalIterator caps resident rows at
# max(page_rows, one sort partition) regardless of bucket count.
DRIVER_PAGE_ROWS = 1_000_000


def _bucket_changes(
    toks: DataFrame, span: int, latest: DataFrame | None
) -> DataFrame:
    """Classify buckets in ONE pass: (bucket, kind, cur_docs, cur_fp)
    for every bucket that needs work, computed IN SPARK as a full outer
    join of the current per-bucket state against the latest lineage.

    kind = 'pending': the bucket holds docs now and has no committed
    lineage row, or its content FINGERPRINT (xor of the docs' doc_fp)
    differs from the committed row's — growth, repair and in-place
    edits alike. kind = 'stale': a committed bucket that held docs and
    now holds none. cur_docs / cur_fp are what a rebuilt bucket's
    lineage row records, so the waves need no second aggregate."""
    cur = toks.groupBy(
        ((F.col("doc_id") / span).cast("int")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("cur_docs"),
        F.bit_xor("doc_fp").alias("cur_fp"),
    )
    if latest is None:
        return cur.select(
            "bucket", F.lit("pending").alias("kind"), "cur_docs", "cur_fp"
        )
    lat = latest.select("bucket", "status", F.col("fp").alias("old_fp"), "docs")
    committed = F.col("status") == "committed"
    kind = F.when(
        F.col("cur_docs").isNotNull()
        & (
            F.col("status").isNull()
            | ~committed
            | (F.col("old_fp") != F.col("cur_fp"))
        ),
        F.lit("pending"),
    ).when(
        F.col("cur_docs").isNull() & committed & (F.col("docs") > 0),
        F.lit("stale"),
    )
    return (
        cur.join(lat, "bucket", "full_outer")
        .select("bucket", kind.alias("kind"), "cur_docs", "cur_fp")
        .filter(F.col("kind").isNotNull())
    )


def _change_pages(df: DataFrame, page_rows: int = DRIVER_PAGE_ROWS):
    """Yield the (bucket, kind, cur_docs, cur_fp) rows of
    _bucket_changes as bucket-sorted, bounded pages of tuples.

    The range-partitioned sort keeps global order across pages, so
    consumers chunking pages into waves reproduce exactly the waves a
    full sorted collect would have produced."""
    page: list[tuple] = []
    for r in df.orderBy("bucket").toLocalIterator():
        page.append(tuple(r))
        if len(page) >= page_rows:
            yield page
            page = []
    if page:
        yield page


def _waves_from_pages(pages, wave_size: int):
    """Chunk a stream of bucket-sorted pages (ids or per-bucket rows)
    into wave_size waves, carrying remainders across page boundaries —
    wave composition is identical to slicing the fully-collected sorted
    list."""
    buf: list[int] = []
    for page in pages:
        buf.extend(page)
        # index-walk instead of re-slicing the carry buffer per wave:
        # keeps the chunking O(page_rows) at the 10^7-bucket design
        # point rather than O(page_rows^2 / wave_size)
        pos = 0
        while len(buf) - pos >= wave_size:
            yield buf[pos : pos + wave_size]
            pos += wave_size
        buf = buf[pos:]
    if buf:
        yield buf


def committed_buckets(spark: SparkSession, index_root: str) -> set[int]:
    df = latest_lineage_df(spark, index_root)
    if df is None:
        return set()
    return {
        r["bucket"]
        for r in df.filter(F.col("status") == "committed")
        .select("bucket")
        .collect()
    }


def build_index_resumable(
    spark: SparkSession,
    sf_dir: str | None,
    index_root: str,
    n_buckets: int = 32,
    wave_size: int = 8,
    block_size: int = BLOCK_SIZE,
    fail_after_waves: int | None = None,
    docs_per_bucket: int | None = None,
    docs_df: DataFrame | None = None,
    with_positions: bool = False,
    driver_page_rows: int = DRIVER_PAGE_ROWS,
    attribute_cols: list[str] | None = None,
    numeric_cols: list[str] | None = None,
    reorder_by: list[str] | str | None = None,
) -> dict:
    """Build (or resume, or incrementally extend) the persistent index.

    reorder_by: doc-id reordering for compression (index/reorder.py,
    PISA reorder-docids) — a list of locality columns (URL-ordering
    analogue) or the string 'dominant_terms' (content clustering, no
    metadata needed). The (doc_id, new_id) mapping persists to the
    'reorder_map' catalog table under the index root in the SAME call
    (deterministic, so a crash/rerun recomputes the identical map);
    the index then lives in new-id space and SearchEngine maps the doc
    store / deletes / results through it. Trade-off to know: corpus
    GROWTH shifts the dense ranks, so a grown reordered corpus re-ids
    and fully rebuilds — reordering buys compression at the cost of
    incremental-growth locality (same trade real engines make; rebuild
    cadence should match crawl cadence).

    Input is either ``sf_dir`` (documents.parquet inside it) or an
    explicit ``docs_df`` with columns (doc_id, text) — e.g. the
    extracted pages corpus from corpus.build_docs_from_pages.

    docs_per_bucket: when set, the bucket span is FIXED (the cluster
    design: ~1M docs per bucket at 10^12 scale) and the bucket count
    derives from the corpus — a grown corpus appends new buckets and
    only buckets whose doc count changed are rebuilt. This is the
    reference's hist (full view) / incre (delta) semantics applied to
    the index itself (/root/reference/src/helpers/Reader.py:148-178):
    committed buckets are the hist prefix, the pending set the incre
    delta. Blocks carry no df/avgdl-dependent values (corner-stat
    bounds), so old buckets stay exactly valid as global stats drift.
    When unset, span = ceil(corpus/n_buckets) (fixed-layout build).

    A bucket is pending iff it has no committed lineage row OR its
    current content FINGERPRINT (xor of xxhash64(doc_id, text) over the
    bucket's docs) differs from the committed row's — count-only change
    detection would silently serve stale postings for a bucket whose
    docs changed content while keeping the same count. Crash resume and
    incremental growth fall out of the same rule; dynamic partition
    overwrite makes per-bucket rebuild idempotent.

    Commit ordering: waves publish bucket content as they complete (the
    wave is the atomicity unit — a half-upgraded index IS readable, by
    design, since blocks carry no stats-dependent values); corpus_stats
    commits only AFTER the last wave, so global stats never run AHEAD
    of data. A reader of a mid-upgrade index scores new+old buckets
    with the previous (still mutually consistent) n_docs/avgdl — a
    bounded-staleness snapshot, never a torn one. A build that changed
    nothing commits nothing, corpus_stats included.

    fail_after_waves: test hook — raise after N waves to simulate a
    mid-build crash (the kill/rerun test of SURVEY §5.2 item 4).

    Returns what the build already holds: {docs, waves_run, n_docs,
    avgdl}, with docs == n_docs (the corpus this build indexed). The
    per-bucket counts (postings, blocks, bytes_out) live in the lineage
    table (latest_lineage).
    """
    if docs_df is None:
        # catalog read: a manifest-committed corpus (e.g. the streaming
        # staging table) resolves its live generations atomically; a
        # plain parquet dir (driver testdata) falls through to a direct
        # read via the catalog's legacy path
        docs_df = catalog.read_table(spark, sf_dir, "documents.parquet")
    if reorder_by is not None:
        from pisa_spark.index.reorder import (
            REORDER_TABLE,
            apply_reorder,
            reorder_by_dominant_terms,
            reorder_by_key,
        )

        if reorder_by == "dominant_terms":
            mapping = reorder_by_dominant_terms(docs_df)
        elif reorder_by == "bisection":
            # recursive graph bisection over id-order ranges
            # (index/bisection.py; zero extra global passes)
            from pisa_spark.index.bisection import reorder_by_bisection

            mapping = reorder_by_bisection(docs_df)
        elif reorder_by == "bisection_dominant_terms":
            # BP refinement over a dominant-terms presort — buys
            # cross-range locality for one extra tf pass
            from pisa_spark.index.bisection import reorder_by_bisection

            mapping = reorder_by_bisection(docs_df, presort="dominant_terms")
        else:
            mapping = reorder_by_key(docs_df, list(reorder_by))
        # mapping commits BEFORE the postings build: a reader of a
        # mid-build index already resolves ids through the map the
        # build is using; crash/rerun recomputes the identical map
        # (dense rank of a deterministic key), so the overwrite is
        # idempotent
        catalog.write_table(mapping, index_root, REORDER_TABLE)
        docs_df = apply_reorder(docs_df, mapping)
    toks = docs_df.select(
        "doc_id",
        *(attribute_cols or []),
        *(numeric_cols or []),
        tokens_col(F.col("text")).alias("tokens"),
        # per-doc content fingerprint rides along so bucket-change
        # detection sees CONTENT, not just counts; xor-aggregated per
        # bucket (order-independent, overflow-free). Indexed attribute
        # and numeric filter columns fold in too — a metadata-only edit
        # must rebuild the bucket's filter postings like a text edit.
        F.xxhash64(
            F.col("doc_id"), F.col("text"),
            *[F.col(c) for c in (attribute_cols or [])],
            *[F.col(c) for c in (numeric_cols or [])],
        ).alias("doc_fp"),
    ).withColumn("doc_len", F.size("tokens"))
    if attribute_cols or numeric_cols:
        # filter pseudo-terms ('lang:en', 'n_chars#4:...') append AFTER
        # doc_len so scoring stats count real tokens only (build.py
        # contract); they ride the same blocks, so filtering stays
        # bucket-local at query time (query/bm25.py _bucket_inclusion)
        from pisa_spark.index.build import attribute_tokens_col
        from pisa_spark.index.numeric import numeric_tokens_col

        extra = (
            [attribute_tokens_col(list(attribute_cols))]
            if attribute_cols
            else []
        ) + [numeric_tokens_col(c) for c in (numeric_cols or [])]
        toks = toks.withColumn(
            "tokens", F.concat("tokens", *extra)
        ).select("doc_id", "tokens", "doc_len", "doc_fp")
    toks = toks.cache()
    try:
        stats_row = build_stats(toks)
        n_docs = int(stats_row["n_docs"])
        avgdl = float(stats_row["avgdl"])
        max_doc = stats_row["max_doc"]
        if docs_per_bucket is not None:
            span = int(docs_per_bucket)
            n_buckets = math.ceil((max_doc + 1) / span)
        else:
            span = max(1, math.ceil((max_doc + 1) / n_buckets))

        changes = _bucket_changes(
            toks, span, latest_lineage_df(spark, index_root)
        )

        def pending_pages():
            # stale buckets (previously held docs, now hold none:
            # corpus shrank or ids vanished): dynamic overwrite writes
            # no rows for them, so their partitions are pruned
            # explicitly and a 'pruned' lineage row records it — an
            # atomic manifest commit without the dropped partitions, no
            # physical delete on the commit path (Iceberg delete-files
            # semantics; orphans are GC'd out-of-band). Each page is its
            # own commit; a crash mid-stream leaves the rest still
            # detected as stale next run.
            for page in _change_pages(changes, driver_page_rows):
                stale = [r[0] for r in page if r[1] == "stale"]
                if stale:
                    catalog.delete_partitions(
                        index_root, POSTINGS_TABLE, stale
                    )
                    now = time.time()
                    catalog.write_table(
                        local_frame(
                            spark,
                            [
                                (b, "pruned", 0, 0, 0, 0, 0.0, -1, now, 0)
                                for b in stale
                            ],
                            LINEAGE_SCHEMA,
                        ),
                        index_root,
                        LINEAGE_TABLE,
                        mode="append",
                    )
                yield [
                    (r[0], r[2], r[3]) for r in page if r[1] == "pending"
                ]

        waves_run = 0
        for wave_no, wave_rows in enumerate(
            _waves_from_pages(pending_pages(), wave_size)
        ):
            t0 = time.perf_counter()
            wave = [r[0] for r in wave_rows]
            lo = min(wave) * span
            hi = (max(wave) + 1) * span
            # bucket ranges are contiguous per wave only if buckets are;
            # filter precisely on membership after the cheap range prune
            wave_toks = toks.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).filter(((F.col("doc_id") / span).cast("int")).isin(wave))
            postings = build_postings(
                wave_toks, n_docs, avgdl, n_buckets=n_buckets,
                max_doc_id=max_doc, block_size=block_size, span=span,
                with_positions=with_positions,
            )
            # claim_partitions: a wave bucket that yields ZERO posting
            # rows (all its docs tokenize empty) writes no bucket= dir;
            # claiming it drops any stale old-generation partition in
            # the same atomic publish instead of serving it forever.
            # repartition("bucket") clusters each bucket into ONE task
            # before the partitioned write -> exactly one data file per
            # bucket dir. That stored layout is the serving contract:
            # SearchEngine.load(cache=False) reads it shuffle-free
            # (a bucket can never span scan partitions when each bucket
            # is one sub-maxPartitionBytes file). Iceberg analog: write
            # clustered by partition spec. The sort fixes the row order
            # inside each file, so the stored bytes do not depend on
            # how many partitions the encode stage ran on.
            catalog.write_table(
                postings.repartition(len(wave), "bucket")
                .sortWithinPartitions("bucket", "term", "block_idx"),
                index_root, POSTINGS_TABLE, partition_by=["bucket"],
                mode="overwrite", claim_partitions=wave,
            )
            wall = time.perf_counter() - t0
            written = catalog.read_table(spark, index_root, POSTINGS_TABLE).filter(
                F.col("bucket").isin(wave)
            )
            payload = (
                F.sum(F.octet_length("docs"))
                + F.sum(F.octet_length("tfs"))
                + F.sum(F.octet_length("dls"))
            )
            if with_positions:
                # the positions payload is usually the LARGEST column
                # (one varint per token occurrence) — bytes_out must
                # include it or positional index sizes underreport
                payload = payload + F.sum(F.octet_length("poss"))
            stats_by_bucket = {
                r["bucket"]: r
                for r in written.groupBy("bucket")
                .agg(
                    F.sum("n").alias("postings"),
                    F.count(F.lit(1)).alias("blocks"),
                    payload.alias("bytes_out"),
                )
                .collect()
            }
            # docs and fp come from the wave's own change rows: the
            # detection pass already aggregated them per bucket
            now = time.time()
            lineage_rows = []
            for b, docs, fp in wave_rows:
                st = stats_by_bucket.get(b)
                lineage_rows.append((
                    b,
                    "committed",
                    int(docs),
                    int(st["postings"]) if st else 0,
                    int(st["blocks"]) if st else 0,
                    int(st["bytes_out"]) if st else 0,
                    wall / len(wave),
                    wave_no,
                    now,
                    int(fp),
                ))
            catalog.write_table(
                local_frame(spark, lineage_rows, LINEAGE_SCHEMA),
                index_root,
                LINEAGE_TABLE,
                mode="append",
            )
            waves_run += 1
            if fail_after_waves is not None and waves_run >= fail_after_waves:
                raise RuntimeError(f"simulated crash after wave {waves_run}")
        # stats commit LAST: readers never see new global stats paired
        # with buckets an interrupted run did not finish. A build that
        # changed nothing publishes nothing: when the row equals the one
        # the current snapshot published and no postings commit (wave
        # or stale-bucket prune, from this run or a crashed earlier
        # one) landed since, the snapshot stays, and so do the
        # artifacts derived from it (term_thresholds, kgram_index,
        # stopwords). The check reads two manifests, no Spark job; any
        # mismatch, float noise in avgdl included, simply commits.
        row = (n_docs, avgdl, int(stats_row["total_terms"]), int(span))
        published = {
            "row": list(row),
            "postings_seq": catalog.current_seq(index_root, POSTINGS_TABLE),
        }
        if catalog.table_meta(index_root, STATS_TABLE) != published:
            catalog.write_table(
                local_frame(spark, [row], STATS_SCHEMA),
                index_root,
                STATS_TABLE,
                meta=published,
            )
        return {
            "docs": n_docs,
            "waves_run": waves_run,
            "n_docs": n_docs,
            "avgdl": avgdl,
        }
    finally:
        toks.unpersist()


def load_index(
    spark: SparkSession, index_root: str, as_of_ts: float | None = None
) -> tuple[DataFrame, dict]:
    """Read the persistent index back: (postings_df, stats).

    as_of_ts: wall-clock time travel — postings and stats each resolve
    to their newest snapshot published at or before ``as_of_ts``
    (catalog.snapshot_as_of_ts). Because every build commits stats
    AFTER its last postings wave, any instant between builds resolves
    a consistent (postings, stats) pair: queries run against the
    index exactly as it stood then."""
    seqs = {"postings": None, "stats": None}
    if as_of_ts is not None:
        for key, table in (
            ("postings", POSTINGS_TABLE), ("stats", STATS_TABLE)
        ):
            seqs[key] = catalog.snapshot_as_of_ts(index_root, table, as_of_ts)
            if seqs[key] is None:
                raise FileNotFoundError(
                    f"no {table} snapshot at or before ts={as_of_ts}"
                )
    postings = catalog.read_table(
        spark, index_root, POSTINGS_TABLE, as_of=seqs["postings"]
    )
    srow = catalog.read_table(
        spark, index_root, STATS_TABLE, as_of=seqs["stats"]
    ).collect()[0]
    sdict = srow.asDict()
    stats = {
        "n_docs": sdict["n_docs"],
        "avgdl": sdict["avgdl"],
        "total_terms": sdict["total_terms"],
    }
    # span persisted since the tombstone-delete feature; absent on
    # older snapshots (delete_docs then needs an explicit span=)
    if sdict.get("span") is not None:
        stats["span"] = int(sdict["span"])
    return postings, stats
