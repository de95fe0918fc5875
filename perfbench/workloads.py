"""The benchmark's workloads and their metrics.

Load shape: one process, ``local[nproc]`` Spark from
``pisa_spark.session.get_spark``, and one closed-loop client (the next
request goes out only when the previous answer is back and checked).

Every workload runs the whole life cycle — a full persistent build of
the generated corpus, queries against the loaded index, and at least
one incremental refresh — so each prints every end-to-end metric. They
differ in which part dominates the run and which layers it exercises:

serve
    Why: the read path with an index that fits in memory. The base
    index is loaded with ``cache=True``; after an untimed warm-up
    prefix the client alternates single queries with 64-query batches,
    then takes one append-only refresh. Single queries are dominated by
    per-query fixed cost (Spark jobs per query, df-cache misses);
    batches by the ``query.bm25`` decode and accumulation, so a
    scheduling gain and a kernel gain each show in a different metric.
    It never deletes and never scans catalog files per query.

churn
    Why: writes beside reads on an index served from catalog files.
    Each round appends new docs and edits a few in place, runs the
    incremental build, reloads with ``cache=False``, tombstone-deletes
    a seeded sample with ``delete_docs(persist=True)``, then sends
    single queries and batches checked against the live corpus. It
    exercises ``index.lineage`` change detection, ``sources.catalog``
    manifests, tombstones and uncached loads, which serve bypasses.

Both workloads time the base build (``SearchEngine.build`` into a fresh
catalog root, fixed ``docs_per_bucket``) before any query, so a serving
change cannot move ``build_docs_per_s``. It is the first build in a
fresh JVM, as a one-shot build job runs it; at this corpus size most of
it is JVM and Python-worker warm-up. There is no separate build-only
workload: every workload must print every metric, and a third life
cycle per run does not fit the benchmark's time budget.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import traceback

import numpy as np

import gen
from oracle import Bm25Oracle
from spans import Tracer

BASE_DOCS = 600
DOCS_PER_BUCKET = 300
QUERY_LOG = 2000
WARMUP_QUERIES = 1
BATCH = 64
# The client alternates CYCLE_SINGLES single queries with one batch, so
# singles and batches sample the same stretches of the run: load from
# other tenants of a shared machine drifts within a run.
CYCLE_SINGLES = 2
MIN_CYCLES = 3  # serve's timed loop runs at least this many cycles
ROUND_NEW_DOCS = 50
ROUND_EDITS = 12
ROUND_DELETES = 12
ROUND_CYCLES = 3
POST_REFRESH_QUERIES = 1
BLOCK = 128  # posting-block length of the index format


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, np.float64), p))


def commit_corpus(corpus: gen.Corpus, corpus_dir: str) -> int:
    """Commit ``corpus`` as ``documents.parquet`` (atomic replace);
    returns its text bytes."""
    os.makedirs(corpus_dir, exist_ok=True)
    path = os.path.join(corpus_dir, "documents.parquet")
    n = gen.write_documents(corpus, path + ".tmp")
    os.replace(path + ".tmp", path)
    return n


def query_dict(q: dict, query_id: int = 0) -> dict:
    return {"query_id": query_id, "terms": q["terms"], "conjunctive": q["conjunctive"]}


class Bench:
    """State of one run: the Spark session, the generated inputs, the
    live corpus with its oracle, and every measurement taken."""

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        from pisa_spark.index.lineage import POSTINGS_TABLE

        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.postings_table = POSTINGS_TABLE
        self.corpus_dir = os.path.join(work_dir, "corpus")
        self.index_root = os.path.join(work_dir, "index")
        self.corpus = gen.gen_docs(np.random.default_rng([seed, 0]), BASE_DOCS)
        self.text_bytes = commit_corpus(self.corpus, self.corpus_dir)
        base_df = gen.doc_freqs(self.corpus)
        self.queries = gen.gen_queries(
            np.random.default_rng([seed, 1]), base_df, QUERY_LOG
        )
        self.base_df_of = lambda t: int(
            base_df[gen.VOCAB_INDEX[t]] if t in gen.VOCAB_INDEX else 0
        )
        self.next_q = 0
        self.served: list[dict] = []
        self.deleted = np.empty(0, np.int64)
        self.oracle = Bm25Oracle(self.corpus.tokens, self.corpus.offsets, gen.VOCAB_INDEX)
        self.attempted = 0
        self.failed = 0
        self.lat_ms: list[float] = []
        self.batch_qps: list[float] = []
        self.refresh_s: list[float] = []
        self.build_docs_per_s = 0.0
        self.warm_up_s = 0.0
        self.base_build_s = 0.0
        self.index_bytes = 0
        self.index_text_bytes = 0
        self.timed_s = 0.0  # sum of every timed interval
        self.timed_overhead_s = 0.0  # recorder time inside those intervals
        self.probe: dict[str, list[float]] = {}
        self.build_wall = (0.0, 0.0)  # wall-clock span of the base build
        # wall-clock span and bucket count of each refresh build
        self.refresh_walls: list[tuple[float, float, int]] = []

    # -- inputs ----------------------------------------------------------

    def take_queries(self, n: int) -> list[dict]:
        qs = self.queries[self.next_q : self.next_q + n]
        if len(qs) < n:
            raise RuntimeError("query log exhausted; raise QUERY_LOG")
        self.next_q += n
        return qs

    def input_properties(self) -> dict:
        o = self.oracle
        bucket = o.p_doc // DOCS_PER_BUCKET
        _, per_group = np.unique(
            o.p_term * (bucket.max(initial=0) + 1) + bucket, return_counts=True
        )
        props = {
            "docs": o.n_docs,
            "distinct_terms": int((o.df > 0).sum()),
            "postings": int(o.df.sum()),
            "posting_blocks": int(np.ceil(per_group / BLOCK).sum()),
            "text_bytes": self.text_bytes,
            "deleted_docs": int(self.deleted.size),
        }
        props.update(gen.query_log_properties(self.served, self.base_df_of))
        return props

    # -- timing helpers ----------------------------------------------------

    def timed(self, fn, account: bool = True):
        """Run ``fn`` and return (result, seconds). With ``account`` the
        interval joins the run's timed total, with the recorder's share
        of it noted; probes pass False."""
        o0 = self.tr.overhead_s
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        if account:
            self.timed_s += dt
            self.timed_overhead_s += self.tr.overhead_s - o0
        return out, dt

    def probe_add(self, name: str, value: float) -> None:
        self.probe.setdefault(name, []).append(float(value))

    # -- operations --------------------------------------------------------

    def warm_up(self, eng) -> None:
        """Set-up: an untimed prefix of the log — single queries, then
        one batch — checked but feeding no metric. The first queries on
        a fresh JVM and a freshly loaded index run far slower than the
        rest (class loading, code generation, cache fill), and batches
        keep getting faster over the first few calls."""
        t0 = time.perf_counter()
        for q in self.take_queries(WARMUP_QUERIES):
            self.single(eng, q, timed=False)
        self.batch(eng, self.take_queries(BATCH), timed=False)
        self.warm_up_s = time.perf_counter() - t0

    def base_build(self, cache: bool):
        """Full build into a fresh catalog root, then the serving load."""
        from pisa_spark.engine import SearchEngine
        from pisa_spark.sources import catalog

        def build():
            with self.tr.span("index.build.full", jobs=True):
                return SearchEngine.build(
                    self.spark, self.corpus_dir, self.index_root,
                    docs_per_bucket=DOCS_PER_BUCKET,
                )

        w0 = time.time()
        eng, dt = self.timed(build)
        self.build_wall = (w0, time.time())
        self.build_docs_per_s = self.corpus.n_docs / dt
        self.base_build_s = dt
        _, _, _, self.index_bytes = catalog.partition_file_stats(
            self.index_root, self.postings_table
        )
        self.index_text_bytes = self.text_bytes
        if not cache:
            eng.postings.unpersist()
            eng, _ = self.load(cache=False)
        return eng

    def load(self, cache: bool, account: bool = True):
        """``SearchEngine.load`` of the index; returns (engine, seconds)."""
        from pisa_spark.engine import SearchEngine

        name = f"sources.catalog.load_{'cached' if cache else 'uncached'}_s"

        def load():
            with self.tr.span(name, jobs=True):
                return SearchEngine.load(self.spark, self.index_root, cache=cache)

        eng, dt = self.timed(load, account)
        self.probe_add(name, dt)
        return eng, dt

    def single(self, eng, q: dict, timed: bool = True) -> None:
        """One closed-loop query, timed, then checked against the oracle.
        Untimed (warm-up) queries are checked but feed no metric."""
        qd = query_dict(q)

        def run():
            with self.tr.span("query", qid=q["query_id"], jobs=True) as sq:
                with self.tr.span("engine.plan", jobs=True) as sp:
                    df = eng.search(qd, k=q["k"])
                with self.tr.span("query.bm25.exec", jobs=True) as se:
                    rows = df.collect()
            return rows, (sq, sp, se)

        self.attempted += 1
        self.served.append(q)
        try:
            (rows, spans), dt = self.timed(run, account=timed)
        except Exception:
            self.failed += 1
            print("query failed:\n" + traceback.format_exc(), flush=True)
            return
        self._check(q, q["k"], [(r["rank"], r["doc_id"], r["score"]) for r in rows])
        if not timed:
            return
        self.lat_ms.append(dt * 1e3)
        if self.tr.enabled:
            sq, sp, se = spans
            self.probe_add("session.jobs_per_query", sq["jobs"])
            self.probe_add("session.tasks_per_query", sq["tasks"])
            self.probe_add("engine.plan_ms", self.tr.duration(sp) * 1e3)
            self.probe_add("engine.plan_jobs", sp["jobs"])
            self.probe_add("query.bm25.exec_ms", self.tr.duration(se) * 1e3)
            self.kernel_probe(eng, qd, q["k"])

    def batch(self, eng, qs: list[dict], timed: bool = True) -> None:
        """One 64-query ``search_batch`` call at the largest k of its
        queries; every query counts as an operation, checked at that k."""
        k = max(q["k"] for q in qs)
        qds = [query_dict(q, i) for i, q in enumerate(qs)]

        def run():
            with self.tr.span("batch", jobs=True):
                return eng.search_batch(qds, k=k).collect()

        self.attempted += len(qs)
        self.served.extend(qs)
        try:
            rows, dt = self.timed(run, account=timed)
        except Exception:
            self.failed += len(qs)
            print("batch failed:\n" + traceback.format_exc(), flush=True)
            return
        if timed:
            self.batch_qps.append(len(qs) / dt)
        by_q: dict[int, list] = {i: [] for i in range(len(qs))}
        for r in rows:
            by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        for i, q in enumerate(qs):
            self._check(q, k, by_q[i])

    def _check(self, q: dict, k: int, got: list) -> None:
        err = self.oracle.check(q["terms"], q["conjunctive"], k, got, self.deleted)
        if err:
            self.failed += 1
            print(f"wrong answer for query {q['query_id']} {q['terms']}: {err}", flush=True)

    def refresh(self, eng, cache: bool, edits: bool, round_no: int):
        """Commit a corpus delta, then time the incremental build plus
        the reload until the engine can answer on the new corpus."""
        from pisa_spark.index.lineage import build_index_resumable

        rng = np.random.default_rng([self.seed, 100 + round_no])
        grown = gen.concat(
            self.corpus, gen.gen_docs(rng, ROUND_NEW_DOCS, self.corpus.n_docs)
        )
        if edits:
            # a re-crawled region: every edit lands in one random
            # bucket, so a refresh rebuilds that bucket and the tail
            n_full = self.corpus.n_docs // DOCS_PER_BUCKET
            lo = int(rng.integers(n_full)) * DOCS_PER_BUCKET
            rows = lo + rng.choice(DOCS_PER_BUCKET, ROUND_EDITS, replace=False)
            grown = gen.replace_docs(grown, rows, gen.gen_docs(rng, ROUND_EDITS))
        self.corpus = grown
        self.text_bytes = commit_corpus(self.corpus, self.corpus_dir)

        def build():
            with self.tr.span("index.lineage.incremental_build", jobs=True):
                build_index_resumable(
                    self.spark, self.corpus_dir, self.index_root,
                    docs_per_bucket=DOCS_PER_BUCKET,
                )

        w0 = time.time()
        _, dt_build = self.timed(build)
        n_buckets = math.ceil(self.corpus.n_docs / DOCS_PER_BUCKET)
        self.refresh_walls.append((w0, time.time(), n_buckets))
        eng.postings.unpersist()
        new, dt_load = self.load(cache=cache)
        self.refresh_s.append(dt_build + dt_load)
        self.oracle = Bm25Oracle(self.corpus.tokens, self.corpus.offsets, gen.VOCAB_INDEX)
        return new

    def delete(self, eng, round_no: int) -> None:
        rng = np.random.default_rng([self.seed, 200 + round_no])
        live = np.setdiff1d(np.arange(self.corpus.n_docs), self.deleted)
        ids = np.sort(rng.choice(live, ROUND_DELETES, replace=False))

        def run():
            with self.tr.span("index.deletes.apply", jobs=True):
                eng.delete_docs(ids.tolist(), persist=True)

        _, dt = self.timed(run)
        self.probe_add("index.deletes.apply_s", dt)
        self.deleted = np.union1d(self.deleted, ids)

    # -- traced-run probes (outside every timed interval) --------------------

    def kernel_probe(self, eng, qd: dict, k: int) -> None:
        """Run the public WAND kernel closure in-process on the query's
        blocks (fetch untimed): its CPU time, and the exhaustive work
        (postings and blocks over the query's terms)."""
        from pyspark.sql import functions as F

        from pisa_spark.index.deletes import exclude_deleted
        from pisa_spark.query.bm25 import wand_kernel

        terms = list(dict.fromkeys(qd["terms"]))
        dfs = {r["term"]: int(r["df"]) for r in eng.term_stats(terms).collect()}
        term_dfs = {t: dfs.get(t, 0) for t in terms}
        qs = exclude_deleted([dict(qd)]) if self.deleted.size else [dict(qd)]
        fetch = sorted(set(terms) | set(qs[0].get("negated", [])))
        blocks = eng.postings.filter(F.col("term").isin(fetch)).toPandas()
        kernel = wand_kernel(qs, float(eng.stats["n_docs"]), float(eng.stats["avgdl"]), k, term_dfs)
        t0 = time.perf_counter()
        for _ in kernel(iter([blocks])):
            pass
        self.probe_add("query.bm25.kernel_cpu_ms", (time.perf_counter() - t0) * 1e3)
        self.probe_add("query.bm25.postings_per_query", sum(term_dfs.values()))
        self.probe_add("query.bm25.blocks_per_query", int(blocks["term"].isin(terms).sum()))

    def layer_probes(self, eng, cache: bool) -> None:
        """Per-layer measurements a workload's own flow does not take:
        tokenize and in-memory postings build, codec bytes, change
        detection, the other load mode, catalog stats, lineage waves."""
        from pyspark.sql import functions as F

        from pisa_spark.corpus import tokenize_documents
        from pisa_spark.index.build import build_postings
        from pisa_spark.index.lineage import LINEAGE_TABLE, build_index_resumable
        from pisa_spark.sources import catalog

        _, _, n_files, n_bytes = catalog.partition_file_stats(
            self.index_root, self.postings_table
        )
        self.probe_add("sources.catalog.files", n_files)
        self.probe_add("sources.catalog.bytes", n_bytes)
        self.probe_add(
            "sources.catalog.snapshots",
            len(catalog.snapshots(self.index_root, self.postings_table)),
        )
        lineage = catalog.read_table(self.spark, self.index_root, LINEAGE_TABLE).toPandas()
        lineage = lineage[lineage["status"] == "committed"]

        def build_rows(w0, w1):
            return lineage[(lineage["ts"] >= w0) & (lineage["ts"] <= w1)]

        waves = build_rows(*self.build_wall).groupby("wave")["wall_s"].sum()
        self.probe_add("index.lineage.waves", len(waves))
        wave_s = waves.tolist()
        for w0, w1, n_buckets in self.refresh_walls:
            rows = build_rows(w0, w1)
            wave_s.extend(rows.groupby("wave")["wall_s"].sum().tolist())
            self.probe_add("index.lineage.rebuilt_bucket_ratio", len(rows) / n_buckets)
        self.probe_add("index.lineage.wave_s_p50", statistics.median(wave_s))
        self.probe_add("index.lineage.wave_s_max", max(wave_s))

        t0 = time.perf_counter()
        with self.tr.span("index.lineage.detect", jobs=True):
            build_index_resumable(
                self.spark, self.corpus_dir, self.index_root,
                docs_per_bucket=DOCS_PER_BUCKET,
            )
        self.probe_add("index.lineage.detect_s", time.perf_counter() - t0)

        t0 = time.perf_counter()
        with self.tr.span("corpus.tokenize", jobs=True):
            toks = tokenize_documents(self.spark, self.corpus_dir).cache()
            toks.count()
        self.probe_add("corpus.tokenize_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.tr.span("index.build.postings", jobs=True):
            post = build_postings(
                toks, int(eng.stats["n_docs"]), float(eng.stats["avgdl"]),
                span=DOCS_PER_BUCKET,
            ).cache()
            blocks = post.count()
        dt = time.perf_counter() - t0
        self.probe_add("index.build.postings_s", dt)
        self.probe_add("index.build.blocks", blocks)
        self.probe_add("index.build.us_per_block", dt / blocks * 1e6)
        row = post.agg(
            F.sum("n").alias("postings"),
            (
                F.sum(F.octet_length("docs"))
                + F.sum(F.octet_length("tfs"))
                + F.sum(F.octet_length("dls"))
            ).alias("bytes"),
        ).collect()[0]
        self.probe_add("index.codec.bytes_per_posting", row["bytes"] / row["postings"])
        post.unpersist()
        toks.unpersist()

        other, _ = self.load(cache=not cache, account=False)
        if "index.deletes.apply_s" not in self.probe:
            ids = np.arange(0, self.corpus.n_docs, 97)[:ROUND_DELETES]
            t0 = time.perf_counter()
            with self.tr.span("index.deletes.apply", jobs=True):
                other.delete_docs(ids.tolist(), persist=False)
            self.probe_add("index.deletes.apply_s", time.perf_counter() - t0)
        other.postings.unpersist()


# -- workloads ----------------------------------------------------------------


def query_cycle(b: Bench, eng) -> None:
    for q in b.take_queries(CYCLE_SINGLES):
        b.single(eng, q)
    b.batch(eng, b.take_queries(BATCH))


def run_serve(b: Bench, seconds: float, mark_setup) -> None:
    """read path: cached index, single queries alternating with 64-query batches"""
    eng = b.base_build(cache=True)
    b.warm_up(eng)
    mark_setup()
    t0 = time.perf_counter()
    n_cycles = 0
    while n_cycles < MIN_CYCLES or time.perf_counter() - t0 < seconds:
        query_cycle(b, eng)
        n_cycles += 1
    eng = b.refresh(eng, cache=True, edits=False, round_no=0)
    for q in b.take_queries(POST_REFRESH_QUERIES):
        b.single(eng, q, timed=False)
    if b.tr.enabled:
        b.layer_probes(eng, cache=True)
    eng.postings.unpersist()


def run_churn(b: Bench, seconds: float, mark_setup) -> None:
    """writes beside reads: append/edit, incremental build, uncached reload, deletes"""
    eng = b.base_build(cache=False)
    b.warm_up(eng)
    mark_setup()
    t0 = time.perf_counter()
    round_no = 0
    while round_no == 0 or time.perf_counter() - t0 < seconds:
        round_no += 1
        eng = b.refresh(eng, cache=False, edits=True, round_no=round_no)
        b.delete(eng, round_no)
        for _ in range(ROUND_CYCLES):
            query_cycle(b, eng)
    if b.tr.enabled:
        b.layer_probes(eng, cache=False)
    eng.postings.unpersist()


RUNNERS = {"serve": run_serve, "churn": run_churn}


def end_to_end(b: Bench, setup_s: float, peak_rss: int) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (b.build_docs_per_s, "docs/s"),
        "index_bytes_per_input_byte": (b.index_bytes / b.index_text_bytes, "ratio"),
        "query_p50_ms": (percentile(b.lat_ms, 50), "ms"),
        "query_p90_ms": (percentile(b.lat_ms, 90), "ms"),
        "batch_qps": (statistics.median(b.batch_qps), "queries/s"),
        "refresh_s": (statistics.median(b.refresh_s), "s"),
        "ok_frac": (1.0 - b.failed / b.attempted, "ratio"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


PER_LAYER_UNITS = {
    "session.jobs_per_query": "count",
    "session.tasks_per_query": "count",
    "session.jobs_per_build": "count",
    "session.failed_tasks": "count",
    "corpus.tokenize_s": "s",
    "index.build.postings_s": "s",
    "index.build.blocks": "count",
    "index.build.us_per_block": "us",
    "index.codec.bytes_per_posting": "B",
    "index.lineage.waves": "count",
    "index.lineage.wave_s_p50": "s",
    "index.lineage.wave_s_max": "s",
    "index.lineage.detect_s": "s",
    "index.lineage.rebuilt_bucket_ratio": "ratio",
    "sources.catalog.load_cached_s": "s",
    "sources.catalog.load_uncached_s": "s",
    "sources.catalog.files": "count",
    "sources.catalog.bytes": "B",
    "sources.catalog.snapshots": "count",
    "engine.plan_ms": "ms",
    "engine.plan_jobs": "count",
    "query.bm25.exec_ms": "ms",
    "query.bm25.kernel_cpu_ms": "ms",
    "query.bm25.postings_per_query": "count",
    "query.bm25.blocks_per_query": "count",
    "index.deletes.apply_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

# per-op series reported as a mean (counts) rather than a median (times)
_MEAN_SERIES = {
    "session.jobs_per_query", "session.tasks_per_query", "engine.plan_jobs",
    "query.bm25.postings_per_query", "query.bm25.blocks_per_query",
    "index.lineage.rebuilt_bucket_ratio",
}


def per_layer(b: Bench) -> dict:
    p = b.probe
    build_span = b.tr.by_name("index.build.full")[0]
    values = {
        "session.jobs_per_build": build_span["jobs"],
        "session.failed_tasks": b.tr.failed_tasks,
        "trace.overhead_s": b.timed_overhead_s,
        "trace.overhead_frac": b.timed_overhead_s / max(b.timed_s - b.timed_overhead_s, 1e-9),
    }
    for name in PER_LAYER_UNITS:
        if name in values or name not in p:
            continue
        series = p[name]
        values[name] = (
            statistics.fmean(series) if name in _MEAN_SERIES else statistics.median(series)
        )
    missing = set(PER_LAYER_UNITS) - set(values)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {n: (float(values[n]), PER_LAYER_UNITS[n]) for n in PER_LAYER_UNITS}


def op_times(b: Bench) -> dict:
    """Times of the operations a traced and an untraced run of one seed
    both perform, for the tracing-overhead comparison."""
    return {
        "base_build_s": b.base_build_s,
        "refresh_s": statistics.median(b.refresh_s),
        "query_p50_ms": percentile(b.lat_ms, 50),
    }


def metric_lines(b: Bench, metrics: dict) -> list[str]:
    """One ``name = value unit`` line per metric, with the sample count
    of the medians and percentiles."""
    counts = {
        "query_p50_ms": f"{len(b.lat_ms)} single queries",
        "query_p90_ms": f"{len(b.lat_ms)} single queries",
        "batch_qps": f"{len(b.batch_qps)} batches",
        "refresh_s": f"{len(b.refresh_s)} refreshes",
    }
    return [
        f"  {name} = {v:.6g} {unit}" + (f"  ({counts[name]})" if name in counts else "")
        for name, (v, unit) in metrics.items()
    ]


def span_summary(tr: Tracer) -> str:
    lines = ["span self-times (name: count, total s, self s):"]
    for name, (n, tot, own) in sorted(tr.self_times().items()):
        lines.append(f"  {name}: {n}, {tot:.3f}, {own:.3f}")
    return "\n".join(lines)


def run(workload: str, spark, work_dir: str, out_dir: str, seed: int,
        seconds: float, trace: bool, t_start: float, rss) -> dict:
    """Run one workload and return the result object the benchmark
    prints: correct/attempted/failed and the metrics of the mode."""
    tr = Tracer(spark, trace)
    b = Bench(spark, work_dir, seed, tr)
    setup = {}
    RUNNERS[workload](
        b, seconds, lambda: setup.setdefault("s", time.perf_counter() - t_start)
    )
    props = b.input_properties()
    print("inputs:", json.dumps(props), flush=True)
    print(
        f"set-up: {setup['s']:.1f} s, of which warm-up {b.warm_up_s:.1f} s"
        f" and base build {b.base_build_s:.1f} s",
        flush=True,
    )
    print(
        f"samples: single queries {len(b.lat_ms)}, batches {len(b.batch_qps)},"
        f" refreshes {len(b.refresh_s)}",
        flush=True,
    )
    tag = f"{workload}-s{seed}"
    untraced_path = os.path.join(out_dir, f"untraced-{tag}.json")
    if trace:
        metrics = per_layer(b)
        tr.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
        print(span_summary(tr), flush=True)
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                ref = json.load(f)
            print(f"tracing overhead vs the untraced run of seed {seed}:", flush=True)
            for name, v in op_times(b).items():
                print(
                    f"  {name}: {v:.4g} traced, {ref[name]:.4g} untraced"
                    f" ({(v - ref[name]) / ref[name]:+.1%})",
                    flush=True,
                )
        else:
            print(
                f"tracing overhead: no untraced run of seed {seed} recorded;"
                " run --trace 0 with this seed first to compare",
                flush=True,
            )
    else:
        metrics = end_to_end(b, setup["s"], rss.peak)
        if not all(v > 0 for v, _ in metrics.values()):
            raise RuntimeError(f"a metric was not measured: {metrics}")
        with open(untraced_path, "w") as f:
            json.dump(op_times(b), f)
    print("\n".join(metric_lines(b, metrics)), flush=True)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
