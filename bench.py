"""Benchmark harness (driver contract).

Runs the headline pipeline at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {...},
"sf", plus throughput extras (docs_per_s, postings_per_s)}.

Scaling-efficiency evidence (N vs 4N cores) lives in
scripts/scaling_bench.py, which writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pisa_spark.index.build import build_index_dataframes  # noqa: E402
from pisa_spark.query.bm25 import bm25_topk_wand  # noqa: E402
from pisa_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    {"query_id": 0, "terms": ["data", "join"], "conjunctive": False},
    {"query_id": 1, "terms": ["the"], "conjunctive": False},
    {"query_id": 2, "terms": ["spark", "query", "scan"], "conjunctive": False},
    {"query_id": 3, "terms": ["window", "merge", "scan"], "conjunctive": True},
    {"query_id": 4, "terms": ["data", "table"], "conjunctive": True},
    {"query_id": 5, "terms": ["hash", "sort"], "conjunctive": False},
    {"query_id": 6, "terms": ["group", "filter", "row"], "conjunctive": True},
    {"query_id": 7, "terms": ["stream"], "conjunctive": False},
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="pisa_spark_bench")

    # warm the Python worker pool (fork + pandas/numpy import is a
    # once-per-JVM cost; a serving cluster runs warm)
    def _warm(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for b in it:
            yield b

    n_slots = spark.sparkContext.defaultParallelism
    spark.range(n_slots * 8, numPartitions=n_slots * 2).mapInPandas(
        _warm, schema="id long"
    ).count()
    # warm the JVM side too (codegen compiler, shuffle machinery) with a
    # generic job that never touches the benchmark input — first-query
    # compilation is a per-JVM cost a serving cluster pays once
    spark.range(10000).groupBy((F.col("id") % 7).alias("g")).agg(
        F.count(F.lit(1)), F.avg("id")
    ).collect()

    timings: dict[str, float] = {}
    t_all = time.perf_counter()

    # --- index build (docs/s headline) ---
    # build + arrange into the serving layout (bucket-co-located
    # partitions, the shape the catalog persists) + term-stats metadata
    # — all once, all inside build time; queries then run shuffle-free
    t0 = time.perf_counter()
    postings, _, _, stats = build_index_dataframes(spark, sf_dir, n_buckets=32)
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    postings = postings.repartition(n_part, "bucket").cache()
    # ONE job materializes the cache and yields both the per-term stats
    # (the df side table) and, summed driver-side, the global counters
    per_term = (
        postings.groupBy("term")
        .agg(
            F.sum("n").alias("df"),
            F.count(F.lit(1)).alias("blocks"),
            (
                F.sum(F.octet_length("docs"))
                + F.sum(F.octet_length("tfs"))
                + F.sum(F.octet_length("dls"))
            ).alias("payload_bytes"),
        )
        .collect()
    )
    term_dfs = {r["term"]: int(r["df"]) for r in per_term}
    agg = {
        "postings": sum(r["df"] for r in per_term),
        "blocks": sum(r["blocks"] for r in per_term),
        "payload_bytes": sum(r["payload_bytes"] for r in per_term),
    }
    t_build = time.perf_counter() - t0
    timings["index_build"] = round(t_build, 4)

    # warm the serving path once (un-timed, result discarded): the first
    # WAND query pays one-off plan codegen + kernel pickling, a per-JVM
    # cost a warm serving cluster has already paid — same rationale as
    # the JVM/Python warm-up above, applied to the query plan shape
    warm_terms = sorted(term_dfs, key=term_dfs.get, reverse=True)[:2]
    bm25_topk_wand(
        postings,
        [{"query_id": -1, "terms": warm_terms, "conjunctive": False}],
        stats["n_docs"], stats["avgdl"], k=10,
        term_dfs={t: term_dfs[t] for t in warm_terms}, pre_arranged=True,
    ).collect()

    # --- queries (each timed to a collected result) ---
    for q in BENCH_QUERIES:
        t0 = time.perf_counter()
        bm25_topk_wand(
            postings, [q], stats["n_docs"], stats["avgdl"], k=10,
            term_dfs=term_dfs, pre_arranged=True,
        ).collect()
        timings[f"q{q['query_id']}"] = round(time.perf_counter() - t0, 4)
    # batched: all queries in one pass (the serving-path shape)
    t0 = time.perf_counter()
    bm25_topk_wand(
        postings, BENCH_QUERIES, stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    timings["q_batch_all"] = round(time.perf_counter() - t0, 4)
    # 64-query throughput batch (union-masked shared decode per term)
    vocab = sorted(term_dfs, key=term_dfs.get, reverse=True)[:16]
    nv = len(vocab)
    big_batch = [
        {
            "query_id": 100 + i,
            "terms": [vocab[i % nv], vocab[(i * 7 + 3) % nv]]
            + ([vocab[(i * 5 + 11) % nv]] if i % 2 else []),
            "conjunctive": i % 4 == 3,
        }
        for i in range(64)
    ]
    t0 = time.perf_counter()
    bm25_topk_wand(
        postings, big_batch, stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    t_big = time.perf_counter() - t0
    timings["q_batch64"] = round(t_big, 4)

    # headline total stops here: round-over-round comparability of
    # "value" (the entries below are additive diagnostics, timed but
    # not counted into the suite total)
    total = time.perf_counter() - t_all

    # same 64-query batch through MaxScore (impact-ordered TAAT with
    # candidate freezing) — rank-identical by contract, timed here to
    # compare the two pruning strategies at bench scale
    from pisa_spark.query.bm25 import bm25_topk_maxscore

    t0 = time.perf_counter()
    bm25_topk_maxscore(
        postings, big_batch, stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    t_big_ms = time.perf_counter() - t0
    timings["q_batch64_maxscore"] = round(t_big_ms, 4)

    # quantized impact index: 8-bit impacts baked at build, integer
    # serving (index/quantized.py). Build timed separately; the same
    # 64-query batch measures the int64 multiply-add path against the
    # float WAND batch above. imps payload is fixed 1 byte/posting.
    from pisa_spark.index.quantized import (
        build_quantized_postings,
        quantized_topk,
    )

    t0 = time.perf_counter()
    docs_q = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pisa_spark.corpus import tokens_col

    toks_q = docs_q.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    q_postings = build_quantized_postings(
        toks_q, stats["n_docs"], stats["avgdl"], n_buckets=32,
        max_doc_id=int(stats["n_docs"]),
    ).repartition(n_part, "bucket").cache()
    quant_bytes = q_postings.agg(
        (F.sum(F.octet_length("docs")) + F.sum(F.octet_length("imps")))
        .alias("b")
    ).collect()[0]["b"]
    timings["index_build_quant"] = round(time.perf_counter() - t0, 4)
    quantized_topk(  # warm the plan shape (same rationale as WAND warm)
        q_postings, big_batch[:1], stats["n_docs"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    t0 = time.perf_counter()
    quantized_topk(
        q_postings, big_batch, stats["n_docs"], k=10, term_dfs=term_dfs,
        pre_arranged=True,
    ).collect()
    timings["q_batch64_quant"] = round(time.perf_counter() - t0, 4)

    # score-at-a-time anytime serving (query/saat.py): impact-ordered
    # segment twin derived from the quantized index, then the batch
    # under a finite postings budget (capped tail latency) and at
    # rho=None (exhaustive — rank-identical to q_batch64_quant)
    from pisa_spark.query.saat import impact_ordered_segments, saat_topk

    t0 = time.perf_counter()
    segments = impact_ordered_segments(
        q_postings, pre_arranged=True
    ).cache()
    segments.count()
    timings["index_build_saat"] = round(time.perf_counter() - t0, 4)
    saat_topk(  # warm the plan shape
        segments, big_batch[:1], stats["n_docs"], rho=None, k=10,
        pre_arranged=True,
    ).collect()
    t0 = time.perf_counter()
    saat_topk(
        segments, big_batch, stats["n_docs"], rho=2000, k=10,
        pre_arranged=True,
    ).collect()
    timings["q_batch64_saat_rho2k"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    saat_topk(
        segments, big_batch, stats["n_docs"], rho=None, k=10,
        pre_arranged=True,
    ).collect()
    timings["q_batch64_saat_full"] = round(time.perf_counter() - t0, 4)

    # quantized BM25F (fielded integer fast path, query/bm25f_quant.py):
    # field weights/normalization baked into uint32 units at build,
    # integer saturation + idf at serve
    from pisa_spark.query.bm25f_quant import (
        bm25f_quantized_topk,
        build_bm25f_quantized,
    )

    t0 = time.perf_counter()
    fq_postings = build_bm25f_quantized(
        toks_q.select("doc_id", "tokens"), n_buckets=32,
        max_doc_id=int(stats["n_docs"]),
    ).repartition(n_part, "bucket").cache()
    fq_postings.count()
    timings["index_build_bm25f_quant"] = round(time.perf_counter() - t0, 4)
    bm25f_quantized_topk(  # warm the plan shape (same rationale as WAND)
        fq_postings, big_batch[:1], stats["n_docs"], k=10,
        pre_arranged=True,
    ).collect()
    t0 = time.perf_counter()
    bm25f_quantized_topk(
        fq_postings, big_batch, stats["n_docs"], k=10, pre_arranged=True,
    ).collect()
    timings["q_batch64_bm25f_quant"] = round(time.perf_counter() - t0, 4)

    # alternative-scorer serving (QLD off the index): the bucket-local
    # pruned kernel path search_scored now uses (query/scored_kernel —
    # r4 verdict item #2); term (df, cf) stats precomputed like
    # term_dfs for the WAND singles (the engine caches them per
    # generation). q_scored_qld_rel keeps the old relational exhaustive
    # dataflow for comparison (decode -> join -> per-posting shuffle).
    from pisa_spark.query.scored_kernel import (
        scored_topk_pruned,
        term_stats_from_blocks,
    )
    from pisa_spark.query.scorers import postings_to_tf, scored_topk_dataframe

    or_queries = [q for q in BENCH_QUERIES if not q["conjunctive"]]
    qdf = spark.createDataFrame(
        [(q["query_id"], t) for q in or_queries for t in q["terms"]],
        "query_id int, term string",
    )
    qld_terms = sorted({t for q in or_queries for t in q["terms"]})
    qld_stats = term_stats_from_blocks(postings, qld_terms)
    t0 = time.perf_counter()
    scored_topk_pruned(
        postings, or_queries, stats["n_docs"], stats["avgdl"],
        float(stats["total_terms"]), scorer="qld", k=10,
        term_stats=qld_stats, pre_arranged=True,
    ).collect()
    timings["q_scored_qld"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    scored_topk_dataframe(
        postings_to_tf(postings.filter(F.col("term").isin(qld_terms))),
        qdf, stats["n_docs"], stats["avgdl"],
        float(stats["total_terms"]), scorer="qld", k=10,
    ).collect()
    timings["q_scored_qld_rel"] = round(time.perf_counter() - t0, 4)

    # NOT query through the WAND kernel (bucket-local exclusion)
    t0 = time.perf_counter()
    bm25_topk_wand(
        postings,
        [{"query_id": 90, "terms": ["data", "join"], "conjunctive": False,
          "negated": ["the"]}],
        stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    timings["q_negation"] = round(time.perf_counter() - t0, 4)

    # RM3 — headline = the facade path users call (WAND pass 1, pushed
    # doc fetch + driver-side RM1 over fb_docs texts, pruned pass 2)
    from pisa_spark.engine import SearchEngine

    eng = SearchEngine(spark, postings, stats, pre_arranged=True).with_corpus(
        sf_dir
    )
    t0 = time.perf_counter()
    eng.search_rm3("data join", k=10).collect()
    timings["q_rm3"] = round(time.perf_counter() - t0, 4)

    # RM3 relation path: one lazy plan, no driver round-trips — the
    # shape for offline batch expansion over the decoded tf relation
    from pisa_spark.query.feedback import rm3_topk

    t0 = time.perf_counter()
    rm3_topk(
        postings_to_tf(postings),
        spark.createDataFrame(
            [(91, "data"), (91, "join")], "query_id int, term string"
        ),
        stats["n_docs"], stats["avgdl"], k=10,
        # df from block METADATA (one row per posting block), not a
        # groupBy over the decoded relation — the serving-path contract
        df_df=postings.groupBy("term").agg(F.sum("n").alias("df")),
        # offline batch-expansion context: persist the decode the plan
        # traverses three times (see rm3_topk docstring)
        persist_tf=True,
    ).collect()
    timings["q_rm3_relation"] = round(time.perf_counter() - t0, 4)

    # LTR feature extraction off the index: must price like one BM25
    # query (features ride the scoring aggregate — PLANS.md §21)
    t0 = time.perf_counter()
    eng.extract_features(
        [{"query_id": 93, "terms": ["data", "join"]},
         {"query_id": 94, "terms": ["spark", "query", "scan"]}],
        k=10,
    ).collect()
    timings["q_ltr_extract"] = round(time.perf_counter() - t0, 4)

    # faceted search: top-50 + lang/source facet counts
    from pisa_spark.query.facets import facet_counts

    t0 = time.perf_counter()
    facet_counts(
        bm25_topk_wand(
            postings,
            [{"query_id": 92, "terms": ["data", "join"],
              "conjunctive": False}],
            stats["n_docs"], stats["avgdl"], k=50, pre_arranged=True,
        ),
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        ["lang", "source"],
    ).collect()
    timings["q_facets"] = round(time.perf_counter() - t0, 4)

    # positional build + phrase query: the with_positions=True cost and
    # the poss payload size (one varint per token occurrence)
    from pisa_spark.query.bm25 import bm25_phrase_topk

    t0 = time.perf_counter()
    pos_postings, _, _, pos_stats = build_index_dataframes(
        spark, sf_dir, n_buckets=32, with_positions=True
    )
    pos_postings = pos_postings.repartition(n_part, "bucket").cache()
    pos_agg = pos_postings.agg(
        (
            F.sum(F.octet_length("docs")) + F.sum(F.octet_length("tfs"))
            + F.sum(F.octet_length("dls"))
        ).alias("base_bytes"),
        F.sum(F.octet_length("poss")).alias("poss_bytes"),
    ).collect()[0]
    t_pos_build = time.perf_counter() - t0
    timings["index_build_positional"] = round(t_pos_build, 4)
    t0 = time.perf_counter()
    bm25_phrase_topk(
        pos_postings,
        [{"query_id": 0, "terms": ["of", "the"]}],
        pos_stats["n_docs"], pos_stats["avgdl"], k=10, pre_arranged=True,
    ).collect()
    timings["phrase_of_the"] = round(time.perf_counter() - t0, 4)

    # proximity and mixed queries over the same positional index
    from pisa_spark.query.bm25 import bm25_mixed_topk, bm25_near_topk

    t0 = time.perf_counter()
    bm25_near_topk(
        pos_postings,
        [{"query_id": 93, "terms": ["of", "the"], "window": 6}],
        pos_stats["n_docs"], pos_stats["avgdl"], k=10, pre_arranged=True,
    ).collect()
    timings["q_near"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    bm25_mixed_topk(
        pos_postings,
        [{"query_id": 94, "terms": ["of", "the"],
          "extra_terms": ["data"]}],
        pos_stats["n_docs"], pos_stats["avgdl"], k=10, pre_arranged=True,
    ).collect()
    timings["q_mixed"] = round(time.perf_counter() - t0, 4)

    # SDM over the same positional index — cost includes the
    # collection window-stats pass (the uncached per-query price)
    from pisa_spark.query.sdm import sdm_topk

    t0 = time.perf_counter()
    sdm_topk(
        pos_postings,
        [{"query_id": 96, "terms": ["data", "join", "scan"]}],
        float(pos_stats["total_terms"]), k=10,
    ).collect()
    timings["q_sdm"] = round(time.perf_counter() - t0, 4)
    # round-4 late families: boolean CNF, tombstone deletes, deep
    # pagination, MMR diversification — all over the main exact index
    t0 = time.perf_counter()
    bm25_topk_wand(
        postings,
        [{"query_id": 95, "terms": ["data", "join", "scan", "spark"],
          "conjunctive": False,
          "filter": [["data", "join"], ["spark", "scan"]]}],
        stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    timings["q_boolean"] = round(time.perf_counter() - t0, 4)

    from pisa_spark.index.deletes import (
        exclude_deleted,
        tombstone_postings,
        with_tombstones,
    )

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mx = docs_tbl.agg(F.max("doc_id")).collect()[0][0]
    span = max(1, -(-(int(mx) + 1) // 32))
    t0 = time.perf_counter()
    tomb = tombstone_postings(
        docs_tbl.filter(F.col("doc_id") % 100 == 7).select("doc_id"),
        stats["n_docs"], stats["avgdl"], span,
    )
    del_postings = (
        with_tombstones(postings, tomb).repartition(n_part, "bucket").cache()
    )
    del_postings.count()
    timings["tombstone_apply"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    bm25_topk_wand(
        del_postings, exclude_deleted([BENCH_QUERIES[0]]),
        stats["n_docs"], stats["avgdl"], k=10,
        term_dfs=term_dfs, pre_arranged=True,
    ).collect()
    timings["q_deleted"] = round(time.perf_counter() - t0, 4)
    del_postings.unpersist()

    t0 = time.perf_counter()
    bm25_topk_wand(
        postings, [BENCH_QUERIES[0]], stats["n_docs"], stats["avgdl"],
        k=20, term_dfs=term_dfs, pre_arranged=True,
    ).filter(F.col("rank") > 10).collect()
    timings["q_page2"] = round(time.perf_counter() - t0, 4)

    from pisa_spark.query.diversify import candidate_tokens, mmr_rerank

    cand = bm25_topk_wand(
        postings, [BENCH_QUERIES[0]], stats["n_docs"], stats["avgdl"],
        k=20, term_dfs=term_dfs, pre_arranged=True,
    )
    ctoks = candidate_tokens(docs_tbl)
    mmr_rerank(cand, ctoks, k=10).collect()  # warm the kernel shape
    t0 = time.perf_counter()
    mmr_rerank(cand, ctoks, k=10).collect()
    timings["q_mmr"] = round(time.perf_counter() - t0, 4)

    # p50/p95 over the headline single queries only (q0..q7), so the
    # percentiles stay comparable round over round as diagnostics grow
    lat = sorted(
        v for k, v in timings.items()
        if k.startswith("q") and k[1:].isdigit()
    )
    p50 = lat[len(lat) // 2]
    p95 = lat[min(len(lat) - 1, int(len(lat) * 0.95))]
    out = {
        "metric": "index_build_plus_bm25_topk_suite",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "docs": int(stats["n_docs"]),
        "docs_per_s": round(stats["n_docs"] / t_build, 2),
        "postings": int(agg["postings"]),
        "postings_per_s": round(agg["postings"] / t_build, 2),
        "payload_bytes": int(agg["payload_bytes"]),
        "latency_p50_s": p50,
        "latency_p95_s": p95,
        "batch64_queries_per_s": round(64 / t_big, 2),
        "quant_payload_bytes": int(quant_bytes),
        "positional_payload_bytes": int(
            pos_agg["base_bytes"] + pos_agg["poss_bytes"]
        ),
        "poss_bytes": int(pos_agg["poss_bytes"]),
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
