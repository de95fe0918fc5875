"""Quantized vs exact serving at ~10M docs (the stress scale point).

Same amplified corpus as stress_bench.py (sf0.1 x QUANT_REPLICAS),
8 taskset-pinned cores. Builds the exact posting blocks once, derives
the quantized twin via the shuffle-free requantization pass, then
times the 64-query batch on: float block-max WAND (the serving
default) and quantized exhaustive, plus payload sizes for both
layouts. Appends a manual section to BENCH.md.

Usage: [QUANT_REPLICAS=2048] python scripts/quant_stress.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def worker() -> None:
    from pyspark.sql import functions as F

    from pisa_spark.corpus import tokens_col
    from pisa_spark.index.build import build_postings
    from pisa_spark.index.quantized import quantized_topk, requantize_postings
    from pisa_spark.query.bm25 import bm25_topk_wand
    from pisa_spark.session import get_spark
    from scripts._scaling_worker import make_queries

    cores = int(os.environ.get("QUANT_CORES", "8"))
    replicas = int(os.environ.get("QUANT_REPLICAS", "2048"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(
        app_name="quant_stress", cores=cores, shuffle_partitions=2 * cores
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    amplified = (
        docs.crossJoin(reps)
        .select((F.col("doc_id") + F.col("rep") * max_doc).alias("doc_id"), "text")
        .repartition(cores * 4)
    )
    toks = amplified.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])

    n_part = max(spark.sparkContext.defaultParallelism, 8)
    n_buckets = max(32, n_docs // 100000)
    exact = build_postings(
        toks, n_docs, avgdl, n_buckets=n_buckets,
        max_doc_id=int(srow["max_doc"]),
    ).repartition(n_part, "bucket").cache()
    per_term = exact.groupBy("term").agg(
        F.sum("n").alias("df"),
        (F.sum(F.octet_length("docs")) + F.sum(F.octet_length("tfs"))
         + F.sum(F.octet_length("dls"))).alias("bytes"),
    ).collect()
    term_dfs = {r["term"]: int(r["df"]) for r in per_term}
    exact_bytes = sum(r["bytes"] for r in per_term)
    n_postings = sum(r["df"] for r in per_term)

    t0 = time.perf_counter()
    quant = requantize_postings(exact, avgdl).cache()
    quant_bytes = quant.agg(
        (F.sum(F.octet_length("docs")) + F.sum(F.octet_length("imps")))
        .alias("b")
    ).collect()[0]["b"]
    requant_s = time.perf_counter() - t0

    queries = make_queries(64)
    # warm both plan shapes
    warm = [{"query_id": -1, "terms": ["data"], "conjunctive": False}]
    bm25_topk_wand(
        exact, warm, n_docs, avgdl, k=10, term_dfs=term_dfs,
        pre_arranged=True,
    ).collect()
    quantized_topk(
        quant, warm, n_docs, k=10, term_dfs=term_dfs, pre_arranged=True
    ).collect()

    samples: dict[str, list] = {"wand": [], "quant": []}
    for _ in range(3):
        t0 = time.perf_counter()
        bm25_topk_wand(
            exact, queries, n_docs, avgdl, k=10, term_dfs=term_dfs,
            pre_arranged=True,
        ).collect()
        samples["wand"].append(round(time.perf_counter() - t0, 2))
        t0 = time.perf_counter()
        quantized_topk(
            quant, queries, n_docs, k=10, term_dfs=term_dfs,
            pre_arranged=True,
        ).collect()
        samples["quant"].append(round(time.perf_counter() - t0, 2))

    print(json.dumps({
        "cores": cores,
        "docs": n_docs,
        "postings": int(n_postings),
        "buckets": n_buckets,
        "requant_s": round(requant_s, 1),
        "exact_payload_bytes": int(exact_bytes),
        "quant_payload_bytes": int(quant_bytes),
        "samples": samples,
        "wand_s": min(samples["wand"]),
        "quant_s": min(samples["quant"]),
    }))
    spark.stop()


def main() -> None:
    cores = int(os.environ.get("QUANT_CORES", "8"))
    env = dict(os.environ, QUANT_WORKER="1")
    cmd = [sys.executable, os.path.abspath(__file__)]
    if os.environ.get("SCALING_TASKSET", "1") == "1":
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
    r = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps(r))

    md = f"""

## Quantized vs exact serving at ~10M docs

`QUANT_REPLICAS={os.environ.get("QUANT_REPLICAS", "2048")}
python scripts/quant_stress.py` — {r["docs"]:,} docs /
{r["postings"]:,} postings, {r["buckets"]} doc-range buckets,
{r["cores"]} taskset-pinned cores. Exact blocks built once; the
quantized twin derived by the shuffle-free requantization pass
(index/quantized.py), then the same 64-query batch on each path.

| metric | value |
|---|---|
| requantize wall (derive + cache 8-bit twin) | {r["requant_s"]} s |
| exact payload (docs+tfs+dls) | {r["exact_payload_bytes"]:,} bytes |
| quantized payload (docs+imps) | {r["quant_payload_bytes"]:,} bytes ({100 * r["quant_payload_bytes"] / r["exact_payload_bytes"]:.0f}% of exact) |
| batch64 float WAND (min of 3) | {r["wand_s"]} s ({round(64 / r["wand_s"], 1)} q/s; samples {r["samples"]["wand"]}) |
| batch64 quantized exhaustive (min of 3) | {r["quant_s"]} s ({round(64 / r["quant_s"], 1)} q/s; samples {r["samples"]["quant"]}) |

Quantized serving decodes 1-byte fixed-width impacts and scores with
int64 multiply-adds (no per-posting float BM25, no dls payload), and
its ranking is exactly deterministic — the trade is the documented
quantization error vs exact BM25 scores.
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(md)
    print("appended quantized stress section to BENCH.md")


if __name__ == "__main__":
    if os.environ.get("QUANT_WORKER") == "1":
        worker()
    else:
        main()
