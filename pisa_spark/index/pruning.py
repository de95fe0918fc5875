"""Static index pruning (term-centric, Carmel et al., SIGIR'01).

Keep only each term's top-``keep_per_term`` postings by CONTRIBUTION
— the latency/size knob real engines ship for tiered serving: the
pruned tier answers most queries from a fraction of the bytes, the
full tier backstops. Selection rule (exactly replayable in SQL):

    rank = row_number() OVER (PARTITION BY term
                              ORDER BY imp·sign DESC, doc_id ASC) <= K
    imp  = floor(255·tf / (tf + k1·((1-b) + b·dl/avgdl)))    (int64)
    sign = +1 if df < n_docs/2 else -1       (the term's idf sign)

the same 8-bit quantizer as index/quantized.py — integer, so the cut
is exactly deterministic and the DuckDB twin lands on the same side of
every tie. The SIGN matters: a posting's BM25 contribution is
idf·tf_factor, and idf is negative for head terms (df > n/2), where
the HIGHEST-impact postings are the WORST contributors — plain
impact-DESC pruning would keep exactly the wrong tail (measured:
overlap@10 of 0.0 on an amplified head-term workload before the sign
was added). Ordering by imp·sign keeps each term's best contributors
regardless of idf sign.

Scale shape — the naive window above is a per-term SORT of the full
posting relation: for a head term at 10^12 docs that is one task
sorting 10^9 rows (the skew wall). The executed plan avoids it with
the classic histogram trick, exploiting the 8-bit impact domain:

1. decode blocks -> posting rows (narrow mapInPandas, no shuffle);
2. (term, imp) COUNTS — <=256 rows per term, map-side combined;
3. per-term threshold from the tiny histogram: thr = the impact level
   where the descending cumulative count first reaches K, and
   need = K - count(imp > thr) — plain SQL over vocab-sized data;
4. keep imp > thr bucket-locally (join on term, no sort);
   among imp == thr keep the ``need`` smallest doc_ids — a window
   over ONLY the single-impact-level tie set;
5. re-encode through the standard (bucket, term) build shuffle
   (build.py _encode_groups) — same block layout, same serving paths.

Steps 3-5 are provably equivalent to the row_number rule.

Serving semantics: pass the ORIGINAL per-term dfs (term_stats carries
them; bm25_topk_wand takes term_dfs=) and every surviving posting
scores EXACTLY its unpruned BM25 value — pruning only removes
worst-contribution candidates, it never perturbs survivors. Serving with the
pruned relation's own dfs instead would silently re-weight idf.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pisa_spark.index.build import BLOCK_SIZE, BM25_B, BM25_K1, _encode_groups
from pisa_spark.session import task_wave_partitions

ROWS_SCHEMA = "bucket int, term string, doc_id long, tf int, doc_len int"


def postings_rows(postings: DataFrame) -> DataFrame:
    """Decode posting blocks back to (bucket, term, doc_id, tf,
    doc_len) rows — narrow mapInPandas, three varint passes per batch,
    no shuffle."""
    from pisa_spark.query.bm25 import _decode_blocks_vectorized

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            docs, tfs, dls = _decode_blocks_vectorized(pdf)
            ns = pdf["n"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "bucket": np.repeat(
                        pdf["bucket"].to_numpy(np.int32), ns
                    ),
                    "term": np.repeat(pdf["term"].to_numpy(object), ns),
                    "doc_id": docs,
                    "tf": tfs.astype(np.int32),
                    "doc_len": dls.astype(np.int32),
                }
            )

    return postings.mapInPandas(kernel, schema=ROWS_SCHEMA)


def impact_col(avgdl: float):
    """The 8-bit quantizer, op-for-op the index/quantized.py (and its
    DuckDB twin's) expression — floor AFTER one fused float chain."""
    t = F.col("tf").cast("double")
    d = F.col("doc_len").cast("double")
    denom = t + (
        F.lit(BM25_K1 * (1.0 - BM25_B))
        + F.lit(BM25_K1 * BM25_B) * d / F.lit(float(avgdl))
    )
    return F.floor(F.lit(255.0) * t / denom).cast("long")


def prune_postings(
    postings: DataFrame,
    keep_per_term: int,
    avgdl: float,
    n_docs: int | None = None,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """Top-``keep_per_term``-CONTRIBUTION postings per term (imp·sign
    order — see module doc), re-encoded into the standard block layout
    (histogram threshold + bounded tie window, never a full per-term
    sort). ``n_docs`` resolves each term's idf sign; when omitted it is
    derived as the distinct-doc count of the relation (one extra
    agg)."""
    if keep_per_term < 1:
        raise ValueError("keep_per_term must be >= 1")
    if "poss" in postings.columns:
        raise ValueError(
            "prune_postings supports the non-positional layout; prune"
            " before building positions, or rebuild the pruned tier"
        )
    k = int(keep_per_term)
    rows = postings_rows(postings).withColumn("imp", impact_col(avgdl))
    if n_docs is None:
        n_docs = rows.select("doc_id").distinct().count()
    # per-term df -> idf sign; the ORDER key is imp*sign so "keep the
    # top" always means "keep the best contributors"
    dfs = rows.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sign = F.when(
        F.col("df") < F.lit(float(n_docs)) / 2, F.lit(1)
    ).otherwise(F.lit(-1)).cast("long")
    rows = rows.join(dfs.select("term", sign.alias("sign")), "term")
    rows = rows.withColumn("imp", F.col("imp") * F.col("sign"))
    hist = rows.groupBy("term", "imp").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("term").orderBy(F.col("imp").desc())
    cum = hist.withColumn("cum", F.sum("c").over(w))
    # threshold row: highest impact level where cumulative >= K; terms
    # with df <= K never reach K — keep everything (thr below min imp)
    thr = (
        cum.filter(F.col("cum") >= k)
        .groupBy("term")
        .agg(F.max("imp").alias("thr"))
    )
    thr = thr.join(
        cum.withColumnRenamed("imp", "thr"), ["term", "thr"]
    ).select(
        "term",
        "thr",
        # need = K - count(imp > thr) = K - (cum_at_thr - c_at_thr)
        (F.lit(k) - (F.col("cum") - F.col("c"))).alias("need"),
    )
    joined = rows.join(thr, "term", "left")
    keep_all = joined.filter(F.col("thr").isNull())  # df <= K terms
    keep_gt = joined.filter(F.col("imp") > F.col("thr"))
    ties = joined.filter(F.col("imp") == F.col("thr"))
    tw = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    keep_tie = ties.withColumn("r", F.row_number().over(tw)).filter(
        F.col("r") <= F.col("need")
    )
    cols = ["bucket", "term", "doc_id", "tf", "doc_len"]
    survivors = (
        keep_all.select(cols)
        .unionByName(keep_gt.select(cols))
        .unionByName(keep_tie.select(cols))
    )
    n_part = task_wave_partitions(postings.sparkSession)
    arranged = survivors.repartition(
        n_part, "bucket", "term"
    ).sortWithinPartitions("bucket", "term", "doc_id")
    bs = int(block_size)
    return arranged.mapInPandas(
        lambda it: _encode_groups(it, bs), schema=postings.schema
    )
