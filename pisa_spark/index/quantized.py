"""Quantized impact index: 8-bit per-posting impacts, integer serving.

The classic impact-quantization design from the PISA literature (the
`pisa-engine` family's quantized indexes; Anh & Moffat's impact-sorted
lists): at BUILD time each posting's BM25 tf-saturation factor is
quantized to an 8-bit integer *impact*, so the serving index stores
(doc_id, impact) instead of (doc_id, tf, doc_len) —

* the payload is FIXED-WIDTH (1 byte/posting, no varint branching) and
  needs no doc_len at query time, so scoring is self-contained in two
  arrays;
* query-time scoring is pure int64 multiply-add: score_q =
  sum_t idf_q[t] * impact[t, d] with idf quantized to a 2^16 fixed
  point. Integer sums are associative, so the ranking is EXACTLY
  deterministic — no float summation-order ambiguity, and the DuckDB
  oracle twin reproduces every score bit-for-bit (the float BM25 path
  needs round(score, 4) in its gates; this path needs nothing).

Quantization contract (the twin-critical arithmetic — any change here
must change the gate SQL in __spark_entry__.py identically):

    impact = floor(255.0 * tf / (tf + (0.54 + 0.36 * dl / avgdl)))
    idf_q  = floor(ln((n_docs - df + 0.5) / (df + 0.5)) * 65536.0)
    score_q = sum over matched terms of impact * idf_q      (int64)

0.54 / 0.36 are k1*(1-b) and k1*b for the north rule's k1=0.9, b=0.4,
written as decimal literals so Spark codegen, numpy and DuckDB parse
the identical double. Every op in `impact` is an exactly-rounded IEEE
binary64 *, /, + over exact integer inputs, evaluated in the same
order on both engines, so the floor lands on the same side of every
cliff. BM25 monotonicity is preserved up to quantization error <=
1.9 * idf_t / 255 + 1.9/65536 per matched term.

Why impacts can drop df/avgdl dependence that build.py keeps: the
exact-BM25 blocks (build.py) stay df-free so an incremental index
never has to rewrite payloads; a quantized index bakes avgdl in by
DESIGN (that is what buys the 1-byte payload) and is rebuilt — or
re-quantized from the exact index's (tf, dl) payloads — when corpus
stats drift. Both layouts share the doc-range bucketing, so skew,
per-bucket serving and the global top-k merge are identical.

Scale shape: one (bucket, term) shuffle at build (same as
build_postings); serving is a term-pruned scan (PushedFilters on the
query's terms) -> per-bucket Arrow kernel -> <= n_buckets*|q|*k row
top-k window.

Reference parity: quantized scoring generalizes the reference's
integer-rank inference (exact top-k over precomputed score matrices,
/root/reference/src/Inference.py:233-240) to the inverted-index
setting; ids/ordering contracts match SURVEY T4/T17.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index import codec
from pisa_spark.index.build import BLOCK_SIZE, term_frequencies
from pisa_spark.query.bm25 import (
    _segmented_delta_decode,
    bucket_kernel,
    kernel_topk,
    term_at_a_time,
)
from pisa_spark.session import task_wave_partitions

IMPACT_SCALE = 255      # 8-bit impacts: floor(255*x) with x in [0, 1)
IDF_SCALE = 65536       # 2^16 fixed-point idf
# k1*(1-b) and k1*b for k1=0.9, b=0.4 — decimal literals shared
# verbatim with the oracle twin (module doc: the quantization contract)
_KB0 = 0.54
_KB1 = 0.36

QUANT_SCHEMA = (
    "bucket int, term string, block_idx int, first_doc long, max_doc long, "
    "n int, docs binary, imps binary"
)


def impact_expr(avgdl: float):
    """The build-time quantizer as a JVM column expression over
    (tf, doc_len) — whole-stage codegen, no Python in the hot path.
    Operand order mirrors the oracle twin token-for-token."""
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    return F.floor(
        F.lit(255.0) * tf / (tf + (F.lit(_KB0) + F.lit(_KB1) * dl / F.lit(float(avgdl))))
    ).cast("int")


def idf_quantized(df: int, n_docs: int) -> int:
    """floor(idf * 2^16) as a Python int (driver-side, per QUERY term
    only — never materialized for the full vocabulary). Negative for
    terms in more than ~half the corpus, like raw BM25 idf; integer
    scoring keeps that sign exactly."""
    return math.floor(
        math.log((n_docs - df + 0.5) / (df + 0.5)) * float(IDF_SCALE)
    )


def _encode_quant_groups(
    pdf_iter: Iterator[pd.DataFrame], block_size: int, dtype=np.uint8
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: rows (bucket, term, doc_id, imp) sorted by
    (bucket, term, doc_id) within the partition -> one row per
    <=block_size block; docs delta+varint, impacts raw fixed-width
    ints (uint8 for 8-bit BM25 impacts; the BM25F bridge passes uint32
    pseudo-tf units) — the fixed-width payload is the point of
    quantizing. Carry-over of the possibly-split tail group mirrors
    build._encode_groups."""
    cols = [c.split()[0] for c in QUANT_SCHEMA.split(", ")]

    def emit(out: dict, g: pd.DataFrame) -> None:
        bucket = int(g["bucket"].iloc[0])
        term = g["term"].iloc[0]
        g = g.sort_values("doc_id")
        doc_ids = g["doc_id"].to_numpy(np.int64)
        imps = g["imp"].to_numpy(np.int64)
        for bi in range(0, len(doc_ids), block_size):
            sl = slice(bi, bi + block_size)
            d = doc_ids[sl]
            i = imps[sl]
            out["bucket"].append(bucket)
            out["term"].append(term)
            out["block_idx"].append(bi // block_size)
            out["first_doc"].append(int(d[0]))
            out["max_doc"].append(int(d[-1]))
            out["n"].append(int(d.size))
            out["docs"].append(codec.delta_encode_docids(d))
            out["imps"].append(i.astype(dtype).tobytes())

    leftover: pd.DataFrame | None = None
    for pdf in pdf_iter:
        if pdf.empty:
            continue
        if leftover is not None:
            pdf = pd.concat([leftover, pdf], ignore_index=True)
            leftover = None
        last_b = pdf["bucket"].iloc[-1]
        last_t = pdf["term"].iloc[-1]
        tail_mask = (pdf["bucket"] == last_b) & (pdf["term"] == last_t)
        leftover = pdf[tail_mask]
        head = pdf[~tail_mask]
        if head.empty:
            continue
        out: dict[str, list] = {c: [] for c in cols}
        for _, g in head.groupby(["bucket", "term"], sort=False):
            emit(out, g)
        yield pd.DataFrame(out)
    if leftover is not None and not leftover.empty:
        out = {c: [] for c in cols}
        emit(out, leftover)
        yield pd.DataFrame(out)


def build_quantized_postings(
    tokens_df: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int = 32,
    max_doc_id: int | None = None,
    block_size: int = BLOCK_SIZE,
    span: int | None = None,
) -> DataFrame:
    """tokens (doc_id, tokens, doc_len) -> quantized posting blocks.

    Same single (bucket, term) shuffle as build_postings; the impact
    quantizer runs as a codegen expression BEFORE the shuffle, so the
    shuffle rows carry (bucket, term, doc_id, imp:int) — narrower than
    the exact path's (tf, doc_len) pair."""
    if max_doc_id is None:
        max_doc_id = n_docs
    if span is None:
        span = max(1, math.ceil((max_doc_id + 1) / n_buckets))
    tf = term_frequencies(tokens_df)
    rows = tf.select(
        "doc_id",
        "term",
        impact_expr(avgdl).alias("imp"),
        (F.col("doc_id") / F.lit(span)).cast("int").alias("bucket"),
    )
    n_part = task_wave_partitions(tokens_df.sparkSession)
    arranged = rows.repartition(n_part, "bucket", "term").sortWithinPartitions(
        "bucket", "term", "doc_id"
    )
    bs = int(block_size)
    return arranged.mapInPandas(
        lambda it: _encode_quant_groups(it, bs), schema=QUANT_SCHEMA
    )


def quantized_index_dataframes(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 32,
    block_size: int = BLOCK_SIZE,
) -> tuple[DataFrame, dict]:
    """documents.parquet -> (quantized postings, stats dict)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    stats_row = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    stats = {
        "n_docs": int(stats_row["n_docs"]),
        "avgdl": float(stats_row["avgdl"]),
    }
    postings = build_quantized_postings(
        toks,
        stats["n_docs"],
        stats["avgdl"],
        n_buckets=n_buckets,
        max_doc_id=int(stats_row["max_doc"]),
        block_size=block_size,
    )
    return postings, stats


def requantize_postings(postings: DataFrame, avgdl: float) -> DataFrame:
    """Exact-index blocks -> quantized blocks, 1:1 and SHUFFLE-FREE.

    Every exact block (build.py layout) already carries (tf, dl) per
    posting, which is all the quantizer needs, so the derivation is a
    narrow mapInPandas: docs payloads are copied verbatim, block
    structure/skip metadata survive unchanged, and partitioning is
    preserved — a bucket-co-located (pre_arranged) exact index yields a
    pre_arranged quantized index. Bit-identical to building with
    build_quantized_postings at the same (n_buckets, block_size): the
    quantizer arithmetic matches impact_expr op-for-op in IEEE binary64.

    This is the stats-drift answer the module doc promises: when avgdl
    moves enough to matter, re-derive the quantized twin from the
    still-valid exact index — one narrow pass, no re-tokenize, no
    shuffle."""
    a = float(avgdl)

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ns = pdf["n"].to_numpy(np.int64)
            tfs = codec.varint_decode(b"".join(pdf["tfs"])).astype(np.int64) + 1
            dls = codec.varint_decode(b"".join(pdf["dls"])).astype(np.int64)
            t = tfs.astype(np.float64)
            d = dls.astype(np.float64)
            imps = np.floor(
                255.0 * t / (t + (0.54 + 0.36 * d / a))
            ).astype(np.uint8)
            segs = np.split(imps, np.cumsum(ns)[:-1])
            yield pd.DataFrame(
                {
                    "bucket": pdf["bucket"].to_numpy(np.int32),
                    "term": pdf["term"],
                    "block_idx": pdf["block_idx"].to_numpy(np.int32),
                    "first_doc": pdf["first_doc"].to_numpy(np.int64),
                    "max_doc": pdf["max_doc"].to_numpy(np.int64),
                    "n": pdf["n"].to_numpy(np.int32),
                    "docs": pdf["docs"],
                    "imps": [s.tobytes() for s in segs],
                }
            )

    return postings.mapInPandas(kernel, schema=QUANT_SCHEMA)


def _decode_quant_blocks(
    g: pd.DataFrame, dtype=np.uint8
) -> tuple[np.ndarray, np.ndarray]:
    """All of a term's blocks in one varint pass (docs) + one
    frombuffer (the fixed-width payload: uint8 impacts, or the BM25F
    bridge's uint32 units) — block byte-strings concatenate
    losslessly."""
    ns = g["n"].to_numpy(np.int64)
    deltas = codec.varint_decode(b"".join(g["docs"])).astype(np.int64)
    docs = _segmented_delta_decode(deltas, ns)
    imps = np.frombuffer(b"".join(g["imps"]), dtype=dtype).astype(np.int64)
    return docs, imps


def _quant_block_docs(g: pd.DataFrame) -> np.ndarray:
    """Sorted unique doc ids of a term's quantized blocks — the
    docs-only decoder the exclusion/inclusion sets use (impacts never
    touched: negated/filter pseudo-terms are never scored)."""
    return np.unique(_decode_quant_blocks(g)[0])


def quantized_kernel(
    queries: list[dict],
    idf_q: dict[str, int],
    k: int,
):
    """Per-bucket integer top-k closure.

    Per term, decode the bucket's blocks ONCE for the whole batch;
    every query then accumulates the shared arrays (query/bm25.py
    term_at_a_time). AND keeps docs whose matched-term count equals
    the query's distinct-term count (each term contributes one posting
    per doc); '-term' exclusion (incl. the deletes layer's __deleted__
    pseudo-term) and attribute-filter inclusion use the docs-only
    decoder, so pseudo-term impacts are never read.

    The float64 accumulation is EXACT: every contribution is an
    integer with |imp * idf_q| < 2^8 * 2^21 = 2^29 (idf_q <=
    ln(2e12)*2^16), so a doc would need > 2^24 matched terms before any
    partial sum could leave the 2^53 exact-integer range — far beyond
    any query shape. The kernel shell's rint recovers the int64."""
    def score_term(t, blocks):
        docs, imps = _decode_quant_blocks(blocks)
        return docs, (imps * int(idf_q[t])).astype(np.float64)

    return bucket_kernel(
        term_at_a_time(queries, k, score_term, _quant_block_docs), "score_q"
    )


def _quantized_idf(
    term_dfs: dict[str, int], queries: list[dict], n_docs: int
) -> dict[str, int]:
    """idf_q of the queries' scored terms only — a caller may hand the
    full-vocabulary df dict (e.g. the bench shares one with the exact
    index)."""
    return {
        t: idf_quantized(term_dfs[t], n_docs)
        for t in {t for q in queries for t in q["terms"]}
        if t in term_dfs
    }


def quantized_topk(
    postings: DataFrame,
    queries: list[dict],
    n_docs: int,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """Top-k over the quantized index: (query_id, rank, doc_id,
    score_q:long). queries: [{query_id, terms, conjunctive}].

    Ranking is EXACT under the quantization contract — integer scores,
    ties broken doc_id ASC — so two runs (or two engines) can never
    disagree. df per term = sum(n) over its blocks, as in the exact
    path; idf_q is computed driver-side for the query's terms only.
    Negated / filter pseudo-terms ride the same pruned scan."""
    return kernel_topk(
        postings, queries, k, term_dfs, pre_arranged,
        lambda dfs: quantized_kernel(
            queries, _quantized_idf(dfs, queries, n_docs), k
        ),
        "score_q",
    )


QUANT_TABLE = "postings_quant"


def save_quantized_index(quant_postings: DataFrame, index_root: str) -> None:
    """Persist the quantized twin next to the exact index, bucket-
    partitioned through the same manifest catalog (atomic publish,
    snapshots/time travel/vacuum for free). Global stats are NOT
    duplicated — the twin is defined against the exact index's
    corpus_stats (the avgdl it was quantized under), so readers load
    one consistent (quant postings, stats) pair via load_quantized_index.

    At 10^12 docs this is what makes the derivation pay once: the
    requantize pass streams narrow and the write clusters by bucket,
    preserving the one-file-per-bucket serving layout contract."""
    from pisa_spark.sources import catalog

    catalog.write_table(
        quant_postings.repartition("bucket").sortWithinPartitions(
            "bucket", "term", "block_idx"
        ),
        index_root,
        QUANT_TABLE,
        partition_by=["bucket"],
    )


def load_quantized_index(
    spark: SparkSession, index_root: str, as_of_ts: float | None = None
) -> tuple[DataFrame, dict]:
    """(quant postings, stats) from the catalog; stats resolve from the
    exact index's corpus_stats table (same time-travel semantics as
    index.lineage.load_index)."""
    from pisa_spark.index.lineage import STATS_TABLE
    from pisa_spark.sources import catalog

    seq_q = seq_s = None
    if as_of_ts is not None:
        seq_q = catalog.snapshot_as_of_ts(index_root, QUANT_TABLE, as_of_ts)
        seq_s = catalog.snapshot_as_of_ts(index_root, STATS_TABLE, as_of_ts)
        if seq_q is None or seq_s is None:
            raise FileNotFoundError(
                f"no quantized snapshot at or before ts={as_of_ts}"
            )
    postings = catalog.read_table(spark, index_root, QUANT_TABLE, as_of=seq_q)
    srow = catalog.read_table(
        spark, index_root, STATS_TABLE, as_of=seq_s
    ).collect()[0]
    return postings, {
        "n_docs": int(srow["n_docs"]),
        "avgdl": float(srow["avgdl"]),
    }
