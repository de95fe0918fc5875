"""Quantized BM25F: the integer fast path for fielded ranking.

The exact BM25F path (query/bm25f.py) serves off per-field exact
indexes — two decodes, a fielded union, and a pseudo-tf aggregate per
query. This module gives fielded ranking the same treatment the
quantized impact index gives BM25 (index/quantized.py): bake the
per-field arithmetic into ONE integer payload at build time and serve
with a pure int64 kernel.

Why a single combined table works: BM25F's only per-posting inputs are
per-field (tf_f, field_len_f), and its field weights / length
normalization / per-field averages are corpus-and-config constants —
exactly the kind of thing an impact index bakes in by design (the
avgdl argument of index/quantized.py). So the build collapses fields
right away:

    u_f    = floor(64.0 * w_f * tf_f / (1.0 - b_f + b_f * fl_f / avg_f))
    ptf_q  = sum_f u_f                    (uint32 payload, one row per
                                           (term, doc) with the term in
                                           ANY field)
    sat_q  = floor(65536.0 * ptf_q / (ptf_q + 57.6))
    idf_q  = floor(ln((N - df + 0.5) / (df + 0.5)) * 65536.0)
    score  = sum_t idf_q(t) * sat_q(t, d)  (int64, exactly associative)

57.6 is k1 * 64 (k1 = 0.9 in combined-pseudo-tf space, scaled by the
2^6 fixed point) written as a decimal literal shared verbatim with the
DuckDB twin; every float op is an exactly-rounded IEEE expression over
exact integer inputs evaluated in the same order on both engines, so
the floors land on the same side of every cliff (the quantized-BM25
contract discipline). sat_q is monotone in ptf_q, which preserves
BM25F's per-term ordering up to the 2^-6 pseudo-tf quantization.

Document-level df (docs containing the term in ANY field — the BM25F
pinning) is exactly this table's per-term posting count, so df comes
free from block metadata like the BM25 quant path.

Payload: 4 bytes/posting (uint32 units — u_f can reach 64 * w * fl, so
8/16-bit would need contract-visible clipping). Serving plan shape ==
quantized_topk: term-pruned scan -> per-bucket integer kernel ->
<= n_buckets*|q|*k rows to the global window.
Field params are frozen at build — a re-weighted ranking rebuilds the
table (one narrow pass), the same trade the avgdl bake-in makes.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pisa_spark.index import codec
from pisa_spark.index.quantized import (
    QUANT_SCHEMA,
    _encode_quant_groups,
    _quant_topk_window,
    _TOPK_SCHEMA,
    idf_quantized,
)
from pisa_spark.query.bm25f import BM25F_K1, FIELD_PARAMS, TITLE_LEN, fielded_tf
from pisa_spark.session import task_wave_partitions

PTF_SCALE = 64            # 2^6 fixed-point pseudo-tf units
SAT_SCALE = 65536         # 2^16 saturation fixed point
K1_UNITS = 57.6           # BM25F_K1 * PTF_SCALE, pinned decimal literal

assert abs(K1_UNITS - BM25F_K1 * PTF_SCALE) < 1e-12


def field_avg_lengths_exact(
    toks: DataFrame, title_len: int = TITLE_LEN
) -> dict[str, float]:
    """Per-field average lengths as ONE exactly-rounded division of
    exact integer sums (never F.avg — partial-mean association differs
    between engines, and the floor cliffs in the units expression need
    bit-identical averages on both sides of the oracle)."""
    row = toks.select(
        F.least(F.size("tokens"), F.lit(title_len)).alias("tl"),
        F.greatest(F.size("tokens") - title_len, F.lit(0)).alias("bl"),
    ).agg(
        F.sum("tl").cast("long"),
        F.sum("bl").cast("long"),
        F.count(F.lit(1)),
    ).collect()[0]
    n = int(row[2])
    return {"title": int(row[0]) / n, "body": int(row[1]) / n}


def build_bm25f_quantized(
    toks: DataFrame,
    n_buckets: int = 32,
    title_len: int = TITLE_LEN,
    field_params: dict[str, tuple[float, float]] | None = None,
    block_size: int = 128,
    max_doc_id: int | None = None,
    avg_field_lens: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, tokens) -> combined-unit posting blocks (QUANT_SCHEMA,
    uint32 payload). One (bucket, term) shuffle, codegen units math
    before it — the build_quantized_postings shape with the fielded
    collapse fused in."""
    field_params = field_params or FIELD_PARAMS
    if avg_field_lens is None:
        avg_field_lens = field_avg_lengths_exact(toks, title_len)
    if max_doc_id is None:
        max_doc_id = toks.agg(F.max("doc_id")).collect()[0][0]
    ftf = fielded_tf(toks.select("doc_id", "tokens"), title_len=title_len)
    uexpr = None
    for f, (w, b) in field_params.items():
        val = F.floor(
            F.lit(float(PTF_SCALE))
            * F.lit(float(w))
            * F.col("tf").cast("double")
            / (
                F.lit(1.0)
                - F.lit(float(b))
                + F.lit(float(b))
                * F.col("field_len").cast("double")
                / F.lit(float(avg_field_lens[f]))
            )
        ).cast("long")
        cond = F.col("field") == f
        uexpr = F.when(cond, val) if uexpr is None else uexpr.when(cond, val)
    uexpr = uexpr.otherwise(
        F.raise_error(
            F.concat(
                F.lit("build_bm25f_quantized: field not in field_params: "),
                F.col("field"),
            )
        ).cast("long")
    )
    units = (
        ftf.withColumn("u", uexpr)
        .groupBy("doc_id", "term")
        .agg(F.sum("u").cast("long").alias("imp"))
    )
    span = max(1, math.ceil((int(max_doc_id) + 1) / n_buckets))
    rows = units.select(
        "doc_id",
        "term",
        "imp",
        (F.col("doc_id") / F.lit(span)).cast("int").alias("bucket"),
    )
    n_part = task_wave_partitions(toks.sparkSession)
    arranged = rows.repartition(n_part, "bucket", "term").sortWithinPartitions(
        "bucket", "term", "doc_id"
    )
    bs = int(block_size)
    return arranged.mapInPandas(
        lambda it: _encode_quant_groups(it, bs, dtype=np.uint32),
        schema=QUANT_SCHEMA,
    )


def _decode_u32_blocks(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A term's kept blocks: one varint pass for docs, one frombuffer
    for the uint32 units."""
    from pisa_spark.query.bm25 import _segmented_delta_decode

    ns = g["n"].to_numpy(np.int64)
    deltas = codec.varint_decode(b"".join(g["docs"])).astype(np.int64)
    docs = _segmented_delta_decode(deltas, ns)
    units = np.frombuffer(b"".join(g["imps"]), dtype=np.uint32).astype(
        np.int64
    )
    return docs, units


def _sat(p: np.ndarray) -> np.ndarray:
    """floor(65536.0 * p / (p + 57.6)) over int64 pseudo-tf units —
    the single saturation of BM25F in 2^16 fixed point, token-for-token
    the oracle twin's expression."""
    pf = p.astype(np.float64)
    return np.floor(SAT_SCALE * pf / (pf + K1_UNITS)).astype(np.int64)


def bm25f_quant_kernel(
    queries: list[dict],
    idf_q: dict[str, int],
    k: int,
):
    """Per-bucket integer BM25F top-k closure — quantized_kernel's
    structure with the saturation transform in scoring; '-term'
    exclusion and attribute-filter inclusion compose via the shared
    docs-only decoders."""

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pisa_spark.index.quantized import _quant_block_docs
        from pisa_spark.query.bm25 import (
            _bucket_exclusion,
            _bucket_inclusion,
            _in_sorted,
        )

        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out = {"query_id": [], "doc_id": [], "score_q": []}
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            fx_cache: dict[str, np.ndarray] = {}
            decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for q in queries:
                terms = list(dict.fromkeys(q["terms"]))
                present = [t for t in terms if t in by_term]
                if not present or (
                    q["conjunctive"] and len(present) < len(terms)
                ):
                    continue
                doc_parts, contrib_parts = [], []
                for t in present:
                    if t not in decoded:
                        docs, units = _decode_u32_blocks(by_term[t])
                        decoded[t] = (docs, _sat(units) * int(idf_q[t]))
                    docs, contribs = decoded[t]
                    doc_parts.append(docs)
                    contrib_parts.append(contribs)
                docs_all = np.concatenate(doc_parts)
                contribs = np.concatenate(contrib_parts)
                uniq, inv = np.unique(docs_all, return_inverse=True)
                # float64 bincount is exact here: |idf_q * sat| <
                # 2^21 * 2^16 = 2^37, so > 2^16 matched terms would be
                # needed to leave the 2^53 exact-integer range
                sums = np.bincount(
                    inv, weights=contribs.astype(np.float64),
                    minlength=uniq.size,
                )
                scores = np.rint(sums).astype(np.int64)
                if q["conjunctive"]:
                    cnt = np.bincount(inv, minlength=uniq.size)
                    keep = cnt == len(terms)
                    uniq, scores = uniq[keep], scores[keep]
                    if uniq.size == 0:
                        continue
                include = _bucket_inclusion(
                    by_term, q.get("filter", []), fx_cache,
                    decode_docs=_quant_block_docs,
                )
                if include is not None:
                    alive = (
                        _in_sorted(include, uniq)
                        if include.size
                        else np.zeros(uniq.size, bool)
                    )
                    uniq, scores = uniq[alive], scores[alive]
                exclude = _bucket_exclusion(
                    by_term, q.get("negated", []), fx_cache,
                    decode_docs=_quant_block_docs,
                )
                if exclude is not None and exclude.size and uniq.size:
                    alive = ~_in_sorted(exclude, uniq)
                    uniq, scores = uniq[alive], scores[alive]
                if uniq.size == 0:
                    continue
                if uniq.size > k:
                    kth = np.partition(scores, uniq.size - k)[uniq.size - k]
                    m = scores >= kth
                    uniq, scores = uniq[m], scores[m]
                out["query_id"].extend([q["query_id"]] * uniq.size)
                out["doc_id"].extend(uniq.tolist())
                out["score_q"].extend(scores.tolist())
        if out["query_id"]:
            yield pd.DataFrame(
                {
                    "query_id": pd.array(out["query_id"], dtype="int32"),
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "score_q": pd.array(out["score_q"], dtype="int64"),
                }
            )

    return kernel


def bm25f_quantized_topk(
    postings: DataFrame,
    queries: list[dict],
    n_docs: int,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """Fielded integer top-k off the combined-units table: (query_id,
    rank, doc_id, score_q:long), ranking exactly deterministic. df per
    term = sum(n) over its blocks — the document-level df BM25F pins
    (one row per (term, doc) with the term in any field). Negation /
    filters compose; quoted phrases have no positional payload here."""
    from pisa_spark.query.bm25 import _arrange_pruned, _flat_filters

    all_terms = sorted({t for q in queries for t in q["terms"]})
    aux_terms = sorted(
        {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, sorted(set(all_terms) | set(aux_terms)), term_dfs,
        pre_arranged,
    )
    idf_q = {
        t: idf_quantized(term_dfs[t], n_docs)
        for t in all_terms
        if t in term_dfs
    }
    local = arranged.mapInPandas(
        bm25f_quant_kernel(queries, idf_q, k), schema=_TOPK_SCHEMA
    )
    return _quant_topk_window(local, k)
